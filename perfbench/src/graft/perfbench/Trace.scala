package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** One timed call. `count` > 1 marks an aggregated span: the per-row SPI
  * calls (get/put/remove) of one store instance are folded into one span
  * per call kind when the instance finishes, so a run with millions of
  * gets keeps a bounded span list. `parent` names the micro-batch span
  * (`batch-<id>`) or the stage a task belongs to. */
final case class Span(
    layer: String, name: String, startMs: Long, durNs: Long,
    parent: String, store: String, version: Long, count: Long,
    bytes: Long, rows: Long, taskThread: Boolean)

/** In-memory span sink for one traced phase; written out at run end. */
object Spans {
  val all = new ConcurrentLinkedQueue[Span]()
  /** Id of the micro-batch span a state call at `version` belongs to: a
    * store loaded at version v serves batch v. */
  def batchId(version: Long): String = if (version < 0) "" else s"batch-$version"
  /** last `metrics` each store instance handed the engine, keyed by store id */
  val lastMetrics = new java.util.concurrent.ConcurrentHashMap[String, StateStoreMetrics]()
  def clear(): Unit = { all.clear(); lastMetrics.clear() }
  def add(s: Span): Unit = all.add(s)
  def snapshot: Seq[Span] = all.asScala.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.asScala.foreach { s =>
      w.write(Json.render(Seq(
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "dur_ms" -> s.durNs / 1e6, "parent" -> s.parent, "store" -> s.store,
        "version" -> s.version, "count" -> s.count, "bytes" -> s.bytes,
        "rows" -> s.rows)))
      w.newLine()
    } finally w.close()
  }
}

/** Delegating provider: every SPI call into the graft RocksDB provider is
  * timed from outside and recorded as a span. Set it through
  * `spark.sql.streaming.stateStore.providerClass`; it changes no result. */
class TracingStateStoreProvider extends StateStoreProvider {
  private val inner: StateStoreProvider = new graft.state.RocksDbStateStoreProvider
  @volatile private var storeTag = ""

  private def timed[A](name: String, version: Long)(body: => A): A = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body finally Spans.add(Span("state", name, ms, System.nanoTime() - t0,
      Spans.batchId(version), storeTag, version, 1, 0, 0, taskThread = name != "maintenance"))
  }

  override def init(id: StateStoreId, keySchema: StructType, valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec, useColumnFamilies: Boolean,
      storeConfs: StateStoreConf, hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean, stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    storeTag = s"${id.operatorId}/${id.partitionId}/${id.storeName}"
    timed("init", -1L)(inner.init(id, keySchema, valueSchema, keyStateEncoderSpec,
      useColumnFamilies, storeConfs, hadoopConf, useMultipleValuesPerKey, stateSchemaProvider))
  }
  override def stateStoreId: StateStoreId = inner.stateStoreId
  override def close(): Unit = timed("close", -1L)(inner.close())
  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    new TracedStore(timed("load", version)(inner.getStore(version, uniqueId)), version, storeTag,
      new RowCalls(version, storeTag))
  override def getReadStore(version: Long, uniqueId: Option[String]): ReadStateStore =
    new TracedReadStore(timed("load", version)(inner.getReadStore(version, uniqueId)), version, storeTag,
      new RowCalls(version, storeTag))
  override def upgradeReadStoreToWriteStore(rs: ReadStateStore, version: Long,
      uniqueId: Option[String]): StateStore = {
    // the read store keeps serving gets after the upgrade (restore and save
    // run pipelined in one task), so both wrappers share one counter set
    val (raw, calls) = rs match {
      case t: TracedReadStore => (t.inner, t.calls)
      case o => (o, new RowCalls(version, storeTag))
    }
    new TracedStore(timed("upgrade", version)(inner.upgradeReadStoreToWriteStore(raw, version, uniqueId)),
      version, storeTag, calls)
  }
  override def doMaintenance(): Unit = timed("maintenance", -1L)(inner.doMaintenance())
  override def supportedCustomMetrics: Seq[StateStoreCustomMetric] = inner.supportedCustomMetrics
  override def supportedInstanceMetrics: Seq[StateStoreInstanceMetric] = inner.supportedInstanceMetrics
}

/** Per-instance counters for the row-level calls, flushed as spans once. */
private[perfbench] final class RowCalls(version: Long, store: String) {
  val getN = new AtomicLong; val getNs = new AtomicLong; val getHit = new AtomicLong
  val putN = new AtomicLong; val putNs = new AtomicLong; val putBytes = new AtomicLong
  val remN = new AtomicLong; val remNs = new AtomicLong
  @volatile private var flushed = false
  def flush(): Unit = if (!flushed) {
    flushed = true
    val parent = Spans.batchId(version)
    val now = System.currentTimeMillis()
    if (getN.get > 0) Spans.add(Span("state", "get", now, getNs.get, parent, store, version,
      getN.get, 0, getHit.get, taskThread = true))
    if (putN.get > 0) Spans.add(Span("state", "put", now, putNs.get, parent, store, version,
      putN.get, putBytes.get, 0, taskThread = true))
    if (remN.get > 0) Spans.add(Span("state", "remove", now, remNs.get, parent, store, version,
      remN.get, 0, 0, taskThread = true))
  }
}

/** Iterator wrapper: one `scan` span per iterator, rows and time summed. */
private[perfbench] object ScanTrace {
  def wrap(it: StateStoreIterator[UnsafeRowPair], version: Long, store: String): StateStoreIterator[UnsafeRowPair] = {
    val startMs = System.currentTimeMillis()
    var ns = 0L; var rows = 0L; var done = false
    def finish(): Unit = if (!done) {
      done = true
      Spans.add(Span("state", "scan", startMs, ns, Spans.batchId(version), store,
        version, 1, 0, rows, taskThread = true))
    }
    val traced = new Iterator[UnsafeRowPair] {
      override def hasNext: Boolean = {
        val t0 = System.nanoTime(); val h = it.hasNext; ns += System.nanoTime() - t0
        if (!h) finish()
        h
      }
      override def next(): UnsafeRowPair = {
        val t0 = System.nanoTime(); val r = it.next(); ns += System.nanoTime() - t0
        rows += 1; r
      }
    }
    new StateStoreIterator(traced, () => { finish(); it.close() })
  }
}

class TracedReadStore(val inner: ReadStateStore, ver: Long, store: String,
    private[perfbench] val calls: RowCalls) extends ReadStateStore {
  protected def timedSpan[A](name: String)(body: => A): A = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body finally Spans.add(Span("state", name, ms, System.nanoTime() - t0,
      Spans.batchId(ver), store, ver, 1, 0, 0, taskThread = true))
  }
  override def id: StateStoreId = inner.id
  override def version: Long = inner.version
  override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
    val t0 = System.nanoTime(); val v = inner.get(key, colFamilyName)
    calls.getNs.addAndGet(System.nanoTime() - t0); calls.getN.incrementAndGet()
    if (v != null) calls.getHit.incrementAndGet()
    v
  }
  override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] = {
    val t0 = System.nanoTime(); val v = inner.valuesIterator(key, colFamilyName)
    calls.getNs.addAndGet(System.nanoTime() - t0); calls.getN.incrementAndGet()
    if (v.hasNext) calls.getHit.incrementAndGet()
    v
  }
  override def prefixScan(prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
    ScanTrace.wrap(inner.prefixScan(prefixKey, colFamilyName), ver, store)
  override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
    ScanTrace.wrap(inner.iterator(colFamilyName), ver, store)
  override def abort(): Unit = { calls.flush(); timedSpan("abort")(inner.abort()) }
  override def release(): Unit = { calls.flush(); timedSpan("release")(inner.release()) }
}

class TracedStore(override val inner: StateStore, ver: Long, store: String, rowCalls: RowCalls)
    extends TracedReadStore(inner, ver, store, rowCalls) with StateStore {
  private def rowBytes(r: UnsafeRow): Long = if (r == null) 0L else r.getSizeInBytes.toLong
  override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
    val t0 = System.nanoTime(); inner.put(key, value, colFamilyName)
    calls.putNs.addAndGet(System.nanoTime() - t0); calls.putN.incrementAndGet()
    calls.putBytes.addAndGet(rowBytes(key) + rowBytes(value))
  }
  override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = {
    val t0 = System.nanoTime(); inner.putList(key, values, colFamilyName)
    calls.putNs.addAndGet(System.nanoTime() - t0); calls.putN.incrementAndGet()
    calls.putBytes.addAndGet(rowBytes(key) + values.map(rowBytes).sum)
  }
  override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
    val t0 = System.nanoTime(); inner.merge(key, value, colFamilyName)
    calls.putNs.addAndGet(System.nanoTime() - t0); calls.putN.incrementAndGet()
    calls.putBytes.addAndGet(rowBytes(key) + rowBytes(value))
  }
  override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = {
    val t0 = System.nanoTime(); inner.mergeList(key, values, colFamilyName)
    calls.putNs.addAndGet(System.nanoTime() - t0); calls.putN.incrementAndGet()
    calls.putBytes.addAndGet(rowBytes(key) + values.map(rowBytes).sum)
  }
  override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
    val t0 = System.nanoTime(); inner.remove(key, colFamilyName)
    calls.remNs.addAndGet(System.nanoTime() - t0); calls.remN.incrementAndGet()
  }
  override def createColFamilyIfAbsent(colFamilyName: String, keySchema: StructType,
      valueSchema: StructType, keyStateEncoderSpec: KeyStateEncoderSpec,
      useMultipleValuesPerKey: Boolean, isInternal: Boolean): Unit =
    inner.createColFamilyIfAbsent(colFamilyName, keySchema, valueSchema,
      keyStateEncoderSpec, useMultipleValuesPerKey, isInternal)
  override def removeColFamilyIfExists(colFamilyName: String): Boolean =
    inner.removeColFamilyIfExists(colFamilyName)
  override def commit(): Long = { calls.flush(); timedSpan("commit")(inner.commit()) }
  override def abort(): Unit = { calls.flush(); timedSpan("abort")(inner.abort()) }
  override def release(): Unit = { calls.flush(); timedSpan("release")(inner.release()) }
  override def metrics: StateStoreMetrics = {
    val m = inner.metrics
    Spans.lastMetrics.put(store, m)
    m
  }
  override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo = inner.getStateStoreCheckpointInfo()
  override def hasCommitted: Boolean = inner.hasCommitted
}

/** One span per executed micro-batch, its `durationMs` phases as children. */
class BatchSpanListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    if (d.contains("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val id = Spans.batchId(p.batchId)
      Spans.add(Span("microbatch", id, start, d("triggerExecution") * 1000000L, "", "",
        p.batchId, 1, 0, p.numInputRows, taskThread = false))
      d.foreach { case (k, v) => if (k != "triggerExecution")
        Spans.add(Span("microbatch", k, start, v * 1000000L, id, "", p.batchId, 1, 0, 0, taskThread = false))
      }
    }
  }
}

/** Job, stage and task spans from the scheduler's listener bus. */
class TaskSpanListener extends SparkListener {
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val stageMaxTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Spans.add(Span("tasks", "job", e.time, 0, "", "", e.jobId, 1, 0, 0, taskThread = false))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId, System.currentTimeMillis())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val start = si.submissionTime.getOrElse(stageSubmit.getOrDefault(si.stageId, 0L).longValue())
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    val longest = Option(stageMaxTaskMs.get(si.stageId)).map(_.longValue()).getOrElse(0L)
    Spans.add(Span("tasks", "stage", start, (end - start) * 1000000L, "", "", si.stageId,
      1, 0, longest, taskThread = false))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo; val m = e.taskMetrics
    if (m != null) {
      val dur = i.finishTime - i.launchTime
      stageMaxTaskMs.merge(e.stageId, dur, (a, b) => math.max(a.longValue(), b.longValue()))
      Spans.add(Span("tasks", "task", i.launchTime, dur * 1000000L, s"stage-${e.stageId}", "",
        e.stageId, 1, m.shuffleWriteMetrics.bytesWritten, m.executorRunTime, taskThread = false))
      Spans.add(Span("tasks", "task.cpu", i.launchTime, m.executorCpuTime, s"stage-${e.stageId}", "",
        e.stageId, 1, m.shuffleReadMetrics.totalBytesRead, m.jvmGCTime, taskThread = false))
      if (m.memoryBytesSpilled + m.diskBytesSpilled > 0)
        Spans.add(Span("tasks", "spill", i.launchTime, 0, s"stage-${e.stageId}", "", e.stageId, 1,
          m.memoryBytesSpilled + m.diskBytesSpilled, 0, taskThread = false))
    }
  }
}

/** Folds a phase's spans (plus the queries' own progress) into the named
  * per-layer metrics. Every name is always present; a layer that does no
  * work on a workload reports 0. */
object LayerMetrics {
  import Workloads.pct

  def fold(spans: Seq[Span], progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      wallMs: Double, cores: Int, ckptDir: Option[java.io.File], recoverBatch: Option[Long],
      operators: Seq[(String, Double, Double, Long)]): Seq[(String, Double)] = {
    val st = spans.filter(_.layer == "state")
    def of(n: String) = st.filter(_.name == n)
    def ms(xs: Seq[Span]) = xs.map(_.durNs).sum / 1e6
    def calls(xs: Seq[Span]) = xs.map(_.count).sum.toDouble
    val gets = of("get"); val puts = of("put"); val loads = of("load")
    val commits = of("commit"); val scans = of("scan"); val rems = of("remove")
    val maint = of("maintenance")
    val m = Spans.lastMetrics.asScala.values.toSeq
    def custom(name: String): Double =
      m.map(_.customMetrics.collect { case (k, v) if k.name == name => v }.sum).sum.toDouble
    val putBytes = puts.map(_.bytes).sum.toDouble
    val uploaded = custom("snapshotBytesUploaded")
    val rowsTotal = m.map(_.numKeys).sum.toDouble
    val (ckptBytes, ckptFiles) = ckptDir.map(dirSize).getOrElse((0L, 0L))
    val changelog = progress.flatMap(_.stateOperators).map(o =>
      Option(o.customMetrics.get("changelogRecords")).map(_.longValue()).getOrElse(0L)).sum.toDouble
    val selfMs = ms(st.filter(_.taskThread))
    val executed = progress.filter(_.durationMs.containsKey("addBatch"))
    def phase(k: String) = executed.map(p => Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).sum.toDouble
    val named = Seq("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets", "getBatch")
    val ops = executed.flatMap(_.stateOperators)
    val tasks = spans.filter(s => s.layer == "tasks" && s.name == "task")
    val cpu = spans.filter(s => s.layer == "tasks" && s.name == "task.cpu")
    val stages = spans.filter(s => s.layer == "tasks" && s.name == "stage")
    val runMs = tasks.map(_.rows).sum.toDouble
    val recoverMs = recoverBatch.map(b => ms(loads.filter(_.version == b))).getOrElse(0.0)
    val state = Seq(
      "state.get.calls" -> calls(gets), "state.get.ms" -> ms(gets),
      "state.get.hit_ratio" -> (if (calls(gets) > 0) gets.map(_.rows).sum / calls(gets) else 0.0),
      "state.put.calls" -> calls(puts), "state.put.ms" -> ms(puts), "state.put.bytes" -> putBytes,
      "state.load.calls" -> calls(loads), "state.load.ms" -> ms(loads),
      "state.load.ms_p50" -> pct(loads.map(_.durNs / 1e6), 0.5),
      "state.recover_load.ms" -> recoverMs,
      "state.commit.calls" -> calls(commits), "state.commit.ms" -> ms(commits),
      "state.commit.ms_p50" -> pct(commits.map(_.durNs / 1e6), 0.5),
      "state.commit.ms_max" -> (if (commits.isEmpty) 0.0 else commits.map(_.durNs / 1e6).max),
      "state.remove.calls" -> calls(rems), "state.remove.ms" -> ms(rems),
      "state.scan.calls" -> calls(scans), "state.scan.rows" -> scans.map(_.rows).sum.toDouble,
      "state.scan.ms" -> ms(scans),
      "state.maintenance.calls" -> calls(maint), "state.maintenance.ms" -> ms(maint),
      "state.rows_total" -> rowsTotal,
      "state.memory_bytes" -> m.map(_.memoryUsedBytes).sum.toDouble,
      "state.memtable_bytes" -> custom("rocksdbMemtableSize"),
      "state.sst_bytes" -> custom("rocksdbSstFilesSize"),
      "state.changelog_records" -> changelog,
      "state.snapshot_bytes_uploaded" -> uploaded,
      "state.snapshot_bytes_deduped" -> custom("snapshotBytesDeduped"),
      "state.ckpt_bytes" -> ckptBytes.toDouble, "state.ckpt_files" -> ckptFiles.toDouble,
      "state.upload_bytes_per_put_byte" -> (if (putBytes > 0) uploaded / putBytes else 0.0),
      "state.ckpt_bytes_per_row" -> (if (rowsTotal > 0) ckptBytes / rowsTotal else 0.0),
      "state.self_ms" -> selfMs)
    val trig = phase("triggerExecution")
    val micro = Seq(
      "microbatch.batches" -> executed.size.toDouble,
      "microbatch.input_rows" -> executed.map(_.numInputRows).sum.toDouble,
      "microbatch.trigger.ms" -> trig,
      "microbatch.addBatch.ms" -> phase("addBatch"),
      "microbatch.queryPlanning.ms" -> phase("queryPlanning"),
      "microbatch.latestOffset.ms" -> phase("latestOffset"),
      "microbatch.walCommit.ms" -> phase("walCommit"),
      "microbatch.commitOffsets.ms" -> phase("commitOffsets"),
      "microbatch.other.ms" -> (if (executed.isEmpty) 0.0 else trig - named.map(phase).sum),
      "microbatch.stateCommit.ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "microbatch.stateUpdates.ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
      "microbatch.stateRemovals.ms" -> ops.map(_.allRemovalsTimeMs).sum.toDouble,
      "microbatch.rowsUpdated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "microbatch.rowsRemoved" -> ops.map(_.numRowsRemoved).sum.toDouble,
      "microbatch.rowsDroppedByWatermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
    val task = Seq(
      "tasks.jobs" -> spans.count(s => s.layer == "tasks" && s.name == "job").toDouble,
      "tasks.stages" -> stages.size.toDouble,
      "tasks.count" -> tasks.size.toDouble,
      "tasks.run.ms" -> runMs,
      "tasks.cpu.ms" -> cpu.map(_.durNs).sum / 1e6,
      "tasks.gc.ms" -> cpu.map(_.rows).sum.toDouble,
      "tasks.shuffle_write.bytes" -> tasks.map(_.bytes).sum.toDouble,
      "tasks.shuffle_read.bytes" -> cpu.map(_.bytes).sum.toDouble,
      "tasks.spill.bytes" -> spans.filter(s => s.layer == "tasks" && s.name == "spill").map(_.bytes).sum.toDouble,
      "tasks.busy_ratio" -> (if (wallMs > 0) runMs / (cores * wallMs) else 0.0),
      "tasks.sched_gap.ms" -> stages.map(s => math.max(0.0, s.durNs / 1e6 - s.rows)).sum)
    val opsM = Workloads.CorpusQueries.flatMap { q =>
      val mine = operators.filter(_._1 == q)
      Seq(s"operators.$q.plan.ms" -> pct(mine.map(_._2), 0.5),
        s"operators.$q.exec.ms" -> pct(mine.map(_._3), 0.5),
        s"operators.$q.rows" -> mine.headOption.map(_._4.toDouble).getOrElse(0.0))
    }
    state ++ micro ++ task ++ opsM
  }

  def dirSize(d: java.io.File): (Long, Long) = {
    if (!d.exists()) return (0L, 0L)
    val w = java.nio.file.Files.walk(d.toPath)
    try {
      val files = w.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (files.map(p => java.nio.file.Files.size(p)).sum, files.size.toLong)
    } finally w.close()
  }
}
