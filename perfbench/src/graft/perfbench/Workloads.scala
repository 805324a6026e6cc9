package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.state.{RocksDbConf, RocksDbStateStoreProvider}

/** What one measured phase of a workload produced. */
final case class PhaseOut(
    opsMs: Seq[Double], rows: Long, wallMs: Double, latencyMs: Seq[Double], recoverS: Double,
    attempted: Long, failed: Long, checks: Seq[(String, Boolean, String)],
    sizes: Seq[(String, Any)], progress: Seq[StreamingQueryProgress], ckpt: Option[File],
    recoverBatch: Option[Long], operators: Seq[(String, Double, Double, Long)],
    committedBatches: Long, outputDigest: Seq[String])

trait Workload {
  def confs(cfg: Config): Seq[(String, String)]
  /** Input generation and warm-up; runs once per setup repetition. */
  def prepare(cfg: Config, s: SparkSession): Unit
  def measure(cfg: Config, s: SparkSession, seconds: Double, tag: String): PhaseOut
}

object Workloads {
  val CorpusQueries: Seq[String] = Seq("pipe_e2e", "dedup_ngram_jaccard")
  val MaintenanceInterval = "2s"

  def byName(n: String): Workload = n match {
    case "agg_bigstate" => AggBigState
    case "join_smallbatch" => JoinSmallBatch
    case "ttl_restart" => TtlRestart
    case "corpus_pipeline" => CorpusPipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Percentile by linear interpolation between order statistics. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }

  private def now(): Long = System.currentTimeMillis()

  def run(cfg: Config): Seq[(String, Any)] = {
    cfg.work.mkdirs()
    val w = byName(cfg.workload)
    var s: SparkSession = null
    val setups = (1 to math.max(1, cfg.setupReps)).map { _ =>
      val t0 = System.nanoTime()
      s = Main.session(cfg, traced = false, w.confs(cfg))
      val t1 = System.nanoTime()
      w.prepare(cfg, s)
      System.err.println(f"perfbench: setup session ${(t1 - t0) / 1e9}%.2f s, " +
        f"input and warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
      (System.nanoTime() - t0) / 1e9
    }
    val ctx = Main.versions(s)
    val (plain, plainPeak) = Main.withRssPeak(
      w.measure(cfg, s, if (cfg.trace) cfg.seconds / 2 else cfg.seconds, "plain"))
    val plainRss = Main.peakRssMb()
    val base: Seq[(String, Any)] = Seq(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "shuffle_partitions" -> cfg.cores, "provider" -> cfg.provider,
      "setup_s" -> setups, "versions" -> ctx, "rss_at_start_mb" -> Main.startRssMb,
      "result" -> summary(plain, plainRss))
    if (!cfg.trace) base
    else {
      // traced phase: fresh session with the delegating provider and both
      // listeners; the untraced phase above is its overhead baseline
      val t0 = System.nanoTime()
      val ts = Main.session(cfg, traced = true, w.confs(cfg))
      Spans.clear()
      val taskListener = new TaskSpanListener
      ts.sparkContext.addSparkListener(taskListener)
      ts.streams.addListener(new BatchSpanListener)
      w.prepare(cfg, ts)
      val tracedSetup = (System.nanoTime() - t0) / 1e9
      Spans.clear()
      val (traced, tracedPeak) = Main.withRssPeak(w.measure(cfg, ts, cfg.seconds / 2, "traced"))
      ts.sparkContext.removeSparkListener(taskListener)
      val spansFile = new File(cfg.work, "spans.jsonl")
      Spans.writeJsonl(spansFile.toPath)
      val layers = LayerMetrics.fold(Spans.snapshot, traced.progress, traced.wallMs, cfg.cores,
        traced.ckpt.map(new File(_, "state")), traced.recoverBatch, traced.operators)
      base ++ Seq(
        "traced_setup_s" -> tracedSetup, "traced" -> summary(traced, Main.peakRssMb()),
        "phase_rss_peak_mb" -> Seq("plain" -> plainPeak, "traced" -> tracedPeak),
        "layers" -> layers, "spans_file" -> spansFile.getAbsolutePath,
        "spans" -> Spans.all.size())
    }
  }

  def summary(p: PhaseOut, rss: Double): Seq[(String, Any)] = Seq(
    "throughput_rows_s" -> (if (p.wallMs > 0) p.rows / (p.wallMs / 1000.0) else 0.0),
    "batch_ms_p50" -> pct(p.opsMs, 0.5), "batch_ms_p90" -> pct(p.opsMs, 0.9),
    "latency_ms_p50" -> pct(p.latencyMs, 0.5), "latency_ms_p90" -> pct(p.latencyMs, 0.9),
    "recover_s" -> p.recoverS, "wall_s" -> p.wallMs / 1000.0, "peak_rss_mb" -> rss,
    "native_rss_mb" -> (rss - Main.startRssMb),
    "ops" -> p.opsMs.size, "ops_ms" -> p.opsMs, "rows" -> p.rows, "attempted" -> p.attempted, "failed" -> p.failed,
    "checks" -> p.checks.map { case (n, ok, d) => Seq("name" -> n, "ok" -> ok, "detail" -> d) },
    "sizes" -> p.sizes, "committed_batches" -> p.committedBatches,
    "output_digest" -> p.outputDigest)

  // ---------------------------------------------------------------- helpers

  /** Executed micro-batches (idle progress reports have no addBatch). */
  def executed(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + p.durationMs.get("triggerExecution")

  /** Batch durations of one query run without its first batch, which pays
    * query start (planning, store creation or recovery; after a restart it
    * is `recover_s`). Throughput uses the same batches. */
  def steadyBatchMs(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.drop(1).map(_.durationMs.get("triggerExecution").toDouble)
  def steadyRows(ps: Seq[StreamingQueryProgress]): Long = ps.drop(1).map(_.numInputRows).sum
  def steadyWall(ps: Seq[StreamingQueryProgress]): Double = wallOf(ps.drop(1))

  def wallOf(ps: Seq[StreamingQueryProgress]): Double =
    if (ps.isEmpty) 0.0 else (ps.map(endMs).max - ps.map(startMs).min).toDouble

  /** Batches the engine committed, read from the checkpoint's commit log. */
  def committed(ckpt: File): Long =
    Option(new File(ckpt, "commits").listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.forall(_.isDigit)).toLong

  def freshDir(parent: File, name: String): File = {
    val d = new File(parent, s"$name-${System.nanoTime()}")
    d.mkdirs(); d
  }

  /** Runs `q` until `stop(elapsedMs, executedBatches)`, then stops it. */
  def drive(q: StreamingQuery, stop: (Long, Int) => Boolean): Unit = {
    val t0 = now()
    while (q.isActive && !stop(now() - t0, q.recentProgress.count(_.durationMs.containsKey("addBatch"))))
      Thread.sleep(10)
    q.exception.foreach(e => throw e)
    q.stop()
    quiesce(q.sparkSession)
  }

  /** Waits until the stopped query's cancelled tasks have ended, so that
    * nothing still runs against the state stores the caller closes next. */
  def quiesce(s: SparkSession): Unit = {
    val deadline = now() + 10000
    while (s.sparkContext.statusTracker.getActiveJobIds().nonEmpty && now() < deadline) Thread.sleep(10)
  }

  /** Order-independent digest of a batch's output: (rows, xor of row
    * hashes, sum of the hashes' top 31 bits, smallest hash). The smallest
    * hash lets the self-test drop exactly one row without a second action. */
  def digestOf(df: DataFrame, h: Column): (Long, Long, Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(h), sum(shiftrightunsigned(h, 33)), min(h)).head()
    if (r.getLong(0) == 0) (0L, 0L, 0L, 0L)
    else (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def dropRow(d: (Long, Long, Long, Long)): (Long, Long, Long, Long) =
    if (d._1 == 0) d else (d._1 - 1, d._2 ^ d._4, d._3 - (d._4 >>> 33), d._4)

  final class Digest { var n = 0L; var x = 0L; var s = 0L
    def add(h: Long): Unit = { n += 1; x ^= h; s += h >>> 33 }
    def same(d: (Long, Long, Long, Long)): Boolean = d._1 == n && d._2 == x && d._3 == s
  }

  /** Compares sink digests of committed batches with the expected ones. */
  def checkBatches(name: String, got: ConcurrentHashMap[Long, (Long, Long, Long, Long)],
      expected: IndexedSeq[Digest]): (Long, Seq[(String, Boolean, String)]) = {
    val bad = expected.indices.filterNot(b => Option(got.get(b.toLong)).exists(expected(b).same))
    (bad.size.toLong, Seq((name, bad.isEmpty,
      if (bad.isEmpty) s"${expected.size} batches match"
      else s"${bad.size} of ${expected.size} batches differ, first ${bad.head}")))
  }

  /** One digest per committed batch: runs that stop after different batch
    * counts still compare on their common prefix. */
  def batchDigests(got: ConcurrentHashMap[Long, (Long, Long, Long, Long)], n: Long): Seq[String] =
    (0L until n).map(b => Option(got.get(b)).map(_.toString).getOrElse("-"))

  def stateSizes(ps: Seq[StreamingQueryProgress]): Seq[(String, Any)] = {
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
    Seq("final_state_rows" -> last.map(_.numRowsTotal).sum,
      "final_state_bytes" -> last.map(_.memoryUsedBytes).sum)
  }

  def seedHash(seed: Long): Long = XXH64.hashLong(seed, 42L)
}

// ------------------------------------------------------------------ agg

/** Closed-loop update-mode aggregation over a skewed key space under a
  * small JVM-wide RocksDB budget: per-key read-modify-write, memtable flush
  * and commit dominate. */
object AggBigState extends Workload {
  import Workloads._
  val KeySpace = 4000000L
  val BudgetMb = 8

  def rowsPerBatch(cfg: Config): Int = if (cfg.smoke) 2000 else 10000

  override def confs(cfg: Config): Seq[(String, String)] = Seq(
    RocksDbConf.TOTAL_MEMORY_MB -> BudgetMb.toString,
    "spark.sql.streaming.stateStore.maintenanceInterval" -> MaintenanceInterval,
    // the built-in provider's own knobs for the same budget (reference rows)
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> BudgetMb.toString)

  /** Skewed key index: u^2 over the key space for a seeded uniform u. */
  def keyIdxCol(seed: Long): Column = {
    val u = shiftrightunsigned(xxhash64(lit(seed), col("value")), 11).cast("double") / lit(9007199254740992.0)
    floor(lit(KeySpace.toDouble) * u * u).cast("long")
  }
  def keyOf(seedH: Long, v: Long): Int = {
    val u = (XXH64.hashLong(v, seedH) >>> 11).toDouble / 9007199254740992.0
    math.floor(KeySpace.toDouble * u * u).toInt
  }
  /** The user-facing key: an id string as a real workload would carry. */
  def keyName(idx: Column): Column = concat(lit("user-"), lpad(hex(idx), 12, "0"))
  def keyName(idx: Long): String = "user-" + f"$idx%012X"

  private def start(cfg: Config, s: SparkSession, ckpt: File, r: Int,
      got: ConcurrentHashMap[Long, (Long, Long, Long, Long)]): StreamingQuery = {
    val h = xxhash64(col("key"), col("cnt"), col("sm"), col("mx"))
    s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", r.toString).option("numPartitions", cfg.cores.toString).load()
      .select(keyName(keyIdxCol(cfg.seed)).as("key"), col("value").as("x"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sm"), max(col("x")).as("mx"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val d = digestOf(df, h)
        got.put(id, if (cfg.dropOneRow && id == 1) dropRow(d) else d)
        ()
      }
      .start()
  }

  override def prepare(cfg: Config, s: SparkSession): Unit = {
    val q = start(cfg, s, freshDir(cfg.work, "agg-warm"), 2000, new ConcurrentHashMap())
    drive(q, (_, n) => n >= 3)
  }

  override def measure(cfg: Config, s: SparkSession, seconds: Double, tag: String): PhaseOut = {
    val r = rowsPerBatch(cfg)
    val ckpt = freshDir(cfg.work, s"agg-$tag")
    val got = new ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
    val q = start(cfg, s, ckpt, r, got)
    drive(q, (ms, n) => if (cfg.smoke) n >= 6 else ms >= seconds * 1000)
    val ps = executed(q)
    val n = committed(ckpt)
    // expected per-batch output, from the generator alone
    val seedH = seedHash(cfg.seed)
    val cnt = new Array[Long](KeySpace.toInt); val sm = new Array[Long](KeySpace.toInt)
    val mx = new Array[Long](KeySpace.toInt); val last = Array.fill(KeySpace.toInt)(-1)
    val touched = new mutable.ArrayBuffer[Int](r)
    val expected = (0 until n.toInt).map { b =>
      touched.clear()
      var v = b.toLong * r
      while (v < (b + 1L) * r) {
        val k = keyOf(seedH, v)
        if (last(k) != b) { last(k) = b; touched += k }
        cnt(k) += 1; sm(k) += v; mx(k) = v
        v += 1
      }
      val d = new Digest
      touched.foreach { k =>
        val kb = org.apache.spark.unsafe.types.UTF8String.fromString(keyName(k.toLong))
        val hk = XXH64.hashUnsafeBytes(kb.getBaseObject, kb.getBaseOffset, kb.numBytes, 42L)
        d.add(XXH64.hashLong(mx(k), XXH64.hashLong(sm(k), XXH64.hashLong(cnt(k), hk))))
      }
      d
    }
    val (bad, checks) = checkBatches("agg_final_values", got, expected)
    val sizes = Seq("rows" -> n * r, "rows_per_batch" -> r, "key_space" -> KeySpace,
      "distinct_keys" -> cnt.count(_ > 0), "memory_budget_mb" -> BudgetMb,
      "maintenance_interval" -> MaintenanceInterval,
      "state_to_budget" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum / (BudgetMb * 1048576.0)).getOrElse(0.0)) ++
      stateSizes(ps)
    PhaseOut(steadyBatchMs(ps), steadyRows(ps),
      steadyWall(ps), Nil, 0.0, n, bad, checks, sizes, ps, Some(ckpt), None, Nil, n,
      batchDigests(got, n))
  }
}

// ------------------------------------------------------------------ join

/** Open-loop stream-stream join over one fixed-rate source split by
  * parity: many small batches, per-batch and per-store fixed costs. */
object JoinSmallBatch extends Workload {
  import Workloads._
  val RowsPerSecond = 24000

  override def confs(cfg: Config): Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.maintenanceInterval" -> MaintenanceInterval)

  /** Feeds rows v = 0, 1, ... at a fixed rate; row v is due at
    * `t0 + v / rate` and carries that time as its event timestamp. */
  final class Feeder(ms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)],
      rate: Int, limit: Long) extends Thread("perfbench-feeder") {
    setDaemon(true)
    @volatile var running = true
    @volatile var fed = 0L
    val t0Ms: Long = System.currentTimeMillis()
    private val t0Ns = System.nanoTime()
    def dueMs(v: Long): Long = t0Ms + v * 1000L / rate
    override def run(): Unit = while (running && fed < limit) {
      val due = math.min(limit, (System.nanoTime() - t0Ns) * rate / 1000000000L)
      if (due > fed) {
        ms.addData((fed until due).map(v => (v, new java.sql.Timestamp(dueMs(v)))))
        fed = due
      }
      Thread.sleep(2)
    }
  }

  final case class Out(k: Long, lts: Long, rts: Long, emitMs: Long)

  private def start(cfg: Config, s: SparkSession, ckpt: File, out: java.util.Queue[Out])
      : (StreamingQuery, org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]) = {
    // one input partition per core, however many chunks the feeder added
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)](
      s, cfg.cores)(Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP))
    val src = ms.toDF().toDF("v", "ts").withWatermark("ts", "2 seconds")
    val l = src.filter(col("v") % 2 === 0).select(expr("v div 2").as("lk"), col("ts").as("lts"))
    val r = src.filter(col("v") % 2 === 1).select(expr("v div 2").as("rk"), col("ts").as("rts"))
    val q = l.join(r, expr("lk = rk AND rts >= lts - interval 1 second AND rts <= lts + interval 1 second"))
      .select(col("lk"), col("lts"), col("rts"))
      .writeStream.option("checkpointLocation", ckpt.getAbsolutePath)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect()
        val emit = System.currentTimeMillis()
        val kept = if (cfg.dropOneRow && rows.nonEmpty && out.isEmpty) rows.drop(1) else rows
        kept.foreach(row => out.add(Out(row.getLong(0), row.getTimestamp(1).getTime,
          row.getTimestamp(2).getTime, emit)))
      }
      .start()
    (q, ms)
  }

  /** Feed for `seconds` (or `limit` rows), then drain what was fed. */
  private def runFor(cfg: Config, s: SparkSession, ckpt: File, seconds: Double, limit: Long,
      out: java.util.Queue[Out]): (StreamingQuery, Feeder) = {
    val (q, ms) = start(cfg, s, ckpt, out)
    val f = new Feeder(ms, RowsPerSecond, limit)
    f.start()
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
    while (q.isActive && System.currentTimeMillis() < deadline && f.fed < limit) Thread.sleep(10)
    f.running = false
    f.join()
    q.processAllAvailable()
    q.stop()
    quiesce(s)
    q.exception.foreach(e => throw e)
    (q, f)
  }

  override def prepare(cfg: Config, s: SparkSession): Unit =
    runFor(cfg, s, freshDir(cfg.work, "join-warm"), 1.5, Long.MaxValue, new java.util.concurrent.ConcurrentLinkedQueue[Out]())

  override def measure(cfg: Config, s: SparkSession, seconds: Double, tag: String): PhaseOut = {
    val ckpt = freshDir(cfg.work, s"join-$tag")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Out]()
    val limit = if (cfg.smoke) 4000L else Long.MaxValue
    val (q, f) = runFor(cfg, s, ckpt, if (cfg.smoke) 60 else seconds, limit, out)
    val ps = executed(q)
    val rows = out.asScala.toSeq
    // expected: the batch join over the rows the source emitted
    val fed = f.fed
    val expected = (0L until fed / 2).map(k => (k, f.dueMs(2 * k), f.dueMs(2 * k + 1)))
    val got = rows.map(o => (o.k, o.lts, o.rts)).sorted
    val ok = got == expected
    val detail = if (ok) s"${expected.size} joined rows match"
      else s"got ${got.size} rows, expected ${expected.size}; first difference at " +
        got.zipAll(expected, null, null).indexWhere { case (a, b) => a != b }
    val n = committed(ckpt)
    val sizes = Seq("rows" -> fed, "rows_per_second" -> RowsPerSecond,
      "distinct_keys" -> fed / 2, "watermark_delay" -> "2 seconds",
      "maintenance_interval" -> MaintenanceInterval) ++ stateSizes(ps)
    // open loop: the rows fed over the time from the first row due to the
    // last batch's end, i.e. the input rate the query sustained
    val wallMs = if (ps.isEmpty) 0.0 else (ps.map(endMs).max - f.t0Ms).toDouble
    PhaseOut(steadyBatchMs(ps), fed,
      wallMs, rows.map(o => (o.emitMs - math.max(o.lts, o.rts)).toDouble), 0.0,
      ps.size, if (ok) 0 else 1, Seq(("join_output", ok, detail)), sizes, ps, Some(ckpt), None,
      Nil, n, Seq(got.map { case (k, l, r) => (k, l - f.t0Ms, r - f.t0Ms) }.hashCode.toHexString))
  }
}

// ------------------------------------------------------------------ ttl

/** Strict per-key TTL dedup through `implicits.stateTimeout`, with the TTL
  * clock pinned per batch, stopped halfway and restarted from durable
  * state. A key is emitted at batch b iff it did not occur at batch b-1. */
object TtlRestart extends Workload {
  import Workloads._
  val Base = 1700000000000L
  val HourMs = 3600000L

  def rowsPerBatch(cfg: Config): Int = if (cfg.smoke) 2000 else 10000
  def window(r: Int): Long = 2L * r
  def drift(r: Int): Long = r / 4

  override def confs(cfg: Config): Seq[(String, String)] = Seq(
    RocksDbConf.STRICT_EXPIRE -> "true",
    RocksDbConf.TOTAL_MEMORY_MB -> "64",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> MaintenanceInterval)

  def keyCol(seed: Long, r: Int): Column =
    expr(s"value div $r") * lit(drift(r)) +
      pmod(xxhash64(lit(seed), col("value")), lit(window(r)))
  def keyOf(seedH: Long, r: Int, v: Long): Long =
    (v / r) * drift(r) + Math.floorMod(XXH64.hashLong(v, seedH), window(r))

  private def start(cfg: Config, s: SparkSession, root: File, r: Int,
      got: ConcurrentHashMap[Long, (Long, Long, Long, Long)]): StreamingQuery = {
    import graft.state.implicits._
    s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", r.toString).option("numPartitions", cfg.cores.toString).load()
      .select(keyCol(cfg.seed, r).as("key"))
      .dropDuplicates("key")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: DataFrame, id: Long) =>
        // pin the TTL clock for this batch before its stateful plan runs
        RocksDbStateStoreProvider.clock = () => Base + id * HourMs
        val d = digestOf(df, xxhash64(col("key")))
        got.put(id, if (cfg.dropOneRow && id == 1) dropRow(d) else d)
        ()
      }
      .stateTimeout(s.conf, queryName = "ttlrestart", expirySecs = 5400,
        checkpointLocation = root.getAbsolutePath)
      .start()
  }

  override def prepare(cfg: Config, s: SparkSession): Unit = {
    val q = start(cfg, s, freshDir(cfg.work, "ttl-warm"), 2000, new ConcurrentHashMap())
    drive(q, (_, n) => n >= 3)
    org.apache.spark.sql.perfbench.Bridge.unloadAllStateStores()
  }

  override def measure(cfg: Config, s: SparkSession, seconds: Double, tag: String): PhaseOut = {
    val r = rowsPerBatch(cfg)
    val root = freshDir(cfg.work, s"ttl-$tag")
    val ckpt = new File(root, "ttlrestart")
    val got = new ConcurrentHashMap[Long, (Long, Long, Long, Long)]()
    val q1 = start(cfg, s, root, r, got)
    drive(q1, (ms, n) => if (cfg.smoke) n >= 6 else ms >= seconds * 500)
    val ps1 = executed(q1)
    org.apache.spark.sql.perfbench.Bridge.unloadAllStateStores()
    val t0 = System.currentTimeMillis()
    val q2 = start(cfg, s, root, r, got)
    var first: Option[StreamingQueryProgress] = None
    drive(q2, { (ms, n) =>
      if (first.isEmpty && n > 0) first = executed(q2).headOption
      if (cfg.smoke) n >= 6 else ms >= seconds * 500
    })
    val ps2 = executed(q2)
    val recoverS = ps2.headOption.map(p => (endMs(p) - t0) / 1000.0).getOrElse(0.0)
    val ps = ps1 ++ ps2
    val n = committed(ckpt)
    val seedH = seedHash(cfg.seed)
    var prev = mutable.HashSet.empty[Long]
    val expected = (0 until n.toInt).map { b =>
      val cur = mutable.HashSet.empty[Long]
      var v = b.toLong * r
      while (v < (b + 1L) * r) { cur += keyOf(seedH, r, v); v += 1 }
      val d = new Digest
      cur.foreach(k => if (!prev.contains(k)) d.add(XXH64.hashLong(k, 42L)))
      prev = cur
      d
    }
    val (bad, checks) = checkBatches("ttl_emitted_set", got, expected)
    val emitted = expected.map(_.n).sum
    val sizes = Seq("rows" -> n * r, "rows_per_batch" -> r, "key_window" -> window(r),
      "key_drift_per_batch" -> drift(r), "emitted_rows" -> emitted,
      "expired_share" -> (if (n > 1) expected.drop(1).map(_.n).sum.toDouble / ((n - 1) * r) else 0.0),
      "restart_after_batch" -> ps1.lastOption.map(_.batchId).getOrElse(-1L),
      "ttl_s" -> 5400, "memory_budget_mb" -> 64,
      "maintenance_interval" -> MaintenanceInterval) ++ stateSizes(ps)
    PhaseOut(steadyBatchMs(ps1) ++ steadyBatchMs(ps2), steadyRows(ps1) + steadyRows(ps2),
      steadyWall(ps1) + steadyWall(ps2), Nil, recoverS, n, bad, checks, sizes, ps, Some(ckpt),
      ps2.headOption.map(_.batchId), Nil, n, batchDigests(got, n))
  }
}

// ------------------------------------------------------------------ corpus

/** Batch control: `pipe_e2e` then `dedup_ngram_jaccard` over a seeded
  * corpus, through the engine's query registry. No state store involved.
  *
  * The corpus is `Replicas` seeded samples of the profile of the sf0.1
  * `documents` fixture (measured with `perfbench/corpus_profile.py`; the
  * figures are in README.md), each replica's `doc_id`s shifted by a
  * multiple of 140,000,000 as `ScaleSynthMain` shifts its replicas, so that
  * id-derived slices (`doc_id % 20`) stay balanced. */
object CorpusPipeline extends Workload {
  import Workloads._

  /** The fixture's 30 words, each drawn with equal probability. */
  val Vocab: Array[String] = ("a the data spark stream batch table row column key value " +
    "join group sort filter scan merge hash window query order part line agg fast slow " +
    "big small vector customer").split(" ")
  /** Language counts of the fixture's 5,000 documents. */
  val LangCounts: Seq[(String, Int)] = Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  val MinWords = 10
  val MaxWords = 100
  /** Per 10,000 documents: near duplicates (another document's text plus
    * the token `dup`: 250 of 5,000) and exact copies (8 of 5,000). */
  val NearDupPer10k = 500
  val ExactDupPer10k = 16
  val ReplicaDocs = 2500
  val ReplicaShift = 140000000L
  val Replicas = 2

  def replicas(cfg: Config): Int = if (cfg.smoke) 1 else Replicas
  def replicaDocs(cfg: Config): Int = if (cfg.smoke) 1000 else ReplicaDocs
  def docs(cfg: Config): Int = replicas(cfg) * replicaDocs(cfg)

  override def confs(cfg: Config): Seq[(String, String)] = Nil

  def corpusDir(cfg: Config): File = new File(cfg.work, s"corpus-${cfg.seed}-${docs(cfg)}")

  /** Seeded documents with the fixture's profile. Duplicates copy an
    * earlier document of the same replica. */
  def generate(cfg: Config, s: SparkSession): File = {
    val dir = corpusDir(cfg)
    val rnd = new java.util.SplittableRandom(cfg.seed)
    val langTotal = LangCounts.map(_._2).sum
    def lang(): String = {
      var x = rnd.nextInt(langTotal)
      LangCounts.find { case (_, c) => x -= c; x < 0 }.get._1
    }
    val rows = (0 until replicas(cfg)).flatMap { rep =>
      val texts = new mutable.ArrayBuffer[String]()
      (0 until replicaDocs(cfg)).map { i =>
        val roll = rnd.nextInt(10000)
        val text =
          if (i > 0 && roll < ExactDupPer10k) texts(rnd.nextInt(i))
          else if (i > 0 && roll < ExactDupPer10k + NearDupPer10k) texts(rnd.nextInt(i)) + " dup"
          else Seq.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        texts += text
        val id = rep * ReplicaShift + i
        Row(id, text, lang(), s"src${id % 20}", text.length.toLong)
      }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    // a fixed file count, so the scan splits the same way at any core count
    s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getAbsolutePath)
    dir
  }

  /** One pass: both queries, each planned then collected. */
  def pass(s: SparkSession, dir: File): Seq[(String, Double, Double, Array[Row])] =
    CorpusQueries.map { name =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(s, dir.getAbsolutePath)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      (name, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, rows)
    }

  override def prepare(cfg: Config, s: SparkSession): Unit = pass(s, generate(cfg, s))

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.mkString("\u0001")).toSeq.sorted

  override def measure(cfg: Config, s: SparkSession, seconds: Double, tag: String): PhaseOut = {
    val dir = corpusDir(cfg)
    val passes = mutable.ArrayBuffer[(Double, Seq[(String, Double, Double, Array[Row])])]()
    val t0 = System.nanoTime()
    var failed = 0L
    while (passes.size < 3 || (!cfg.smoke && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val p0 = System.nanoTime()
      val r = pass(s, dir)
      passes += (((System.nanoTime() - p0) / 1e6, r))
    }
    // every later pass must reproduce the first; the first is compared with
    // the SQL oracle in DuckDB by the runner
    val first = passes.head._2.map { case (n, _, _, rows) => n -> canon(rows) }.toMap
    val unstable = passes.tail.flatMap(_._2).filterNot { case (n, _, _, rows) => canon(rows) == first(n) }
    failed += unstable.size
    val outDir = new File(cfg.work, s"corpus-out-$tag"); outDir.mkdirs()
    var dropped = !cfg.dropOneRow
    passes.head._2.foreach { case (name, _, _, rows) =>
      val kept = if (!dropped && rows.nonEmpty) { dropped = true; rows.drop(1) } else rows
      val fields = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
      java.nio.file.Files.write(new File(outDir, s"$name.json").toPath, Json.render(Seq(
        "columns" -> fields, "rows" -> kept.map(_.toSeq.map(v => if (v == null) null else v.toString)),
        "oracle_sql" -> graft.SparkEntry.oracleSql(name))).getBytes("UTF-8"))
    }
    val docsN = docs(cfg).toLong
    val sizes = Seq("documents" -> docsN, "replicas" -> replicas(cfg), "replica_docs" -> replicaDocs(cfg),
      "vocabulary" -> Vocab.length, "words_per_doc" -> s"$MinWords-$MaxWords",
      "near_dup_per_10k" -> NearDupPer10k, "exact_dup_per_10k" -> ExactDupPer10k,
      "corpus_dir" -> dir.getAbsolutePath, "output_dir" -> outDir.getAbsolutePath,
      "passes" -> passes.size) ++
      passes.head._2.map { case (n, _, _, rows) => s"rows_$n" -> rows.length }
    // like each query run's first micro-batch, the first pass of a session
    // pays one-off costs (its first queries, C2 still compiling): it is
    // checked but not timed
    val timed = passes.drop(1).map(_._1).toSeq
    PhaseOut(timed, docsN * timed.size, timed.sum, Nil, 0.0,
      passes.size.toLong * CorpusQueries.size, failed,
      Seq(("corpus_passes_agree", unstable.isEmpty, s"${unstable.size} query results differ from pass 1")),
      sizes, Nil, None, None,
      passes.flatMap(_._2.map { case (n, pl, ex, rows) => (n, pl, ex, rows.length.toLong) }).toSeq,
      passes.size, Seq(first.toSeq.sortBy(_._1).hashCode.toHexString))
  }
}
