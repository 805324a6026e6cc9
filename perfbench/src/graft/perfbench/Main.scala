package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Minimal JSON renderer for the result file (numbers, strings, booleans,
  * sequences, and sequences of pairs as objects). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall { case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => render(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case o => render(o.toString)
  }
}

/** One benchmark invocation, as passed by `perfbench/run.py`. */
final case class Config(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    provider: String, work: File, out: File, smoke: Boolean, dropOneRow: Boolean,
    setupReps: Int) {
  def providerClass(traced: Boolean): String = provider match {
    case "builtin" => "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    case _ if traced => classOf[TracingStateStoreProvider].getName
    case _ => classOf[graft.state.RocksDbStateStoreProvider].getName
  }
}

object Main {
  /** Resident set when `main` starts: the JVM itself plus the heap, which
    * `-Xms = -Xmx` with `-XX:+AlwaysPreTouch` has already paged in. Growth
    * above it is native and off-heap memory (RocksDB, metaspace, buffers). */
  val startRssMb: Double = rssMb()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a.getOrElse("trace", "0") == "1", cores = a.getOrElse("cores", "4").toInt,
      provider = a.getOrElse("provider", "graft"), work = new File(a("work")),
      out = new File(a("out")), smoke = a.getOrElse("smoke", "0") == "1",
      dropOneRow = a.getOrElse("drop-one-row", "0") == "1",
      setupReps = a.getOrElse("setup-reps", "3").toInt)
    val result = Workloads.run(cfg)
    Files.write(cfg.out.toPath, Json.render(result).getBytes("UTF-8"))
    // non-daemon threads (RocksDB, Spark) must not keep the process alive
    sys.exit(0)
  }

  /** A fresh session; any previous one is stopped first so that each setup
    * repetition pays the full session start. */
  def session(cfg: Config, traced: Boolean, extra: Seq[(String, String)]): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val n = cfg.cores
    val b = SparkSession.builder().master(s"local[$n]").appName(s"perfbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.local.dir", new File(cfg.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(cfg.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.providerClass", cfg.providerClass(traced))
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  def rssMb(): Double = statusKb("VmRSS") / 1024.0

  private def statusKb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }

  /** Highest resident set seen while `body` runs (sampled every 50 ms), so
    * two phases of one process get separate peaks. */
  def withRssPeak[A](body: => A): (A, Double) = {
    @volatile var peak = rssMb()
    @volatile var running = true
    val t = new Thread(() => while (running) { peak = math.max(peak, rssMb()); Thread.sleep(50) })
    t.setDaemon(true); t.start()
    try { val a = body; (a, math.max(peak, rssMb())) } finally { running = false; t.join() }
  }

  def versions(s: SparkSession): Seq[(String, Any)] = {
    val rocksJar = Option(classOf[org.rocksdb.RocksDB].getProtectionDomain.getCodeSource)
      .map(cs => new File(cs.getLocation.getPath).getName).getOrElse("unknown")
    Seq("jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> s.version, "rocksdbjni" -> rocksJar.stripPrefix("rocksdbjni-").stripSuffix(".jar"))
  }
}
