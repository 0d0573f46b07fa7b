package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The benchmark client: one process, one Spark session, one closed-loop
  * caller. `run.py` generates the inputs and starts this with
  *
  *   --workload W --seed N --seconds S --trace 0|1 --dir RUN_DIR --cpus C
  *
  * and reads back `RUN_DIR/result.json` (plus the trace files and the
  * collected outputs under `RUN_DIR/out` for the DuckDB oracle).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("dir")
    val cpus = a("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Client(spark, a)
    if (c.traced) spark.sparkContext.addSparkListener(c.trace.listener)
    c.note("setup.session_ms", c.trace.nowMs)
    // each workload pairs an append path with a query path; both are set
    // up (inputs, warm-up) before either is timed, then each is timed for
    // half of the run's seconds
    val phases: Seq[Phase] = a("workload") match {
      case "trade_ops" => Seq(new Ingest(c), new Dashboard(c))
      case "corpus_ops" => Seq(new Crawl(c), new Curation(c))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      phases.foreach { p =>
        p.setup()
        c.note(s"setup.${p.getClass.getSimpleName.toLowerCase}_ms", c.trace.nowMs)
      }
      phases.foreach(p => p.measure(c.seconds / phases.size))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        c.failure(s"workload aborted: $e")
    }
    c.writeResult()
    spark.stop()
  }
}

/** One timed path of a workload: `setup` prepares inputs and warms up
  * (counted in set-up time), `measure` runs the timed loop. */
trait Phase {
  def setup(): Unit
  def measure(seconds: Double): Unit
}

/** State shared by the workloads: the session, the timed-operation log,
  * correctness accounting, per-layer samples and the oracle hand-off. */
final class Client(val spark: SparkSession, val opts: Map[String, String]) {
  val dir: String = opts("dir")
  val seed: Int = opts("seed").toInt
  val traced: Boolean = opts("trace") == "1"
  val seconds: Double = opts("seconds").toDouble
  val trace = new Trace
  val rng = new java.util.Random(seed)
  val input = s"$dir/input"

  private var firstOpMs = Double.NaN
  private var phase = "setup"
  private val ops = ArrayBuffer.empty[String]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private val oracle = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0
  private val failures = ArrayBuffer.empty[String]

  def sample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def note(name: String, v: Any): Unit = info(name) = v

  def failure(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One checked operation: counts as attempted, and as failed when `ok`
    * is false or throws. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable => System.err.println(s"[perfbench] $what: $e"); false
    }
    if (!passed) failure(what)
  }

  private var measuredMs = 0.0

  /** The timed loop of one phase: operations until `seconds` of them have
    * been timed (and at least `minOps`). A traced run runs at least two and
    * records them in the order unrecorded, recorded, recorded, unrecorded
    * (repeated); the unrecorded ones give the tracing overhead, and from
    * four operations on a warm-up trend favours neither side. */
  def loop(name: String, seconds: Double, minOps: Int,
      more: => Boolean = true)(op: () => Unit): Unit = {
    phase = name
    measuredMs = 0.0
    val least = if (traced) math.max(minOps, 2) else minOps
    var i = 0
    while ((measuredMs < seconds * 1000 || i < least) && more) {
      trace.begin(traced && (i % 4 == 1 || i % 4 == 2))
      op()
      trace.recording = false
      i += 1
    }
    phase = "setup"
  }

  /** Time one top-level operation and log it; outside a timed loop the
    * operation runs untimed (warm-up). */
  def timed[T](kind: String, name: String, items: Double)(f: => T): T =
    if (!timing) f
    else {
      val start = trace.nowMs
      if (firstOpMs.isNaN) firstOpMs = start
      val out = trace.span(kind)(f)
      val ms = trace.nowMs - start
      measuredMs += ms
      logOp(kind, name, start, ms, items)
      out
    }

  def timing: Boolean = phase != "setup"

  /** Log an operation nested inside a timed one (a panel of a refresh, a
    * call of a pass); it does not add to the measured time. */
  def logOp(kind: String, name: String, start: Double, ms: Double,
      items: Double): Unit = {
    ops += Json.obj("kind" -> kind, "name" -> name, "start" -> start,
      "ms" -> ms, "items" -> items, "traced" -> trace.recording,
      "phase" -> phase)
  }

  /** A nested call: span + timing + log, returning the result. */
  def call[T](kind: String, name: String)(f: => T): T =
    if (!timing) f
    else {
      val start = trace.nowMs
      val out = trace.span(name)(f)
      logOp(kind, name, start, trace.nowMs - start, 0)
      out
    }

  /** Canonical digest of collected rows (order-insensitive), so a later
    * operation's output can be compared with the oracle-checked one. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Hand collected rows to the DuckDB oracle: parquet under out/<key>,
    * with the SQL that must reproduce them. */
  def toOracle(key: String, df: DataFrame, rows: Array[Row], sql: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/out/$key")
    oracle(key) = sql
  }

  def writeResult(): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally status.close()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/out"))
    def write(name: String, s: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), s)
    write("out/oracle.json", Json.value(oracle.toMap))
    write("ops.jsonl", ops.mkString("", "\n", "\n"))
    write("result.json", Json.value(Map(
      "first_op_ms" -> firstOpMs,
      "peak_rss_mb" -> hwmKb / 1024,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "layer" -> layer.map { case (k, v) => k -> v.toSeq }.toMap,
      "info" -> info.toMap)))
    if (traced) trace.write(dir)
  }
}

object Client {
  def leafFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(leafFiles)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
