package perfbench

import graft.Tables
import graft.gen.TradeGen
import graft.streaming.{IngestPipeline, TradeSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The append path of trade_ops (trade ingest): drain a seeded backlog
  * through the reference consumer (`IngestPipeline.runIngest` over
  * `TradeSource.jsonFiles`, `Trigger.AvailableNow`), each drain with a
  * fresh sink and checkpoint.
  *
  * The backlog is written in event-time order with strictly increasing
  * file modification times: the file source picks files by modification
  * time, and an unordered layout lets the watermark drop most trades as
  * late. Replays are placed at most `ReplayReach` lines after their
  * original, well inside the 10-minute dedup watermark (trades are
  * 0.9 s apart), so every replay reaches the dedup state and none is late.
  */
final class Ingest(c: Client) extends Phase {
  import c.spark

  private val Trades = c.opts("trades").toInt
  val LinesPerFile = 100
  val FilesPerTrigger = 5
  val ReplayFrac = 0.02
  val PoisonFrac = 0.01
  val ReplayReach = 300
  val WarmupDrains = 1

  private val backlog = s"${c.dir}/backlog"
  private val poison = Seq("###", "{\"trade_id\": 12", "", "{\"asset_class\": \"FX\"}")

  private var expectedTotals = Map.empty[String, Double]
  private var replays = 0
  private var drain = 0

  def setup(): Unit = {
    // generation: TradeGen → wire JSON, in trade_id (= event-time) order
    val t0 = c.trace.nowMs
    val trades = TradeGen.trades(spark, Trades, c.seed)
    val lines = trades
      .select(col("trade_id"), to_json(struct(col("*")),
        IngestPipeline.wireOptions.asJava).as("v"))
      .collect().sortBy(_.getString(0)).map(_.getString(1))
    c.sample("gen.trades_per_s", Trades / ((c.trace.nowMs - t0) / 1000))
    expectedTotals = trades.groupBy("asset_class")
      .agg(Tables.dsum(col("notional_value")).as("t")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    val (r, poisoned) = writeBacklog(lines)
    replays = r
    c.note("ingest.replays_injected", replays)
    c.note("ingest.poison_injected", poisoned)
    (1 to WarmupDrains).foreach(_ => oneDrain())
  }

  def measure(seconds: Double): Unit =
    c.loop("ingest", seconds, minOps = 1)(() => oneDrain())

  private def oneDrain(): Unit = {
    val d = s"${c.dir}/drain-$drain"
    drain += 1
    val sink = s"$d/sink"
    val q = c.timed("drain", "drain", Trades) {
      val q = IngestPipeline.runIngest(spark,
        TradeSource.jsonFiles(spark, backlog, FilesPerTrigger),
        IngestPipeline.ParquetSink(sink), s"$d/checkpoint",
        Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    if (c.timing) record(progress, sink)
    c.check(s"drain $drain sink holds each valid trade exactly once")(
      verify(sink, progress.map(dupDropped).sum))
    c.check(s"drain $drain dropped no trade as late")(
      progress.forall(_.stateOperators.forall(_.numRowsDroppedByWatermark == 0)))
    Client.deleteTree(new File(d))
  }

  /** Backlog files in event-time order; returns (replays, poison lines). */
  private def writeBacklog(lines: Array[String]): (Int, Int) = {
    val out = Array.newBuilder[String]
    val pending = scala.collection.mutable.PriorityQueue.empty[(Int, Int)](
      Ordering.by[(Int, Int), Int](_._1).reverse)
    var replays = 0
    var poisoned = 0
    lines.indices.foreach { i =>
      while (pending.nonEmpty && pending.head._1 <= i) {
        out += lines(pending.dequeue()._2); replays += 1
      }
      out += lines(i)
      if (c.rng.nextDouble() < ReplayFrac)
        pending.enqueue((i + 1 + c.rng.nextInt(ReplayReach), i))
      if (c.rng.nextDouble() < PoisonFrac) {
        out += poison(c.rng.nextInt(poison.size)); poisoned += 1
      }
    }
    while (pending.nonEmpty) { out += lines(pending.dequeue()._2); replays += 1 }
    val all = out.result()
    Files.createDirectories(Paths.get(backlog))
    val files = all.grouped(LinesPerFile).toSeq
    val now = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (chunk, k) =>
      val f = new File(f"$backlog/trades-$k%05d.json")
      Files.write(f.toPath, chunk.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      f.setLastModified(now - (files.size - k) * 1000L)
    }
    (replays, poisoned)
  }

  private def dupDropped(p: StreamingQueryProgress): Long =
    p.stateOperators.map(s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum

  private def record(progress: Array[StreamingQueryProgress],
      sink: String): Unit = {
    var inRows = 0L
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      def dur(k: String) = d.getOrElse(k, 0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      c.trace.addSpan("ingest.batch", start, start + dur("triggerExecution"))
      c.logOp("batch", "batch", start, dur("triggerExecution"), p.numInputRows.toDouble)
      c.sample("ingest.add_batch_ms", dur("addBatch"))
      c.sample("ingest.trigger_overhead_ms", dur("triggerExecution") - dur("addBatch"))
      c.sample("ingest.query_planning_ms", dur("queryPlanning"))
      c.sample("ingest.wal_commit_ms", dur("walCommit"))
      c.sample("source.get_batch_ms", dur("getBatch"))
      c.sample("ingest.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      c.sample("ingest.state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      c.sample("ingest.dup_dropped", dupDropped(p).toDouble)
      c.sample("ingest.late_dropped",
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
      val files = Client.leafFiles(new File(s"$sink/batch_id=${p.batchId}"))
        .filter(_.getName.endsWith(".parquet"))
      c.sample("ingest.sink_files", files.size.toDouble)
      c.sample("ingest.sink_bytes", files.map(_.length).sum.toDouble)
      inRows += p.numInputRows
    }
    c.sample("ingest.useful_frac", Trades.toDouble / inRows)
    c.sample("ingest.bytes_per_item", Client.leafFiles(new File(sink))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble / Trades)
  }

  /** The sink holds exactly the distinct valid trade ids, once each, with
    * notional totals per asset class equal to the generator's frame; the
    * dedup state dropped exactly the injected replays. */
  private def verify(sink: String, dupDropped: Long): Boolean = {
    val df = spark.read.parquet(sink)
    val id = substring(col("trade_id"), 2, 20).cast("long")
    val r = df.agg(count(lit(1)), countDistinct(col("trade_id")), min(id),
      max(id)).head()
    val totals = df.groupBy("asset_class")
      .agg(Tables.dsum(col("notional_value"))).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    c.sample("ingest.sink_rows", r.getLong(0).toDouble)
    val ok = r.getLong(0) == Trades && r.getLong(1) == Trades &&
      r.getLong(2) == 0L && r.getLong(3) == Trades - 1 && totals == expectedTotals &&
      dupDropped == replays
    if (!ok) System.err.println(s"[perfbench] sink: rows=${r.getLong(0)} " +
      s"distinct=${r.getLong(1)} ids=[${r.get(2)}, ${r.get(3)}] " +
      s"dup_dropped=$dupDropped replays=$replays totals=$totals expected=$expectedTotals")
    ok
  }
}
