package perfbench

import graft.Tables
import graft.ops.{CurationOps, SpanOps, TextOps}
import org.apache.spark.sql.DataFrame

import java.io.File

/** The append path of corpus_ops (crawl increment): the text operators
  * run incrementally against persisted stores. Set-up builds the
  * fingerprint, shingle and token-count stores from the base documents;
  * each crawl batch then screens (fresh against the fingerprint store,
  * duplicated spans against the shingle store), appends to all three
  * stores, and reports source drift off the token-count store. Store segments pile up batch after batch, so the
  * read cost of later batches carries every earlier append.
  *
  * At the end the drift report must equal `TextOps.sourceDriftOn` over the
  * base plus every processed batch, and (checked by run.py in DuckDB) the
  * fingerprint store must hold each distinct normalised text once.
  */
final class Crawl(c: Client) extends Phase {
  import c.spark

  val WarmupBatches = 1

  private val crawl = s"${c.input}/crawl"
  private val stores = s"${c.dir}/stores"
  private val (fp, sh, tc) =
    (s"$stores/fingerprint", s"$stores/shingle", s"$stores/token_count")
  private lazy val base = spark.read.parquet(s"$crawl/base.parquet")
  private val perBatch = c.opts("batch_docs").toDouble
  private var processed = Vector.empty[DataFrame]

  def setup(): Unit = {
    val t0 = c.trace.nowMs
    CurationOps.writeFingerprintStore(base, fp)
    SpanOps.writeShingleStore(base, sh)
    TextOps.writeTokenCountStore(base, tc)
    c.sample("crawl.store_build_ms", c.trace.nowMs - t0)
    (1 to WarmupBatches).foreach(_ => oneBatch())
  }

  def measure(seconds: Double): Unit = {
    // at least two batches: a run's batch median must not rest on the
    // first batch after the warm-up alone
    c.loop("ingest", seconds, minOps = 2,
      more = processed.size < c.opts("batches").toInt)(() => oneBatch())
    c.note("crawl.batches_processed", processed.size)
    val fromStore = TextOps.sourceDriftFromStore(spark, tc).collect()
    val fromRaw = TextOps.sourceDriftOn(processed.foldLeft(base)(_ unionByName _)).collect()
    c.check("drift from the token-count store equals sourceDriftOn over all documents")(
      c.digest(fromStore) == c.digest(fromRaw))
  }

  private def oneBatch(): Unit = {
    val batch = spark.read.parquet(f"$crawl/batch-${processed.size}%03d.parquet")
    val admitted = c.timed("batch", "batch", perBatch) {
      val admitted = c.call("step", "crawl.screen") {
        val a = CurationOps.freshAgainstStore(batch, fp).localCheckpoint(eager = true)
        SpanOps.dupSpansAgainstStore(a, sh).collect()
        a
      }
      c.call("step", "crawl.append") {
        CurationOps.appendToFingerprintStore(admitted, fp)
        SpanOps.appendToShingleStore(admitted, sh)
        TextOps.appendToTokenCountStore(batch, tc)
      }
      c.call("step", "crawl.report")(TextOps.sourceDriftFromStore(spark, tc).collect())
      admitted
    }
    processed :+= batch
    if (c.timing) {
      c.sample("crawl.admit_frac", admitted.select("doc_id").collect().length / perBatch)
      val files = Seq(fp, sh, tc).flatMap(p => Client.leafFiles(new File(p)))
        .filter(_.getName.endsWith(".parquet"))
      val held = c.opts("base_docs").toDouble + processed.size * perBatch
      c.sample("store.files", files.size.toDouble)
      c.sample("store.bytes", files.map(_.length).sum.toDouble)
      c.sample("ingest.bytes_per_item", files.map(_.length).sum.toDouble / held)
    }
    Tables.releaseCheckpoints(spark)
  }
}
