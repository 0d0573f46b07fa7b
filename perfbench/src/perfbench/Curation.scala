package perfbench

import graft.SparkEntry
import graft.Tables
import graft.ops.{CurationOps, DedupOps, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The query path of corpus_ops (corpus curation): one pass is
  * dedupDecision (q101) → curationFunnelOn (q100) → ngramDecontaminationOn
  * (q56) → nnDedupOn (q44) → PQ ANN (the q123 face) over a seeded probe
  * set, on a seeded corpus with a share of exact re-posts.
  *
  * What a user receives is collected (the funnel report and the ANN top-k);
  * the corpus-sized decision tables are written through the `noop` sink,
  * which runs the whole plan and discards the rows. The set-up pass collects
  * every output for the DuckDB oracle; timed passes must reproduce the
  * digests of the outputs they collect.
  */
final class Curation(c: Client) extends Phase {
  val Probes = 2

  private val expected = scala.collection.mutable.Map.empty[String, String]
  private var pass = 0

  private lazy val (docs, emb) = {
    val t0 = c.trace.nowMs
    val d = Tables.t(c.spark, c.input, "documents")
    val e = Tables.t(c.spark, c.input, "embeddings")
    c.sample("tables.load_ms", c.trace.nowMs - t0)
    (d, e)
  }

  /** (oracle key, layer, collected?, call) in pass order. */
  private lazy val calls: Seq[(String, String, Boolean, () => DataFrame)] = Seq(
    ("q101_dedup_decision", "curation.dedup_decision", false,
      () => DedupOps.dedupDecision(docs)),
    ("q100_curation_funnel", "curation.funnel", true,
      () => CurationOps.curationFunnelOn(docs)),
    ("q56_ngram_decontamination", "curation.decontam", false,
      () => CurationOps.ngramDecontaminationOn(docs, col("source") === "src9")),
    ("q44_nn_dedup", "curation.nn_dedup", false,
      () => SimilarityOps.nnDedupOn(emb))) ++
    Seq.fill(Probes)(c.rng.nextInt(c.opts("vectors").toInt).toLong).distinct
      .map(p => (s"q123_ann_pq-$p", "curation.ann_pq", true,
        () => SimilarityOps.annPqOn(emb, p, 10)))

  /** The set-up pass: every output collected and handed to the oracle. */
  def setup(): Unit = {
    val oracle = SparkEntry.oracleSql
    calls.foreach { case (key, _, _, f) =>
      val df = f()
      val rows = df.collect()
      oracleSql(oracle, key).fold(c.failure(s"$key: oracle shape"))(sql =>
        c.toOracle(key, df, rows, sql))
      expected(key) = c.digest(rows)
      Tables.releaseCheckpoints(c.spark)
    }
  }

  def measure(seconds: Double): Unit =
    c.loop("query", seconds, minOps = 1) { () =>
      val got = c.timed("pass", "pass", c.opts("docs").toDouble) {
        calls.flatMap { case (key, layer, collected, f) =>
          if (collected) Some(key -> c.call("call", layer)(f().collect()))
          else {
            c.call("call", layer)(f().write.format("noop").mode("overwrite").save())
            None
          }
        }
      }
      pass += 1
      got.foreach { case (key, rows) =>
        c.check(s"pass $pass $key equals the oracle-checked rows")(
          c.digest(rows) == expected(key))
      }
      Tables.releaseCheckpoints(c.spark)
    }

  /** The catalog twin for `key`; an ANN probe substitutes its query id. */
  private def oracleSql(oracle: Map[String, String], key: String): Option[String] =
    key.split("-") match {
      case Array(q, id) =>
        val sql = oracle(q)
        val probe = "WHERE vec_id = 0)"
        val self = "WHERE c.vec_id <> 0\n"
        if (!sql.contains(probe) || !sql.contains(self)) None
        else Some(sql.replace(probe, s"WHERE vec_id = $id)")
          .replace(self, s"WHERE c.vec_id <> $id\n"))
      case _ => oracle.get(key)
    }
}
