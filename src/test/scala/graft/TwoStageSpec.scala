package graft

import org.apache.spark.sql.functions._

import graft.query.{AnnQuery, BqSearch, IvfSearch, PqSearch, SqSearch, TwoStage}

/** The shared two-stage kernel with a shortlist budget `keep >= N`:
  * every candidate survives the approximate cut and is refined exactly,
  * so whatever the codec, the result must equal exact brute force
  * (ties broken by vec_id) — exhaustively, and through IVF when every
  * cell is probed. */
class TwoStageSpec extends SparkSpecBase {

  private lazy val small = Tables.embeddings(spark, sf)
    .filter(col("vec_id") < 300).select("vec_id", "embedding", "label").cache()
  private lazy val queries = small.filter(col("vec_id") < 5)
  private lazy val fetch = small.select("vec_id", "embedding")
  private val k = graft.config.GraftConfig.active.query.k
  private val keep = 1000
  // as many cells as the unfiltered probe budget: every cell is probed
  private lazy val cents = IvfSearch.fitCentroids(small, IvfSearch.NumProbes, Some("twostage-spec"))

  private lazy val codecs: Seq[(String, TwoStage.Codec)] = {
    val (vmin, delta) = SqSearch.fitParams(small)
    val thr = BqSearch.fitThresholds(small)
    val cb = PqSearch.fitCodebook(small, "twostage-spec")
    Seq(
      "sq8" -> SqSearch.codec(SqSearch.dvecsOf(small, vmin, delta)),
      "bq" -> BqSearch.codec(BqSearch.wordsOf(small, thr), thr),
      "pq" -> PqSearch.codec(PqSearch.encode(spark, small, cents, cb)._2, cb))
  }

  test("keep >= N: SQ8, BQ and PQ equal exact brute force, exhaustive and through every IVF cell") {
    assert(small.count() <= keep)
    val exact = AnnQuery.bruteTopK(small, queries, k).collect().toSet
    assert(exact.size == 5 * k)
    val cells = TwoStage.Cells(
      IvfSearch.assignCells(small, cents), cents)
    for ((name, codec) <- codecs; (mode, probe) <- Seq("exhaustive" -> TwoStage.AllRows, "ivf" -> cells)) {
      val got = TwoStage.topK(queries, codec, probe, fetch, keep, k, None).collect().toSet
      assert(got == exact, s"$name/$mode must equal brute force when nothing is cut")
    }
  }

  test("keep >= N through labeled cells: equals the exact same-label brute force") {
    val exact = AnnQuery.bruteTopKSameLabel(small, queries, k).collect().toSet
    val labeled = TwoStage.LabeledCells(IvfSearch.assignCells(small, cents, Seq("label")), cents)
    for ((name, codec) <- codecs) {
      val got = TwoStage.topK(queries, codec, labeled, fetch, keep, k, None).collect().toSet
      assert(got == exact, s"$name/labeled must equal the same-label brute force")
    }
  }
}
