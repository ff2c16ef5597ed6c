package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.query.{BqSearch, IvfSearch, MrlSearch, PqSearch, SqSearch}

/**
 * Tombstones on the quantized serving tiers (SQ8 / PQ / BQ / MRL): the
 * deletion path the r9 verdict flagged as missing (MRL joined in r12,
 * completing tier parity). The contract per
 * tier is the [[graft.index.IndexMaintenance]] ordering — deletions
 * anti-join BEFORE the shortlist cap — which with frozen models makes
 * tombstone serving EXACTLY equal to serving an index physically
 * rebuilt without the deleted rows (cell assignment, codes, and
 * thresholds of surviving rows don't depend on deleted ones):
 *  - deleted ids never appear in any result;
 *  - result sets equal the physically-rebuilt index's, row for row
 *    (tombstones don't eat AdcKeep/HamKeep budget, no rnk holes).
 */
class QuantizedDeleteSpec extends SparkSpecBase {

  private lazy val all = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding", "label").cache()
  private lazy val queries = all.filter(col("vec_id") < 10)
  // delete half the query ids' own vectors (self-matches at rank 1 —
  // the deletion every query notices) plus a spread of others
  private lazy val deadIds: Seq[Long] = Seq(0L, 2L, 4L, 31L, 57L, 83L)
  private lazy val dead: DataFrame = {
    import spark.implicits._
    deadIds.toDF("id")
  }
  private lazy val survivors = all.filter(!col("vec_id").isin(deadIds: _*))

  // frozen models fitted once on the FULL corpus (deletion never refits)
  private lazy val cents = IvfSearch.fitCentroids(all, 8, Some("qdel-cents"))

  private def assertTombstoneEqualsRebuild(tier: String,
      served: DataFrame, rebuilt: DataFrame): Unit = {
    val got = served.collect().toSet
    got.foreach { r =>
      assert(!deadIds.contains(r.getLong(1)), s"$tier served deleted id: $r")
    }
    assert(got == rebuilt.collect().toSet,
      s"$tier: tombstone serving must equal the physically-rebuilt index")
    // full k rows wherever the rebuilt index has them (budget not eaten)
    assert(got.size == rebuilt.count(), s"$tier result sizes diverge")
  }

  test("SQ8: tombstoned serving == index rebuilt without the rows; deleted never served") {
    val (vmin, delta) = SqSearch.fitParams(all)
    def parts(data: DataFrame) = (
      IvfSearch.assignCells(data, cents),
      data.select(col("vec_id"),
        SqSearch.sqRecon(SqSearch.sqCodes(col("embedding"), vmin, delta),
          vmin, delta).as("dvec")),
      data.select(col("vec_id"), col("embedding")))
    val (cells, dvecs, fetch) = parts(all)
    val (rCells, rDvecs, rFetch) = parts(survivors)
    assertTombstoneEqualsRebuild("sq8",
      SqSearch.ivfsqTopKForQueries(spark, queries, cells, dvecs, fetch, cents, Some(dead)),
      SqSearch.ivfsqTopKForQueries(spark, queries, rCells, rDvecs, rFetch, cents))
  }

  test("PQ: tombstoned serving == index rebuilt without the rows; deleted never served") {
    val cb = PqSearch.fitCodebook(all, "qdel-cb")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val (cells, codes) = PqSearch.encode(spark, all, cents, cb)
    val (rCells, rCodes) = PqSearch.encode(spark, survivors, cents, cb)
    assertTombstoneEqualsRebuild("pq",
      PqSearch.topKForQueries(spark, q, cells, codes,
        all.select("vec_id", "embedding"), cents, cb, 10, Some(dead)),
      PqSearch.topKForQueries(spark, q, rCells, rCodes,
        survivors.select("vec_id", "embedding"), cents, cb, 10))
  }

  test("MRL: tombstoned serving == index rebuilt without the rows; deleted never served") {
    val dim = all.select(size(col("embedding"))).head().getInt(0)
    val comps = graft.operators.Embeddings.mrlRotationOf(all, dim / MrlSearch.PrefixShare)
    val idx = MrlSearch.buildIndexOn(spark, all, cents, comps)
    val rIdx = MrlSearch.buildIndexOn(spark, survivors, cents, comps)
    assertTombstoneEqualsRebuild("mrl",
      MrlSearch.ivfmrlTopKForQueries(spark, queries,
        idx.cells, idx.pvecs, idx.fetch, cents, comps, Some(dead)),
      MrlSearch.ivfmrlTopKForQueries(spark, queries,
        rIdx.cells, rIdx.pvecs, rIdx.fetch, cents, comps))
  }

  test("BQ: tombstoned serving == index rebuilt without the rows; deleted never served") {
    val thr = all.select(posexplode(col("embedding").cast("array<double>")).as(Seq("d", "v")))
      .groupBy("d").agg(avg("v").as("m")).orderBy("d")
      .collect().map(_.getDouble(1))
    val idx = BqSearch.buildIndex(all.select("vec_id", "embedding"), thr)
    val rIdx = BqSearch.buildIndex(survivors.select("vec_id", "embedding"), thr)
    try assertTombstoneEqualsRebuild("bq",
      BqSearch.topKForQueries(queries, idx, Some(dead)),
      BqSearch.topKForQueries(queries, rIdx))
    finally { idx.codes.unpersist(); rIdx.codes.unpersist() }
  }
}
