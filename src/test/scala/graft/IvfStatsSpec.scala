package graft

import org.apache.spark.sql.functions._

import graft.query.IvfSearch

class IvfStatsSpec extends SparkSpecBase {

  test("ivf_stats: one row whose counters reconcile with the raw assignment") {
    val row = IvfSearch.ivfStats(spark, sf).head()
    val nCells = row.getLong(0)
    val used = row.getLong(1)
    val empty = row.getLong(2)
    val nVecs = row.getLong(3)
    val minF = row.getLong(4)
    val maxF = row.getLong(5)
    val p50 = row.getLong(6)
    val p99 = row.getLong(7)
    val imb = row.getDouble(8)

    assert(nCells > 0 && used > 0 && used + empty == nCells)
    assert(nVecs == Tables.embeddings(spark, sf).count(),
      "every vector lands in exactly one cell")
    assert(minF >= 1 && minF <= p50 && p50 <= p99 && p99 <= maxF,
      s"fill order: $minF <= $p50 <= $p99 <= $maxF")
    // imbalance = nlist * sum(fill^2) / N^2 >= nlist/used >= 1 when
    // all cells are used; >= 1 always by Cauchy-Schwarz over nlist
    assert(imb >= 1.0, s"imbalance factor below 1: $imb")
    // perfectly balanced bound: imbalance <= nlist * maxF / N
    assert(imb <= nCells.toDouble * maxF / nVecs + 1e-9,
      s"imbalance above its hot-cell bound")
  }

  test("ivf_stats quantile cuts are rank-exact, not interpolated") {
    // run the entry FIRST so the centroid fixture at the shared path
    // is the one fitted on this corpus, then replay the discrete cut
    // driver-side from the raw assignment
    val row = IvfSearch.ivfStats(spark, sf).head()
    val data = Tables.embeddings(spark, sf)
    val cents = spark.read.parquet(IvfSearch.CentroidExportPath)
        .orderBy("cell").collect()
        .map(_.getSeq[Float](1).toArray)
    val sizes = IvfSearch.assignCells(data, cents)
      .groupBy("cell").agg(count(lit(1)).as("sz"))
      .select("sz").collect().map(_.getLong(0)).sorted
    def cut(q: Double): Long = sizes(math.ceil(sizes.length * q).toInt - 1)
    assert(row.getLong(6) == cut(0.5), "p50 is the size at rank ceil(0.5*used)")
    assert(row.getLong(7) == cut(0.99), "p99 is the size at rank ceil(0.99*used)")
  }
}
