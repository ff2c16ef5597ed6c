package graft

import graft.query.{BqSearch, SqSearch}

/** The SQ/BQ oracle fixtures sit at one path per JVM; a memoized fit
  * must still re-export its corpus's values when another corpus wrote
  * the path in between (the hazard `FixtureExport` guards against). */
class FixtureOnMemoHitSpec extends SparkSpecBase {

  private val other = s"${new java.io.File(sf).getParent}/sf0.01"

  test("sq_params and bq_thresholds hold the sf0.001 fit after sf0.001 -> sf0.01 -> sf0.001") {
    Seq(sf, other, sf).foreach { dir =>
      SqSearch.fittedParams(spark, dir)
      BqSearch.fittedThresholds(spark, dir)
    }
    val (vmin, delta) = SqSearch.fitParams(Tables.embeddings(spark, sf))
    val sq = spark.read.parquet(SqSearch.ParamsExportPath).orderBy("d").collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Double]("vmin"), r.getAs[Double]("delta")))
    assert(sq.sameElements(vmin.indices.map(d => (d, vmin(d), delta(d)))),
      "sq_params fixture does not hold the sf0.001 fit")

    val thr = BqSearch.fitThresholds(Tables.embeddings(spark, sf))
    val bq = spark.read.parquet(BqSearch.ThresholdsExportPath).orderBy("d").collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Double]("thr")))
    assert(bq.sameElements(thr.indices.map(d => (d, thr(d)))),
      "bq_thresholds fixture does not hold the sf0.001 fit")
  }
}
