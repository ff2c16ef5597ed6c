package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.{Lsh, LshParams}

/**
 * The driver-side delta build ([[LshIndex.buildLocal]], behind
 * [[IndexMaintenance.buildDelta]]) must produce exactly the rows of the
 * distributed [[LshIndex.build]] on the same codes: membership,
 * summaries with their representative codes, and the probe map.
 */
class LocalDeltaBuildSpec extends SparkSpecBase {
  import spark.implicits._

  private def codesDf(rows: Seq[(Long, Int, Int, Long, Array[Long])]): DataFrame =
    rows.toDF("id", "t", "d", "key", "code")

  private def layout(b: LshIndex.Built) = {
    val members = b.membership.select("id", "t", "d", "block", "key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSeq.sorted
    val blocks = b.summaries
      .select("t", "d", "block", "min_key", "max_key", "n", "rep_code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getSeq[Long](6).toList))
      .toSeq.sortBy(x => (x._1, x._2, x._3))
    val probeMap = b.collected.map { case (td, s) =>
      td -> (s.minKey.toList, s.maxKey.toList, s.rep.map(_.toList).toList)
    }
    (members, blocks, probeMap)
  }

  private def assertSameAsBuild(codes: DataFrame, blockSize: Int): Unit = {
    val local = IndexMaintenance.buildDelta(codes, blockSize)
    val dist = LshIndex.build(codes, blockSize)
    val (lm, lb, lp) = layout(local)
    val (dm, db, dp) = layout(dist)
    assert(lm == dm, s"membership differs at blockSize $blockSize")
    assert(lb == db, s"summaries differ at blockSize $blockSize")
    assert(lp == dp, s"probe map differs at blockSize $blockSize")
    assert(local.membership.schema.map(f => f.name -> f.dataType) ==
      dist.membership.schema.map(f => f.name -> f.dataType))
    assert(local.summaries.schema.map(f => f.name -> f.dataType) ==
      dist.summaries.schema.map(f => f.name -> f.dataType))
  }

  test("fixture codes: local delta build equals the distributed build") {
    val emb = Tables.embeddings(spark, sf)
    val model = Lsh.fit(emb, "embedding", LshParams())
    val codes = IndexMaintenance.stageCodes(
      emb.filter(col("vec_id") < 100), "vec_id", "embedding", model)
    // 100 per (t, d): one partial block at 64, a ragged tail at 7
    Seq(64, 7).foreach(assertSameAsBuild(codes, _))
  }

  test("duplicate keys tie-break by id exactly like the distributed sort") {
    val keys = Seq(5L, 5L, 5L, 3L, 3L, 9L, 5L, 1L, 9L, 3L)
    val rows = keys.zipWithIndex.map { case (k, i) =>
      ((100 - i).toLong, 0, 0, k, Array(k << 1 | (i & 1), i.toLong)) }
    Seq(1, 3, 4, 64).foreach(assertSameAsBuild(codesDf(rows), _))
  }

  test("a (t, d) whose count is not a multiple of blockSize keeps its ragged last block") {
    val rows = (0 until 7).map(i => (i.toLong, 1, 2, (i * 37 % 11).toLong, Array(i.toLong))) ++
      (0 until 6).map(i => (i.toLong, 0, 0, i.toLong, Array(i.toLong, 1L)))
    assertSameAsBuild(codesDf(rows), 3)
  }

  test("a single-row batch is one block per (t, d) with itself as representative") {
    assertSameAsBuild(codesDf(Seq((42L, 0, 0, 17L, Array(34L)))), 64)
    val local = IndexMaintenance.buildDelta(codesDf(Seq((42L, 0, 0, 17L, Array(34L)))), 64)
    assert(local.collected.keySet == Set((0, 0)))
    assert(local.collected((0, 0)).rep.head.toList == List(34L))
  }

  test("an empty (t, d) gets no blocks and no probe-map entry; an empty batch builds empty") {
    val rows = (0 until 5).flatMap(i => Seq(
      (i.toLong, 0, 0, i.toLong * 3, Array(i.toLong)),
      (i.toLong, 0, 2, 20L - i, Array(i.toLong + 7))))
    assertSameAsBuild(codesDf(rows), 2)
    assert(!IndexMaintenance.buildDelta(codesDf(rows), 2).collected.contains((0, 1)))
    val empty = codesDf(Seq.empty)
    assertSameAsBuild(empty, 64)
    assert(IndexMaintenance.buildDelta(empty, 64).collected.isEmpty)
  }

  test("the driver-side build and its probe map run no Spark job") {
    val codes = LshIndex.collectCodes(codesDf(
      (0 until 50).map(i => (i.toLong, i % 2, 0, (i * 7919 % 101).toLong, Array(i.toLong)))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val local = LshIndex.buildLocal(spark, codes.toSeq, 4)
      assert(local.collected.keySet == Set((0, 0), (1, 0)))
      Thread.sleep(1000) // listener bus is async; drain before reading
      assert(jobs.get() == 0, s"driver-side build ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
