package graft

import org.apache.spark.sql.functions._

import graft.query.IvfSearch

class IvfRebalanceSpec extends SparkSpecBase {

  test("planted skew: the fat cell splits, children partition it, imbalance drops") {
    import spark.implicits._
    // 3 tight far-apart anchors + one FAT cluster of 60 points: with
    // 4 centroids the fat cluster owns one cell at ~15x the others.
    // vec_ids interleave the first point of each cluster so the
    // vec_id-pinned k-means init spans the clusters (init = first C
    // sample points)
    def pt(cx: Double, i: Int): Array[Float] =
      Array((cx + 0.001 * i).toFloat, (0.001 * i).toFloat)
    val rows =
      Seq((0L, pt(0.0, 0)), (1L, pt(50.0, 0)), (2L, pt(100.0, 0)), (3L, pt(150.0, 0))) ++
      (1 until 4).map(i => (10L + i, pt(0.0, i))) ++
      (1 until 4).map(i => (20L + i, pt(50.0, i))) ++
      (1 until 4).map(i => (30L + i, pt(100.0, i))) ++
      (1 until 60).map(i => (100L + i, pt(150.0, i)))
    val data = rows.toDF("vec_id", "embedding")
    val cents = IvfSearch.fitCentroids(data, 4)
    val before = IvfSearch.assignCells(data, cents)
      .groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fat = before.maxBy(_._2)._1
    val plan = IvfSearch.rebalancePlan(data, cents, budget = 1)
    // one split: the fat cell, everything else kept
    val children = plan.filter(_._2 == "child")
    assert(children.length == 2 && children.forall(_._3 == fat))
    assert(plan.count(_._2 == "kept") == cents.length - 1)
    // children partition the old fat cell's members: total preserved,
    // and the fat cell's fill is now spread over two cells
    val newCents = plan.map(_._1)
    val after = IvfSearch.assignCells(data, newCents)
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(after.sum == rows.length)
    def imbalance(szs: Seq[Long], nlist: Int): Double = {
      val n = szs.sum.toDouble
      nlist * szs.map(s => s.toDouble * s).sum / (n * n)
    }
    assert(imbalance(after.toSeq, plan.length) <
      imbalance(before.values.toSeq, cents.length),
      "splitting the fat cell must reduce the imbalance factor")
    assert(after.max < before.values.max, "max fill must drop")
  }

  test("corpus entry: budget/lineage accounting and fill conservation") {
    val out = IvfSearch.ivfRebalance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val data = Tables.embeddings(spark, sf)
    val n = data.count()
    assert(out.map(_._4).sum == n, "every vector lands in exactly one new cell")
    val children = out.filter(_._2 == "child")
    val kept = out.filter(_._2 == "kept")
    assert(children.nonEmpty, "the budget always splits at least one cell")
    assert(children.length % 2 == 0, "two children per split cell")
    // lineage: children reference pre-rebalance cells, kept are -1
    assert(kept.forall(_._3 == -1))
    assert(children.forall(_._3 >= 0))
    assert(children.map(_._3).distinct.length == children.length / 2)
    // cell ids are dense 0..n-1 (the new layout is a valid index)
    assert(out.map(_._1).sorted.toSeq == out.indices.toSeq)
  }

  test("serving hot-swap: rebalanced layout ships between micro-batches, zero downtime") {
    import graft.query.IvfSearch
    import graft.streaming.AnnServe
    def tmp(name: String): String = {
      val d = s"/root/repo/target/tmp/serveivf/$name"
      graft.util.Io.deleteRecursively(d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      d
    }
    val data = Tables.embeddings(spark, sf)
    val cents = IvfSearch.fitCentroids(data, 8)
    val rebal = IvfSearch.rebalancePlan(data, cents, budget = 1).map(_._1)
    val qA = data.filter(col("vec_id") < 10).select("vec_id", "embedding")
    val qB = data.filter(col("vec_id").between(10, 19)).select("vec_id", "embedding")
    val in = tmp("in"); val out = tmp("out"); val ckpt = tmp("ckpt")
    qA.coalesce(1).write.mode("overwrite").parquet(s"$in/b=000")
    qB.coalesce(1).write.mode("overwrite").parquet(s"$in/b=001")
    val layout = new AnnServe.IvfLayoutRef(cents)
    val stream = spark.readStream.schema(qA.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/b=*")
    val q = AnnServe.serveIvf(stream.toDF(), data, layout,
      k = 5, nProbe = 3, out, ckpt,
      afterBatch = id => if (id == 0) layout.cents = rebal)
    q.awaitTermination(180000)
    def served(batch: Int) = spark.read.parquet(out)
      .filter(col("batch_id") === batch).drop("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    def batchPlan(qs: org.apache.spark.sql.DataFrame, cs: Array[Array[Float]]) =
      IvfSearch.ivfTopK(spark, data, qs, 5, 3, cs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // batch 0 served under the ORIGINAL layout, batch 1 under the
    // rebalanced one — each equal to its batch-plan twin
    assert(served(0) == batchPlan(qA, cents))
    assert(served(1) == batchPlan(qB, rebal))
    // the swap genuinely changes the layout the plan probes
    assert(rebal.length == cents.length + 1)
  }
}
