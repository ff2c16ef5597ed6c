package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.GraftSystem
import graft.crypto.{KeyLifecycle, VersionedCrypto}
import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.Lsh
import graft.query.AnnQuery

/**
 * The two ANN workloads over [[GraftSystem]], each a closed loop with
 * one client: the next operation is sent when the previous one has
 * finished.
 *
 *  - `ann_serve`: setup on [[N]] vectors, then batches of [[Batch]]
 *    held-out, never-repeated queries, top-[[K]].
 *  - `ann_lifecycle`: setup on [[N]] vectors, then cycles of insert
 *    ([[InsertBatch]] fresh vectors) + one query batch holding one
 *    just-inserted vector, touch of [[Touch]] ids + key rotation +
 *    key-usage collect, and every [[CompactEvery]]th cycle a
 *    compaction followed by one query batch.
 */
final class Ann(ctx: Ctx) {
  import Ann._
  private val spark = ctx.spark
  private val probe = ctx.probe
  private val mix = new Gen.Mixture(ctx.seed)

  /** Every vector the system holds, by id (base ids 0..N-1, inserted after). */
  private val vectors = mutable.ArrayBuffer.empty[Array[Float]]
  vectors ++= mix.points(Gen.Streams.Base, N)._2

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def local(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 1), schema)

  /** Inputs reach the system as parquet files, written before timing. */
  private def staged(name: String, firstId: Long, vs: Seq[Array[Float]]): DataFrame = {
    val path = s"${ctx.work}/$name.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) => Row(firstId + i, v.toSeq) }, ctx.cores), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private val base = staged("base", 0L, vectors.toSeq)

  /** Query batch `b`: fresh draws, never repeated across batches. */
  private def queryBatch(b: Int): Array[Array[Float]] =
    mix.points(Gen.Streams.Queries * 1000000L + b, Batch)._2

  private var nextQid = 0L

  /** Exact top-k ids by (L2, id) over every held vector. */
  private def exactTopK(q: Array[Float]): Array[Long] = {
    val bestD = Array.fill(K)(Double.PositiveInfinity)
    val bestI = Array.fill(K)(-1L)
    var i = 0
    while (i < vectors.length) {
      val d = l2(q, vectors(i))
      if (d < bestD(K - 1)) { // ids ascend with i: an equal distance keeps the lower id first
        var j = K - 1
        while (j > 0 && bestD(j - 1) > d) { bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1 }
        bestD(j) = d; bestI(j) = i
      }
      i += 1
    }
    bestI
  }

  /**
   * One query operation through the facade: build, plan and collect.
   * Checks: k rows per query ranked 1..k in distance order, each
   * distance equal to the exact L2 within rounding, and `fresh` (query
   * index -> expected id) at rank 1 with distance 0. Returns the
   * result's digest and the batch's recall@K.
   */
  private def query(sys: GraftSystem, kind: String, qs: Array[Array[Float]],
      fresh: Map[Int, Long] = Map.empty): (Sample, String, Seq[Double]) = {
    val qids = qs.indices.map(_ => { nextQid += 1; nextQid })
    val qdf = local(qids.zip(qs))
    val (rows, s) = probe.op(kind)(sys.query(qdf, K))(_.collect())
    val errs = mutable.ArrayBuffer.empty[String]
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    val recalls = qids.indices.map { qi =>
      val got = byQ.getOrElse(qids(qi), Array.empty[Row]).sortBy(_.getAs[Int]("rnk"))
      if (got.map(_.getAs[Int]("rnk")).toSeq != (1 to K))
        errs += s"query ${qids(qi)}: ranks ${got.map(_.getAs[Int]("rnk")).mkString(",")}"
      val dists = got.map(_.getAs[Double]("dist"))
      if (dists.toSeq != dists.sorted.toSeq) errs += s"query ${qids(qi)}: not in distance order"
      got.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val exact = if (id >= 0 && id < vectors.length) l2(qs(qi), vectors(id.toInt)) else Double.NaN
        if (!(math.abs(exact - r.getAs[Double]("dist")) <= 1e-3 + 1e-5 * exact))
          errs += s"query ${qids(qi)}: id $id distance ${r.getAs[Double]("dist")} vs exact $exact"
      }
      fresh.get(qi).foreach { id =>
        if (got.headOption.forall(r => r.getAs[Long]("vec_id") != id || r.getAs[Double]("dist") != 0.0))
          errs += s"fresh query for id $id: rank 1 is ${got.headOption.map(_.getAs[Long]("vec_id"))}"
      }
      val truth = exactTopK(qs(qi)).toSet
      got.count(r => truth.contains(r.getAs[Long]("vec_id"))).toDouble / K
    }
    ctx.attempt(kind, errs.toSeq)
    val digest = Ctx.digest(rows.toSeq.map(r =>
      s"${qids.indexOf(r.getAs[Long]("query_id"))}:${r.getAs[Long]("vec_id")}:${r.getAs[Int]("rnk")}"))
    (s, digest, recalls)
  }

  /**
   * Set-up, repeated [[Main.SetupReps]] times: `GraftSystem.setup` until
   * the first query batch has finished. Every repetition must return
   * the same first-batch result. Returns the last system.
   */
  private def setup(): GraftSystem = {
    var sys: GraftSystem = null
    val digests = mutable.ArrayBuffer.empty[String]
    val walls = (1 to Main.SetupReps).map { _ =>
      val (s, setupS) = probe.call("GraftSystem.setup")(GraftSystem.setup(spark, base))
      sys = s
      nextQid = 0L
      val (q, digest, _) = query(sys, "setup.query", queryBatch(0))
      digests += digest
      setupS.wallS + q.wallS
    }
    ctx.attempt("setup.digest",
      if (digests.distinct.size == 1) Nil else Seq(s"set-up results differ: ${digests.mkString(",")}"))
    ctx.e2e("setup_s", Ctx.median(walls), "s", walls.size)
    sys
  }

  def serve(): Unit = {
    val sys = setup()
    val recalls = mutable.ArrayBuffer.empty[Double]
    val walls = ctx.window() { b =>
      val (s, _, r) = query(sys, "GraftSystem.query", queryBatch(b))
      recalls ++= r
      s.wallS
    }
    ctx.e2e("op_p50_s", Ctx.median(walls), "s", walls.size)
    ctx.e2e("items_per_s", Batch * walls.size / walls.sum, "1/s", walls.size)
    ctx.e2e("quality", recalls.sum / recalls.size, "fraction", recalls.size)
    if (probe.traced) {
      verbs()
      queryModules(sys)
    }
  }

  def lifecycle(): Unit = {
    val sys = setup()
    val rnd = Gen.rng(ctx.seed, 7)
    val recalls = mutable.ArrayBuffer.empty[Double]
    val insertQuery, rotate, compact = mutable.ArrayBuffer.empty[Double]
    var lastInsert: DataFrame = null
    var lastTouched: DataFrame = null
    val cycles = ctx.window(CompactEvery) { c => // c = 1, 2, …: query batches 1.. are held out from set-up's batch 0
      // input generation, outside the timers
      val firstId = vectors.length.toLong
      val fresh = mix.points(Gen.Streams.insert(c), InsertBatch)._2
      val ins = staged(s"insert_$c", firstId, fresh.toSeq)
      vectors ++= fresh
      val pick = rnd.nextInt(InsertBatch)
      val qs = queryBatch(c)
      qs(Batch - 1) = fresh(pick)

      val (_, sIns) = probe.call("GraftSystem.insert")(sys.insert(ins))
      val (sQ, _, r) = query(sys, "GraftSystem.query", qs, Map(Batch - 1 -> (firstId + pick)))
      recalls ++= r
      insertQuery += sIns.wallS + sQ.wallS
      lastInsert = ins

      val touchedIds = Iterator.continually(rnd.nextInt(vectors.length).toLong).distinct
        .take(Touch).toSeq
      lastTouched = spark.createDataFrame(
        spark.sparkContext.parallelize(touchedIds.map(Row(_)), 1),
        StructType(Seq(StructField("id", LongType, nullable = false))))
      val (usage, sRot) = probe.op("GraftSystem.rotate") {
        sys.touch(lastTouched); sys.rotateKeys(); sys.keyUsage()
      }(_.collect())
      rotate += sRot.wallS
      val byKv = usage.map(u => u.getAs[Int]("kv") -> u.getAs[Long]("n_records")).toMap
      val errs = mutable.ArrayBuffer.empty[String]
      if (byKv.values.sum != vectors.length) errs += s"key usage counts ${byKv.values.sum} of ${vectors.length}"
      if (byKv.getOrElse(sys.currentVersion, 0L) != Touch)
        errs += s"version ${sys.currentVersion} holds ${byKv.getOrElse(sys.currentVersion, 0L)} of $Touch touched"
      ctx.attempt("GraftSystem.rotate", errs.toSeq)

      var wall = sIns.wallS + sQ.wallS + sRot.wallS
      if (c % CompactEvery == 0) {
        val (_, sC) = probe.call("GraftSystem.compact")(sys.compactNow())
        // a vector inserted in this cycle must now be served from the main index
        val qs2 = queryBatch(1000000 + c)
        qs2(Batch - 1) = fresh(pick)
        val (sQ2, _, r2) = query(sys, "compact.query", qs2, Map(Batch - 1 -> (firstId + pick)))
        recalls ++= r2
        compact += sC.wallS + sQ2.wallS
        wall += sC.wallS + sQ2.wallS
      }
      wall
    }
    ctx.e2e("op_p50_s", Ctx.median(insertQuery.toSeq), "s", insertQuery.size)
    ctx.e2e("items_per_s", InsertBatch * cycles.size / cycles.sum, "1/s", cycles.size)
    ctx.e2e("quality", recalls.sum / recalls.size, "fraction", recalls.size)
    ctx.detail("rotate_p50_s", Ctx.median(rotate.toSeq))
    ctx.detail("rotate_last_s", rotate.last)
    if (compact.nonEmpty) ctx.detail("compact_p50_s", Ctx.median(compact.toSeq))
    ctx.detail("compact.n", compact.size)
    if (probe.traced) {
      verbs()
      val rot = probe.of("GraftSystem.rotate")
      ctx.layer("crypto.rotate_records_per_touched",
        Ctx.median(rot.map(_.work.inputRecords.toDouble / Touch)), "ratio")
      queryModules(sys)
      lifecycleModules(sys, lastInsert, lastTouched)
    }
  }

  /** Per-verb facade numbers, medians over the window's operations. */
  private def verbs(): Unit = {
    Seq("query", "insert", "rotate", "compact").map(v => s"GraftSystem.$v").foreach { p =>
      val ss = probe.of(p)
      def med(f: Sample => Double): Double = if (ss.isEmpty) 0.0 else Ctx.median(ss.map(f))
      ctx.layer(s"$p.eager_s", med(_.eagerS), "s")
      if (ss.exists(_.plan.nonEmpty)) { // verbs that return a DataFrame
        ctx.layer(s"$p.plan_s", med(_.planS), "s")
        ctx.layer(s"$p.exec_s", med(_.execS), "s")
        ctx.layer(s"$p.bhj", med(_.plan.fold(0.0)(_.bhj)), "count")
        ctx.layer(s"$p.smj", med(_.plan.fold(0.0)(_.smj)), "count")
      }
      ctx.layer(s"$p.jobs", med(_.work.jobs.toDouble), "count")
      ctx.layer(s"$p.tasks", med(_.work.tasks.toDouble), "count")
      ctx.layer(s"$p.task_s", med(_.work.taskMs / 1e3), "s")
      ctx.layer(s"$p.shuffle_write_mb", med(_.work.shuffleWriteBytes / 1e6), "MB")
    }
    ctx.layer("GraftSystem.resident_mb", ctx.residentMb(), "MB")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Each module's public calls, timed on their own after the window. */
  private def queryModules(sys: GraftSystem): Unit = {
    val d = base.select("vec_id", "embedding")
    val fit = (1 to ModuleReps).map(_ => probe.call("lsh.fit")(Lsh.fit(d, "embedding", sys.model.params))._2)
    ctx.layer("lsh.fit_s", Ctx.median(fit.map(_.wallS)), "s")
    val builds = (1 to ModuleReps).map { _ =>
      probe.op("index.build")(LshIndex.build(
        LshIndex.codes(d, "vec_id", "embedding", sys.model), sys.blockSize)) { b =>
        noop(b.membership); noop(b.summaries); b
      }
    }
    val built = builds.last._1
    ctx.layer("index.build_s", Ctx.median(builds.map(_._2.wallS)), "s")
    ctx.layer("index.build.eager_jobs", Ctx.median(builds.map(_._2.eager.jobs.toDouble)), "count")
    val model = sys.model
    val per = (1 to ModuleReps).map { b =>
      val qs = queryBatch(2000000 + b)
      val qdf = local(qs.indices.map(i => (i.toLong, qs(i))))
      val codes = probe.op("lsh.query_codes")(AnnQuery.queryCodes(qdf, model))(_.collect())._2
      val (probed, probeS) = probe.op("query.probe")(AnnQuery.probeBlocks(spark, qdf, model, built)) { p =>
        noop(p); p
      }
      val cands = AnnQuery.candidateCounts(probed, built).collect()
        .map(_.getAs[Long]("n_candidates")).sum.toDouble / qs.length
      val (rows, refine) = probe.op("query.refine")(
        AnnQuery.refineFromProbes(probed, d, qdf, K, model, built))(_.collect())
      val refined = AnnQuery.boundedCandidates(probed, built, model.params, None, K).count()
      (codes.wallS, probeS.wallS, cands, refine.wallS, refined.toDouble / math.max(1, rows.length))
    }
    ctx.layer("lsh.query_codes_s", Ctx.median(per.map(_._1)), "s")
    ctx.layer("query.probe_s", Ctx.median(per.map(_._2)), "s")
    ctx.layer("query.candidates_per_query", Ctx.median(per.map(_._3)), "count")
    ctx.layer("query.refine_s", Ctx.median(per.map(_._4)), "s")
    ctx.layer("query.refined_per_result", Ctx.median(per.map(_._5)), "ratio")
  }

  private def lifecycleModules(sys: GraftSystem, ins: DataFrame, touched: DataFrame): Unit = {
    val reps = 1 to ModuleReps
    val delta = reps.map(_ => probe.op("index.delta_build")(IndexMaintenance.buildDelta(
      IndexMaintenance.stageCodes(ins, "vec_id", "embedding", sys.model), sys.blockSize)) { b =>
      noop(b.membership); noop(b.summaries)
    }._2.wallS)
    ctx.layer("index.delta_build_s", Ctx.median(delta), "s")
    val enc = reps.map(_ => probe.op("crypto.encrypt")(
      VersionedCrypto.encrypt(base, "vec_id", "embedding", 1))(noop)._2.wallS)
    ctx.layer("crypto.encrypt_s", Ctx.median(enc), "s")
    val rot = reps.map(_ => probe.op("crypto.rotate")(VersionedCrypto.rotateAllVersions(
      sys.encryptedStore, touched, sys.currentVersion + 1))(noop)._2.wallS)
    ctx.layer("crypto.rotate_s", Ctx.median(rot), "s")
    val use = reps.map(_ => probe.op("crypto.key_usage")(
      KeyLifecycle.keyUsage(sys.encryptedStore))(_.collect())._2.wallS)
    ctx.layer("crypto.key_usage_s", Ctx.median(use), "s")
  }
}

object Ann {
  val N = 20000
  val Batch = 20
  val K = 10
  val InsertBatch = 1000
  val Touch = 100
  val CompactEvery = 2
  /** Repetitions of each module call in the traced run. */
  val ModuleReps = 2

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }
}
