package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.SemDedup
import graft.query.{IvfSearch, MrlSearch, PqSearch, SqSearch}

/**
 * Scale-ramp evidence for the EMBEDDING stack (r11 VERDICT #3): the
 * celled serving tiers, the filtered PQ path, the rotated-prefix MRL
 * tier, knn_join, and both semantic-dedup forms, timed at sf0.1 and
 * replicated corpora 10x / 100x / 400x (5k → 200k vectors), writing
 * one JSON artifact (SCALE_rNN.json). Until this harness the
 * embedding entries' scale posture rested on plan audits alone.
 *
 * Replication is HONEST about geometry: replica k>0 rescales every
 * coordinate by a deterministic per-(replica, dim) factor in
 * [0.5, 1.5) (hash-derived), so a vector and its replicas are NOT
 * semantic near-dups (measured cosine ~0.96 < SemTau 0.995) and the
 * dedup rows never degenerate into an all-replica clique; vec_ids
 * stride by 10M per replica. Planted EXACT copies (10 per corpus, at
 * a +5M id offset) keep the dedup outputs non-trivial at every scale.
 *
 * Serving methodology: models are fitted and the index tables (cells,
 * codes, dequantized/prefix representations) STAGED to parquet once
 * per scale OUTSIDE the timers — the resident-index production shape;
 * the timed quantity is what a serving tier actually pays per query
 * batch (probe join over the staged tables, distance work, bounded
 * windows). dedup_semantic_delta likewise stages the resident base
 * assignment once and times the merge's marginal cost. dedup_semantic
 * and knn_join time their full plans — their work is corpus-sized by
 * definition (every row is assigned / every row is a query), and the
 * ramp exists to show HOW it grows: cells scale ~sqrt(N) so per-cell
 * fill grows ~sqrt(N), making knn_join ~N·sqrt(N) by design — the
 * number the artifact should show, because at 100 TB that is why you
 * shard knn_join by cell rather than hoping it is linear.
 */
object EmbedScaleRamp {

  /** Per-(replica, dim) coordinate rescale in [0.5, 1.5): hash-derived,
    * deterministic, applied identically on every run. */
  private def replicate(emb: DataFrame, copies: Int): DataFrame =
    (1 until copies).foldLeft(emb) { (acc, k) =>
      acc.unionByName(emb.select(
        (col("vec_id") + k.toLong * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x * (lit(0.5) + pmod(xxhash64(lit(k), j), lit(1000)).cast("double") / 1000.0))
            .cast("float")).as("embedding"),
        col("label")))
    }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE_r12.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)

    def mat(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 1L
    }

    val baseEmb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select("vec_id", "embedding", "label")

    // materialized replicated corpora (+10 planted exact copies each)
    def corpusDir(copies: Int, tag: String): String = {
      val dir = s"/root/repo/tmp/scale/emb_$tag"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val rep = replicate(baseEmb, copies)
        rep.unionByName(rep.filter(col("vec_id") < 10)
            .select((col("vec_id") + 5000000L).as("vec_id"),
              col("embedding"), col("label")))
          .repartition(32).write.mode("overwrite").parquet(dir)
      }
      dir
    }

    val scales: Seq[(String, Int)] =
      Seq("x1" -> 1, "x10" -> 10, "x100" -> 100, "x400" -> 400)

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    def rampAt(tag: String, copies: Int): (String, Long, Int, Long, Seq[(String, Double)]) = {
      val dir = corpusDir(copies, tag)
      val corpus = spark.read.parquet(dir)
      val n = corpus.count()
      val nCells = IvfSearch.scaledCells(n)
      // frozen models, fitted once per scale OUTSIDE the timers
      // (centroid/rotation fits are sample-bounded by construction;
      // SQ params and the PQ codebook pay their documented fit passes)
      val cents = IvfSearch.fitCentroids(corpus, nCells, Some(s"embramp:$tag"))
      val (vmin, delta) = SqSearch.fitParams(corpus)
      val cb = PqSearch.fitCodebookOn(corpus, "embedding", s"embramp-cb:$tag")
      val comps = graft.operators.Embeddings.mrlRotationOf(corpus, 64 / MrlSearch.PrefixShare)
      // resident index tables, staged once per scale
      def staged(name: String)(mk: => DataFrame): DataFrame = {
        val d = s"$dir-$name"
        if (!new java.io.File(s"$d/_SUCCESS").exists())
          mk.write.mode("overwrite").parquet(d)
        spark.read.parquet(d)
      }
      val cells = staged("cells")(IvfSearch.assignCells(corpus, cents))
      val cellsLab = staged("cellslab")(IvfSearch.assignCells(corpus, cents, Seq("label")))
      val dvecs = staged("dvecs")(corpus.select(col("vec_id"),
        SqSearch.sqRecon(SqSearch.sqCodes(col("embedding"), vmin, delta),
          vmin, delta).as("dvec")))
      val codes = staged("codes")(corpus.select(col("vec_id"),
        PqSearch.pqCodes(col("embedding"), cb).as("codes")))
      val pvecs = staged("pvecs")(MrlSearch.buildIndexOn(spark, corpus, cents, comps).pvecs)
      val baseAssign = staged("baseassign")(
        SemDedup.assignWithCentSim(corpus.filter(col("vec_id") % 11 =!= 0), cents)
          .select(col("vec_id"), col("cell")))
      val maxFill = cells.groupBy("cell").count().agg(max("count")).head().getLong(0)
      val fetch = corpus.select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < 20).cache()
      queries.count()
      val sd = graft.config.GraftConfig.active.semdedup

      val ops: Seq[(String, () => Long)] = Seq(
        "ann_ivfsq_topk" -> (() => mat(SqSearch.ivfsqTopKForQueries(
          spark, queries, cells, dvecs, fetch, cents))),
        "ann_ivfpq_filtered_topk" -> (() => mat(PqSearch.ivfpqFilteredTopKForQueries(
          spark, queries, cellsLab, codes, fetch, cents, cb))),
        "ann_ivfmrl_topk" -> (() => mat(MrlSearch.ivfmrlTopKForQueries(
          spark, queries, cells, pvecs, fetch, cents, comps))),
        "knn_join" -> (() => mat(IvfSearch.knnJoinPlan(corpus,
          10, IvfSearch.NumProbes, cents,
          graft.config.GraftConfig.active.ivf.maxCandidates))),
        "dedup_semantic" -> (() => mat(SemDedup.semanticDedupPlan(
          corpus, cents, SemDedup.SemTau, sd.maxCell))),
        "dedup_semantic_delta" -> (() => mat(SemDedup.semanticPairsDelta(
          baseAssign,
          SemDedup.assignWithCentSim(corpus.filter(col("vec_id") % 11 === 0), cents)
            .select(col("vec_id"), col("cell")),
          corpus, SemDedup.SemTau, sd.maxCell))))
      // NO SILENT CAPS: knn_join is dropped at x400 and the drop is
      // logged here AND in the artifact note. The op is N·~sqrt(N) by
      // design (all N vectors are queries; per-query candidates grow
      // with the ~sqrt(N) cell fill); at 200k vectors its candidate
      // stream exceeds the sandbox's transient spill budget (measured
      // >79 GB before dying at x100 pre-skinny-projection; x400 is 8×
      // that). At 100 TB this op runs cell-sharded over the bucketed
      // table (the §2 row's argument) — a single-box ramp past x100
      // measures the sandbox's disk, not the plan.
      val filtered = ops
        .filter { case (op, _) => only.forall(_.contains(op)) }
        .filter { case (op, _) =>
          val keep = !(op == "knn_join" && copies > 100)
          if (!keep) System.err.println(s"[embscale] $tag $op SKIPPED (see note)")
          keep
        }

      val times = filtered.map { case (op, f) =>
        val secs = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          queries.cache(); queries.count()
          val t0 = System.nanoTime()
          f()
          (System.nanoTime() - t0) / 1e9
        }.min
        System.err.println(f"[embscale] $tag $op ${secs}%.2f s")
        op -> secs
      }
      // cell-sharded knn_join — the 100 TB form measured (r12 VERDICT
      // #3): shard count scales with N so each shard homes ~20k
      // vectors (the x10 corpus size); each shard is an INDEPENDENT
      // job (probe-adjacency manifest → bounded join + windows), so
      // the per-shard wall time is the number a 1000-executor cluster
      // pays per shard — the claim is that it stays bounded while N
      // grows 400x, where the unsharded single job died of sort spill
      // past x100. Shards timed sequentially here; a cluster runs
      // them in parallel.
      // DEDICATED MODE, opt-in via SPARK_GRAFT_ONLY=knn_join_sharded:
      // a default full ramp does NOT pay the ~20 extra minutes of
      // per-shard timing (8 sampled shards × ~130-157 s each at x400)
      val shardStats: Seq[(String, Double)] =
        if (only.exists(_.contains("knn_join_sharded"))) {
          val nShards = math.max(1, math.ceil(n / 20000.0).toInt)
          // NO SILENT CAPS: shards are independent identical jobs, so
          // the per-shard wall-time distribution is measured on an
          // evenly-spaced SAMPLE (≤ SPARK_GRAFT_SHARD_SAMPLE, default
          // 8) and the sampled/total counts ship in the artifact —
          // timing all 41 x400 shards sequentially would measure 90
          // minutes of queueing on one box, not the per-job cost a
          // cluster pays.
          val cap = sys.env.getOrElse("SPARK_GRAFT_SHARD_SAMPLE", "8").toInt
          val picks = if (nShards <= cap) (0 until nShards).toSeq
            else (0 until cap).map(j => j * nShards / cap)
          // SPARK_GRAFT_SHARD_STAGED=1: shards read the RESIDENT
          // home-assignment table (staged once per corpus generation —
          // the production posture) instead of re-assigning all N
          // map-side per shard; the in-plan default prices the
          // self-contained job
          val homes = if (sys.env.get("SPARK_GRAFT_SHARD_STAGED").contains("1"))
            Some(staged("homes")(IvfSearch.assignCells(corpus, cents, Seq("embedding"))))
          else None
          val perShard = picks.map { i =>
            val t0 = System.nanoTime()
            mat(IvfSearch.knnJoinShard(corpus, 10, IvfSearch.NumProbes, cents,
              graft.config.GraftConfig.active.ivf.maxCandidates, nShards, i, homes))
            val s = (System.nanoTime() - t0) / 1e9
            System.err.println(
              f"[embscale] $tag knn shard $i/$nShards ${s}%.2f s (sampling ${picks.length})")
            s
          }.sorted
          Seq("knn_shards" -> nShards.toDouble,
            "knn_shards_sampled" -> picks.length.toDouble,
            "knn_shard_min" -> perShard.head,
            "knn_shard_med" -> perShard(perShard.length / 2),
            "knn_shard_max" -> perShard.last)
        } else Nil
      // DEDICATED MODE, opt-in via SPARK_GRAFT_ONLY=knn_join_delta:
      // incremental graph maintenance priced at the delta shape it
      // exists for — a LOCALIZED recrawl (new content concentrated in
      // a ~1% slice of cells, the real merge shape), against resident
      // staged homes. The bench entry's id-mod carve is the honest
      // WORST case (the delta lands in every cell, so the reverse
      // patch touches ~every base query and the incremental form
      // costs MORE than a rebuild at sf0.1); this ramp measures the
      // localized case where the patch is the point — and keeps
      // running at x400, where the unsharded rebuild cannot.
      val deltaStats: Seq[(String, Double)] =
        if (only.exists(_.contains("knn_join_delta"))) {
          val homes = staged("homes")(IvfSearch.assignCells(corpus, cents, Seq("embedding")))
          // deterministic ~1%-of-cells content region (≥1 cell; the
          // cell list is driver-sized by construction)
          val allCells = homes.select("cell").distinct().collect()
            .map(_.getInt(0)).sorted
          val hashed = allCells.filter(c =>
            java.lang.Long.remainderUnsigned(
              scala.util.hashing.MurmurHash3.stringHash(s"deltacell:$c").toLong, 100L) == 0L)
          val deltaCells = if (hashed.nonEmpty) hashed else allCells.take(1)
          val isDeltaCell = col("cell").isin(deltaCells.map(Integer.valueOf): _*)
          val deltaHomes = homes.filter(isDeltaCell).cache()
          val nDelta = deltaHomes.count()
          val baseHomes = homes.filter(!isDeltaCell)
          val secs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            mat(IvfSearch.knnJoinDeltaPlan(10, IvfSearch.NumProbes, cents,
              graft.config.GraftConfig.active.ivf.maxCandidates,
              baseHomes, deltaHomes))
            (System.nanoTime() - t0) / 1e9
          }.min
          System.err.println(
            f"[embscale] $tag knn_join_delta ${secs}%.2f s ($nDelta delta vecs)")
          deltaHomes.unpersist()
          Seq("knn_delta_vecs" -> nDelta.toDouble,
            "knn_join_delta" -> secs)
        } else Nil
      queries.unpersist()
      (tag, n, nCells, maxFill, times ++ shardStats ++ deltaStats)
    }

    // warm-up at the smallest scale (JIT + codegen outside timings)
    rampAt("x1", 1)

    val rows = scales.map { case (tag, copies) => rampAt(tag, copies) }

    val json = rows.map { case (tag, n, c, mf, times) =>
      val ts = times.map { case (op, s) => f""""$op":$s%.3f""" }.mkString(",")
      s""""$tag":{"vecs":$n,"cells":$c,"max_cell_fill":$mf,$ts}"""
    }.mkString(
      s"""{"note":"embedding-side ramp: sf0.1 embeddings replicated 10x/100x/400x with per-(replica,dim) coordinate rescale in [0.5,1.5) (replicas are NOT near-dups, measured cos ~0.96 < tau 0.995) and +10M vec_id strides; 10 planted exact copies per corpus; models fitted and index tables staged OUTSIDE timers (resident-index shape); min of $reps reps; knn_join (unsharded) DELIBERATELY absent at x400 — it is N*sqrt(N) by design (every vector queries, cell fill grows ~sqrt(N)) and past x100 a single box measures its own spill disk, not the plan; the knn_shard_* rows ARE that production form measured: cells hashed into ceil(N/20k) shards, each shard an independent job (probe-adjacency manifest -> bounded join+windows, union == unsharded graph, spec-asserted), run in parallel on a cluster; per-shard wall time is the per-job cost, measured on an evenly-spaced sample of knn_shards_sampled of knn_shards shards (shards are identical independent jobs; timing all of them sequentially would measure one box's queueing, not the plan); the knn_join_delta rows (opt-in) price INCREMENTAL graph maintenance at the merge shape it exists for: a localized recrawl (all content in a deterministic ~1% slice of cells) patched against the resident staged homes — forward edges + reverse re-cut of the base queries probing a delta cell — vs knn_join's full rebuild at the same scale; the bench entry's id-mod carve is the honest WORST case (delta in every cell -> patch touches ~every query)","scales":{""",
      ",", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
