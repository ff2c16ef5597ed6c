package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/**
 * Structural plan assertions: the scale posture (pushdown, broadcast,
 * no accidental cartesians) is part of each operator's contract, not
 * an accident of the current optimizer mood. These read the formatted
 * physical plan the same way a human plan review does.
 */
class PlanPostureSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q6: filters push down to the parquet scan") {
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters:") &&
      p.split("PushedFilters:")(1).takeWhile(_ != '\n').contains("l_shipdate"),
      s"q6 scan must push the shipdate range:\n$p")
    // column pruning: the wide lineitem scan reads only what q6 needs
    val read = p.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(!read.contains("l_orderkey"), s"q6 must not read l_orderkey: $read")
  }

  test("q3/q5: dimension joins broadcast") {
    assert(plan("q3_shipping").contains("BroadcastHashJoin"))
    val p5 = plan("q5_local_volume")
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("ANN serving plans contain no cartesian product") {
    for (name <- Seq("ann_lsh_topk", "ann_lsh_topk_distjoin", "ann_lsh_filtered_topk",
        "query_token", "ann_lsh_topk_delta")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian:\n$p")
    }
  }

  test("dedup band joins are equi-joins (hash-partitioned), not nested loops") {
    // the real plan of the shared bucket kernel over a corpus with one
    // bucket far above maxBucket: the planted corpus plus 200 verbatim
    // copies of doc 7, so each of that text's 16 band buckets holds
    // >= 200 rows against a guard of 20
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.dedup.{Dedup, DeltaMerge}
    val maxBucket = 20
    val hotBase = 900000L
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val hot = docs.filter(col("doc_id") === 7)
      .select(explode(sequence(lit(hotBase), lit(hotBase + 199))).as("doc_id"), col("text"))
    val corpus = Dedup.withPlantedNearDups(docs, 5, mutate = true).unionByName(hot)
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(corpus, "doc_id", "text", 64, 3)
      .withColumn("d", lit(1)), 64, 4).cache()
    val cands = DeltaMerge.bucketCandidates(bands, Seq("band", "band_hash"), Seq("d"),
      maxBucket, (_, _) => lit(true))
    val got = cands.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet

    // the final adaptive plan of the execution that ran
    val p = planOf(cands)
    assert(p.contains("== Final Plan =="), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the bucket kernel must stay on equi-joins:\n$p")
    // every collect_list aggregate reads from the hot-bucket left-anti
    // join: a bucket over the guard is never assembled into one row
    def strip(q: SparkPlan): SparkPlan = q match {
      case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
      case s: QueryStageExec => strip(s.plan)
      case other => other
    }
    def nodes(q: SparkPlan): Seq[SparkPlan] = { val n = strip(q); n +: n.children.flatMap(nodes) }
    def input(q: SparkPlan): SparkPlan = strip(q) match {
      case u: UnaryExecNode => input(u.child)
      case other => other
    }
    val collects = nodes(cands.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[CollectList]) => a
    }
    assert(collects.nonEmpty, s"no collect_list aggregate in the kernel plan:\n$p")
    collects.foreach { a =>
      input(a.child) match {
        case j: BaseJoinExec =>
          assert(j.joinType == LeftAnti, s"collect_list reads from a ${j.joinType} join:\n$p")
        case other =>
          fail(s"collect_list reads from ${other.nodeName}, not the hot-bucket anti-join:\n$p")
      }
    }

    // pairs unchanged: the guarded band self-join, built independently
    val sized = bands.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
    val guarded = bands.join(sized.filter(col("n") <= maxBucket), Seq("band", "band_hash"))
    val want = guarded.as("x").join(guarded.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"only-kernel=${(got -- want).take(5)} only-self-join=${(want -- got).take(5)}")
    assert(got.nonEmpty, "the planted near-dups must still pair")
    assert(!got.exists { case (a, b) => a >= hotBase || b >= hotBase || a == 7L || b == 7L },
      "no member of the hot buckets may pair")
    bands.unpersist()
  }

  test("decontaminate: benchmark n-gram set broadcasts; no cartesian anywhere") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark gram set must broadcast (eval sets are small):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pii_scrub and quality_filter are map-only (no exchange in the plan)") {
    for (name <- Seq("pii_scrub", "quality_filter")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
      assert(p.contains("codegen id"), s"$name should stay codegen'd:\n$p")
    }
  }

  test("data_mix: no global sort; u-prefix threshold joins broadcast") {
    val p = plan("data_mix")
    // the stratum window (and the tiny histogram aggs) hash-partition;
    // a global order-by would show a rangepartitioning exchange
    assert(p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"data_mix must hash-partition by stratum, never sort globally:\n$p")
    // the per-stratum threshold-bin table reaches the corpus side broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"the admit-prefix threshold table must broadcast:\n$p")
  }

  test("seq_pack: running-sum window partitions by (stratum, bucket), not stratum alone") {
    val p = plan("seq_pack")
    assert(!p.contains("rangepartitioning"),
      s"seq_pack must not sort globally:\n$p")
    // the big-side window keys include the doc_id-range bucket — the
    // guarantee that no reducer sees a whole stratum
    val windowed = p.split("windowspecdefinition\\(").toSeq.tail
    assert(windowed.exists { w =>
      val head = w.takeWhile(_ != ')')
      head.contains("lang") && head.contains("bkt")
    }, s"seq_pack running-sum window must partition by (stratum, bkt):\n$p")
  }

  test("corpus_shuffle: corpus-side window partitions by bucket; no global sort of the corpus") {
    val p = plan("corpus_shuffle")
    // the only rangepartitioning allowed is the tiny per-bucket offsets
    // window (nBuckets rows); the corpus-side rank window must key on bkt
    val windowed = p.split("windowspecdefinition\\(").toSeq.tail
    assert(windowed.exists(_.takeWhile(_ != ')').contains("bkt#")),
      s"corpus_shuffle rank window must partition by bkt:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-bucket offset table must broadcast:\n$p")
  }

  test("embed_project is map-only: the matrix is a plan literal, no exchange") {
    val p = plan("embed_project")
    assert(!p.contains("Exchange"), s"embed_project must not shuffle:\n$p")
    assert(p.contains("codegen id"), s"embed_project should stay codegen'd:\n$p")
  }

  test("lm_score: vocab join hash-partitions; the 1-row total broadcasts; no global sort") {
    val p = plan("lm_score")
    assert(p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"lm_score must hash-partition on token/doc, never sort globally:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the single-row vocab total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("multimodal header decode is columnar: no object round-trip for meta; one codec stage for resize") {
    val pMeta = plan("multimodal_meta")
    assert(!pMeta.contains("DeserializeToObject") && !pMeta.contains("MapPartitions"),
      s"multimodal_meta's header read must not leave codegen:\n$pMeta")
    // resize keeps exactly its codec stage (the batched mapPartitions
    // contract); the header read-back of its OUTPUT is columnar
    val pResize = plan("multimodal_resize")
    // formatted plans print each operator twice (tree + detail section);
    // count the detail headers "(n) DeserializeToObject"
    val boundaries = "\\(\\d+\\) DeserializeToObject".r.findAllIn(pResize).length
    assert(boundaries == 1,
      s"multimodal_resize must pay the object boundary once (the codec), not twice:\n$pResize")
  }

  test("decontaminate_semantic: cell equi-joins only, no cartesian") {
    val p = plan("decontaminate_semantic")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"NL join in plan:\n$p")
  }

  test("corpus_stats: one corpus scan; the grand total windows the cell table") {
    val p = plan("corpus_stats")
    // exactly one parquet scan of documents — the total must NOT
    // trigger a second pass over the corpus. FormattedMode prints each
    // scan twice (tree line + numbered detail section), so one scan
    // node == two occurrences.
    assert(p.split("Scan parquet").length - 1 <= 2, s"multiple corpus scans:\n$p")
    assert(p.contains("Window"), s"total must come from a window:\n$p")
  }

  test("quality_classifier serving is map-only (weights ride as a literal)") {
    val pq = planOf(graft.text.QualityClassifier.score(
      graft.text.QualityClassifier.plantedDocs(Tables.documents(spark, sf)),
      "doc_id", "text", graft.text.QualityClassifier.plantedLabel,
      graft.text.QualityClassifier.QcModel(
        new Array[Double](graft.text.QualityClassifier.NumBuckets), 0.0, Array(0.0))))
    assert(!pq.contains("Exchange"), s"classifier scoring must not shuffle:\n$pq")
  }

  test("text_normalize is map-only") {
    val p = plan("text_normalize")
    assert(!p.contains("Exchange"), s"normalize must not shuffle:\n$p")
  }

  test("corpus_split is map-only; lm_score_bigram joins hash, never sorts globally") {
    val ps = plan("corpus_split")
    assert(!ps.contains("Exchange"), s"split must not shuffle:\n$ps")
    val pb = plan("lm_score_bigram")
    assert(!pb.contains("CartesianProduct"), s"cartesian in bigram plan:\n$pb")
    assert(!pb.contains("Sort [") || !pb.contains("global"),
      s"global sort in bigram plan:\n$pb")
  }

  test("quality_threshold: corpus side is one partial agg; ranks join broadcast") {
    val p = plan("quality_threshold")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rank probe table must broadcast:\n$p")
  }

  test("round-7 text entries: equi-joins only, no cartesian; url owner agg hashes") {
    for (name <- Seq("dedup_substring_apply", "url_filter")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must stay on equi-joins:\n$p")
    }
    // the trigram entry's one BNLJ is the documented lm_score posture:
    // the single-row corpus total broadcasts into the scoring projection
    val pt = plan("lm_score_trigram")
    assert(!pt.contains("CartesianProduct"), s"lm_score_trigram:\n$pt")
    // the 5-gram backoff scorer: same posture (the one BNLJ is the
    // 1-row corpus total). r15: the vocab joins are UNHINTED — AQE
    // picks the strategy from runtime shuffle sizes (broadcast at test
    // SFs, sort-merge once a vocab outgrows the threshold — the r14
    // kn5 unhinting finding applied family-wide), so the old
    // must-not-broadcast pin is gone; the scale guard is AQE's actual
    // byte count, not a static hint. Equi-join-only still holds.
    val p5 = plan("lm_score_5gram")
    assert(!p5.contains("CartesianProduct"), s"lm_score_5gram:\n$p5")
    assert(p5.contains("AdaptiveSparkPlan"),
      s"lm_score_5gram vocab-join strategy must be AQE-governed:\n$p5")
    // r16 (r15 verdict item 8): the AQE pin alone is near-vacuous in
    // Spark 4. The scale hazard is a SIZE-INDEPENDENT broadcast of a
    // corpus-sized vocab (a re-added broadcast()/hint). A stats-chosen
    // static broadcast is size-governed (estimates scale with the
    // input, so it reverts to SMJ at scale) and legitimately appears
    // at test SFs — so pin the hazard precisely: with the static
    // threshold disabled, any BroadcastHashJoin left in the initial
    // plan can only come from an explicit hint. Assert none; runtime
    // broadcasts stay AQE's call from real shuffle bytes.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p5nb = plan("lm_score_5gram")
      assert(!p5nb.contains("BroadcastHashJoin"),
        "lm_score_5gram vocab joins must not carry a size-independent " +
          s"(hinted) broadcast:\n$p5nb")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val pu = plan("url_filter")
    // the only shuffle is the per-URL owner partial agg (hash), never a sort
    assert(pu.contains("hashpartitioning") && !pu.contains("rangepartitioning"),
      s"url_filter must hash-partition on the url key:\n$pu")
    // the funnel: six composed stages, still no cartesian anywhere
    // and no corpus global sort (the LM cut is the no-sort quantile)
    val pc = plan("corpus_curate")
    assert(!pc.contains("CartesianProduct"), s"corpus_curate:\n$pc")
    assert(!pc.contains("rangepartitioning"),
      s"corpus_curate must not globally sort:\n$pc")
    // dsir: the fixed-B importance model must BROADCAST into the token
    // stream (it is <= 256 rows at any corpus size — the one table in
    // the text stack where broadcast is the provably-safe choice), and
    // nothing may sort the corpus
    val pd = plan("dsir_select")
    assert(!pd.contains("CartesianProduct"), s"dsir_select:\n$pd")
    assert(pd.contains("BroadcastHashJoin"),
      s"dsir_select importance model must broadcast:\n$pd")
    assert(!pd.contains("rangepartitioning"),
      s"dsir_select must not globally sort:\n$pd")
  }

  test("decontaminate_minhash: bench bands broadcast against the train side") {
    import org.apache.spark.sql.functions._
    // lazy band-join subplan (the entry materializes eagerly, so build
    // the join directly — the dedup band-join spec's discipline)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val mk = (df: org.apache.spark.sql.DataFrame) => graft.dedup.Dedup.minhashBands(
      graft.dedup.Dedup.minhashSignatures(df, "doc_id", "text", 64, 3), 64, 4)
    val tBands = mk(docs.filter(col("doc_id") % 17 =!= 0))
    val bBands = mk(docs.filter(col("doc_id") % 17 === 0))
      .select(col("id").as("bid"), col("band"), col("band_hash"))
    val p = planOf(tBands.join(broadcast(bBands), Seq("band", "band_hash")))
    assert(p.contains("BroadcastHashJoin"),
      s"bench bands must broadcast (eval suites are small):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("streaming coded ingest stays stateless (no state store in the plan)") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.query.AnnQuery.setupModel(spark, sf)
    val stream = graft.streaming.StreamingIngest.codedVectorStream(
      spark, sf.replace("sf0.001", "sf0.001") + "/embeddings.parquet", model, emb.schema)
    // analyzed logical plan: a pure projection chain — no aggregation,
    // no flatMapGroupsWithState
    val lp = stream.queryExecution.analyzed.toString()
    assert(!lp.contains("Aggregate") && !lp.contains("FlatMapGroupsWithState"), lp)
  }

  test("this-session entries: bloom verdict shuffle-free; pcapq ADC broadcasts, no cartesian") {
    val bloom = plan("decontaminate_bloom")
    // the verdict subtree is shuffle-free by construction; the ONLY
    // exchanges allowed in the demo entry come from the bench-prefix
    // PLANT join, never from the verdict (no per-gram explode join,
    // no per-doc aggregation exchange)
    assert(!bloom.contains("CartesianProduct"), bloom)
    assert(!bloom.contains("HashAggregate"),
      s"bloom verdict must not aggregate per doc — it is a projection:\n$bloom")
    val pcapq = plan("ann_pcapq_topk")
    assert(!pcapq.contains("CartesianProduct"),
      s"pcapq ADC must be a broadcast nested loop, not a cartesian:\n$pcapq")
    assert(pcapq.contains("BroadcastNestedLoopJoin") || pcapq.contains("BroadcastExchange"),
      s"pcapq query side must broadcast:\n$pcapq")
    val topk = plan("ngram_topk")
    assert(topk.contains("TakeOrderedAndProject"),
      s"ngram_topk global cut must be TakeOrdered, not a full sort:\n$topk")
  }

  test("mmr: corpus-sized candidate phase broadcasts the query side, no cartesian") {
    val p = plan("ann_mmr_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"mmr candidate scoring must broadcast the bounded query side:\n$p")
  }

  test("round-8 entries: SQ broadcasts, host_stats rolls up without expansion, CMS agg is cell-bounded") {
    // ann_sq_topk: the ADC pass is a broadcast nested loop over the
    // query batch; no cartesian, no shuffle before the rank windows
    val sq = plan("ann_sq_topk")
    assert(!sq.contains("CartesianProduct"), sq)
    assert(sq.contains("BroadcastNestedLoopJoin") || sq.contains("BroadcastExchange"),
      s"sq query side must broadcast:\n$sq")
    // ann_ivfsq_topk: probe join is an equi-join on cell (broadcast),
    // never a nested loop over the corpus
    val ivfsq = plan("ann_ivfsq_topk")
    assert(!ivfsq.contains("CartesianProduct"), ivfsq)
    assert(ivfsq.contains("BroadcastExchange"),
      s"ivfsq probe side must broadcast:\n$ivfsq")
    // host_stats: exactly two hash aggregations in sequence (url then
    // host rollup — each with partial+final), NO expand node (the
    // COUNT(DISTINCT) shape this plan exists to avoid)
    val hs = plan("host_stats")
    assert(!hs.contains("Expand"),
      s"host_stats must not plan a count-distinct Expand:\n$hs")
    assert(!hs.contains("CartesianProduct"), hs)
    // ngram_cms_topk: the sketch aggregation keys on (j, cell) — the
    // partial agg collapses map-side; no sort of the gram stream
    val cms = planOf(graft.operators.CorpusStats.cmsSketch(
      Tables.documents(spark, sf), "doc_id", "text", 3))
    assert(cms.contains("HashAggregate") && !cms.contains("Sort"),
      s"cms sketch must hash-aggregate, never sort:\n$cms")
    // token_count_unigram: map-only — one projection over the scan,
    // no exchange (dictionary export is a separate fixture write)
    val tcu = planOf(graft.text.Unigram.tokenCountUnigram(spark, sf))
    assert(!tcu.contains("Exchange"),
      s"unigram count must be map-only:\n$tcu")
  }

  test("bq: encode is map-only; Hamming scan broadcasts the query batch") {
    val eb = plan("embed_bq")
    assert(!eb.contains("Exchange"), s"embed_bq must be map-only:\n$eb")
    val bq = plan("ann_bq_topk")
    assert(bq.contains("BroadcastNestedLoopJoin") || bq.contains("BroadcastHashJoin"),
      s"the query batch must broadcast:\n$bq")
    assert(!bq.contains("CartesianProduct"), bq)
  }

  test("round-9 entries: merge stays on equi/broadcast joins; packing never sorts globally; diagnostics is one bounded agg") {
    // corpus_merge: staged-diff legs broadcast, band join is an
    // equi-join, nothing cartesian (plan built AFTER the entry stages
    // the diff + fixture — the write is part of the entry's contract)
    val cm = plan("corpus_merge")
    assert(!cm.contains("CartesianProduct") && !cm.contains("BroadcastNestedLoopJoin"),
      s"corpus_merge must stay on equi/broadcast joins:\n$cm")
    assert(cm.contains("BroadcastHashJoin"),
      s"the staged-diff id legs must broadcast:\n$cm")
    // pack_efficiency: the greedy folds group on (stratum, bkt) hash
    // aggregation; no global sort anywhere (list sorting happens
    // inside per-shard arrays, not as a Sort exchange)
    val pe = plan("pack_efficiency")
    assert(!pe.contains("rangepartitioning"),
      s"pack_efficiency must not globally sort:\n$pe")
    assert(!pe.contains("CartesianProduct"), pe)
    // embed_diagnostics: no join at all; the one exchange keys on the
    // dimension index (bounded by dim count, never corpus size)
    val ed = plan("embed_diagnostics")
    assert(!ed.contains("Join"), s"embed_diagnostics must be join-free:\n$ed")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(ed).length
    assert(exchanges == 1, s"embed_diagnostics must shuffle exactly once:\n$ed")
    assert(ed.contains("hashpartitioning(dim"),
      s"the one exchange must key on the dim index:\n$ed")
  }

  test("ivf_stats / data_mix_plan: one corpus agg, bounded-table windows, broadcast totals") {
    val iv = plan("ivf_stats")
    // the only window input is the nlist-row size table; the corpus
    // itself is reduced by the assignment's partial agg
    assert(iv.contains("HashAggregate"), iv)
    assert(!iv.contains("CartesianProduct"), iv)
    val mp = plan("data_mix_plan")
    assert(mp.contains("BroadcastNestedLoopJoin") || mp.contains("BroadcastExchange"),
      s"the one-row total must broadcast:\n$mp")
    assert(!mp.contains("Sort"), s"the plan table needs no sort:\n$mp")
  }

  test("IVF cell routing is map-side: no nested-loop centroid join; simsearch_ivf aggregates nothing") {
    val ivf = plan("simsearch_ivf")
    assert(!ivf.contains("BroadcastNestedLoopJoin") && !ivf.contains("HashAggregate"),
      s"simsearch_ivf must route map-side, with no assignment aggregate:\n$ivf")
    for (name <- Seq("embed_cluster", "ivf_stats", "sample_cluster_balanced")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name joins the centroids:\n$p")
    }
  }

  test("knn_join_sharded: every shard plan is cell-equi-join only — no cartesian, no corpus broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("knn_join_sharded")
      assert(!p.contains("CartesianProduct"), s"sharded knn has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"sharded knn must not fall back to a nested-loop broadcast:\n$p")
      // the probe->home join keys on cell (the manifest-pruned side)
      assert(p.contains("hashpartitioning(cell") || p.contains("SortMergeJoin"),
        s"the candidate join must be a cell equi-join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("knn_join_sharded_staged: shards route off the resident homes table — no per-shard re-assignment subtree") {
    val p = plan("knn_join_sharded_staged")
    assert(p.contains("knn_homes"),
      s"staged shards must scan the staged home-assignment table:\n$p")
    // the production posture: NO shard re-assigns the corpus — the
    // embeddings table never appears under any shard's subtree (the
    // in-plan twin pays one full map-side re-assignment per shard)
    assert(!p.contains("embeddings.parquet"),
      s"no shard may re-assign the corpus (no embeddings scan):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"staged sharded knn must stay equi-join only:\n$p")
  }

  test("knn_join_delta: both legs stay equi-join kernels off the resident homes — no cartesian, no corpus broadcast") {
    val p = plan("knn_join_delta")
    // the resident base homes come from the staged table; the only
    // embeddings scans are the delta assignment + probe expansion
    assert(p.contains("knn_homes"),
      s"the delta patch must read the resident staged homes:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"both delta legs must stay equi-join only:\n$p")
  }

  test("lm_score_kn5_staged: the score plan reads the resident model — no gram re-extraction of the train band") {
    val p = plan("lm_score_kn5_staged")
    assert(p.contains("lm5_model"),
      s"staged scoring must scan the staged model fixtures:\n$p")
    // exactly TWO documents scans survive: the score stream and the
    // doc_id spine of the final left join. The in-plan twin re-extracts
    // train grams once per model table (6+ further corpus scans).
    val docScans = "documents\\.parquet".r.findAllIn(p).length
    assert(docScans == 2,
      s"staged scoring must touch documents exactly twice (score stream + doc_id spine), saw $docScans:\n$p")
  }

  test("lm_score_kn5: equi-joins only; discount constants are plan literals") {
    val p = plan("lm_score_kn5")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"kn5 scoring must stay equi-join only:\n$p")
    // the discount constants landed as literals: no one-row cross join
    // of the count-of-counts aggregates survives into the score plan
    // (in-plan they re-inlined per use site and blew Janino's method
    // budget — the bench guards the codegen fallback; the plan guards
    // the structure that caused it)
    assert(!p.contains("CrossJoin"), s"kn5 constants must be plan literals:\n$p")
  }
}
