package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{SearchConfig, StabilizationConfig}
import graft.functions.VectorFunctions.vec_l2
import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.{Lsh, LshModel, LshParams}
import graft.query.AnnQuery

/**
 * The by-vector serving kernel (`AnnQuery.serve`) against the join and
 * window chain it replaced, ported here as the reference: row for row,
 * with the hard cap and the refinement bound both binding, and on the
 * corner cases the chain defined — soft deletes, distance ties, an
 * indexed id missing from the serving view, an empty delta, a
 * delta-only hit and staged vectors served from the main view. The
 * codes-only cut (`cappedCandidates`, `boundedCandidates`) is pinned to
 * the reference's cap and bound on the same probes, the candidate
 * counts (`candidateCounts`, `lshTierCounts`) to the reference's
 * distinct-id count, and `release()` drops the tables the probe paths
 * cache.
 */
class ServeKernelSpec extends SparkSpecBase {

  // ---- the reference: the join + window chain, as it served before ----

  /** Probed blocks joined to the ids they hold, block ids offset. */
  private def refMembers(probed: DataFrame, built: LshIndex.Built, offset: Int): DataFrame =
    broadcast(probed.select("qid", "t", "d", "block", "score"))
      .join(built.membership, Seq("t", "d", "block"))
      .withColumn("block", col("block") + offset)

  /** The candidate union under the hard cap, (qid, id, hamming). */
  private def refCapped(members: DataFrame, p: LshParams, deletedIds: Option[DataFrame],
      search: SearchConfig): DataFrame = {
    val firstOrd =
      shiftleft(least(col("t").cast("long"), lit(255L)), 55) +
        shiftleft(least(col("d").cast("long"), lit(63L)), 49) +
        shiftleft(least(col("score").cast("long"), lit((1L << 13) - 1)), 36) +
        least(col("block").cast("long"), lit((1L << 36) - 1))
    val all = members.groupBy(col("qid"), col("id"))
      .agg(min(col("score")).as("hamming"), min(firstOrd).as("first_ord"))
    val live = deletedIds.fold(all)(del =>
      all.join(broadcast(del.select(col("id"))), Seq("id"), "left_anti"))
    if (search.paperBaseline) live.select(col("qid"), col("id"), col("hamming"))
    else live
      .withColumn("cap_rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("first_ord"), col("id"))))
      .filter(col("cap_rank") <= p.hardCap)
      .select(col("qid"), col("id"), col("hamming"))
  }

  private def refBounded(members: DataFrame, p: LshParams, deletedIds: Option[DataFrame],
      k: Int, stab: StabilizationConfig, search: SearchConfig): DataFrame = {
    val capped = refCapped(members, p, deletedIds, search)
    if (search.paperBaseline) capped
    else {
      val limit: Column =
        if (!stab.enabled || k <= 0) lit(p.refinementLimit.toLong)
        else least(lit(p.refinementLimit.toLong),
          greatest(lit(math.max(k, stab.minCandidates).toLong),
            least(count(lit(1)).over(Window.partitionBy("qid")),
              lit(math.ceil(k * stab.targetRatio).toLong))))
      capped
        .withColumn("h_rank", row_number().over(
          Window.partitionBy("qid").orderBy(col("hamming"), col("id"))))
        .withColumn("h_limit", limit)
        .filter(col("h_rank") <= col("h_limit"))
        .select(col("qid"), col("id"), col("hamming"))
    }
  }

  private def refRefine(members: DataFrame, data: DataFrame, queries: DataFrame, k: Int,
      p: LshParams, deletedIds: Option[DataFrame], stab: StabilizationConfig,
      search: SearchConfig): DataFrame =
    refBounded(members, p, deletedIds, k, stab, search)
      .join(data.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))),
        Seq("qid"))
      .withColumn("dist", vec_l2(col("embedding"), col("qv")))
      .select(col("qid").as("query_id"), col("id").as("vec_id"), col("dist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))

  // ---- fixture ----

  private lazy val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
  /** The corpus plus exact copies of its first 150 vectors under new
    * ids: every copy ties its original on distance to any query. */
  private lazy val tied = emb.unionByName(
    emb.filter(col("vec_id") < 150).select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
  /** Small enough that both the hard cap (80) and the bound (40) bind. */
  private val small = LshParams(blockSize = 16, refinementLimit = 40, maxGlobalCandidates = 80)
  private lazy val model: LshModel = Lsh.fit(emb, "embedding", small)
  private lazy val queries: DataFrame = {
    val rows = tied.filter(col("vec_id") % 41 === 3 || col("vec_id") === 100008L).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), tied.schema)
  }
  private val K = 10
  private val off = StabilizationConfig()
  private val optimized = SearchConfig()
  private val baseline = SearchConfig(mode = "paper_baseline")

  private def build(data: DataFrame): LshIndex.Built =
    LshIndex.build(LshIndex.codes(data, "vec_id", "embedding", model), small.blockSize)
  private lazy val built = build(tied)
  private lazy val deleted = tied.filter(col("vec_id") % 5 === 1).select(col("vec_id").as("id"))
  private lazy val probed = AnnQuery.probeBlocks(spark, queries, model, built).cache()

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("query_id", "vec_id", "dist", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty, s"$what: the reference returned nothing")
    assert(g == w, s"$what: kernel-only ${g.diff(w).take(5)} reference-only ${w.diff(g).take(5)}")
  }

  /** The kernel with an explicit stabilization config, over one index. */
  private def kernel(data: DataFrame, b: LshIndex.Built, deletedIds: Option[DataFrame],
      stab: StabilizationConfig, search: SearchConfig): DataFrame = {
    val batch = AnnQuery.collectBatch(queries, model)
    val sides = Seq(AnnQuery.Side(b, batch.probe(b, small.maxProbes), Some(data), 0))
    AnnQuery.serve(spark, batch.vecs, sides, K, small, deletedIds, stab, search)
  }

  private def triples(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("qid"), col("id"), col("hamming")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def assertSameSet(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (g, w) = (triples(got), triples(want))
    assert(w.nonEmpty && g == w, s"$what: kernel-only ${(g -- w).take(5)} reference-only ${(w -- g).take(5)}")
  }

  test("the fixture binds: more candidates than the cap, the cap above the bound") {
    val n = AnnQuery.candidateCounts(probed, built).collect().map(_.getLong(1))
    assert(n.nonEmpty && n.forall(_ > small.hardCap), s"candidates per query ${n.mkString(",")}")
    assert(small.refinementLimit < small.hardCap)
  }

  test("lshTopK equals the join chain where the cap and the bound bind") {
    assertSame(AnnQuery.lshTopK(spark, tied, queries, K, model, built),
      refRefine(refMembers(probed, built, 0), tied, queries, K, small, None, off, optimized),
      "optimized")
  }

  test("soft deletes drop before the cap") {
    assertSame(AnnQuery.lshTopK(spark, tied, queries, K, model, built, Some(deleted)),
      refRefine(refMembers(probed, built, 0), tied, queries, K, small, Some(deleted), off,
        optimized), "deletes")
  }

  test("PAPER_BASELINE skips the cap and the bound") {
    assertSame(AnnQuery.lshTopK(spark, tied, queries, K, model, built, Some(deleted),
        search = baseline),
      refRefine(refMembers(probed, built, 0), tied, queries, K, small, Some(deleted), off,
        baseline), "baseline")
  }

  test("stabilization enabled: the limiter binds identically") {
    for (stab <- Seq(StabilizationConfig(enabled = true, minCandidates = 12, targetRatio = 1.5),
        StabilizationConfig(enabled = true, minCandidates = 1, targetRatio = 1.0))) {
      assertSame(kernel(tied, built, Some(deleted), stab, optimized),
        refRefine(refMembers(probed, built, 0), tied, queries, K, small, Some(deleted), stab,
          optimized), s"stabilized $stab")
    }
  }

  test("distance ties break by id") {
    val got = rows(AnnQuery.lshTopK(spark, tied, queries, K, model, built))
    // a query below 150 meets its copy at distance 0: original id first
    val q3 = got.filter(_._1 == 3L).sortBy(_._4)
    assert(q3.take(2).map(r => (r._2, r._3, r._4)) == Seq((3L, 0.0, 1), (100003L, 0.0, 2)), s"$q3")
  }

  test("an indexed id missing from the serving view takes budget, then drops") {
    val holey = tied.filter(col("vec_id") % 7 =!= 3)
    val got = AnnQuery.lshTopK(spark, holey, queries, K, model, built)
    assertSame(got, refRefine(refMembers(probed, built, 0), holey, queries, K, small, None, off,
      optimized), "holey")
    assert(rows(got).forall(_._2 % 7 != 3))
  }

  test("refineFromProbes and the distributed probe serve the same chain") {
    assertSame(AnnQuery.refineFromProbes(probed, tied, queries, K, model, built, Some(deleted)),
      refRefine(refMembers(probed, built, 0), tied, queries, K, small, Some(deleted), off,
        optimized), "refineFromProbes")
    val dist = AnnQuery.probeBlocksDistributed(spark, queries, model, built)
    assertSame(AnnQuery.lshTopK(spark, tied, queries, K, model, built, distributedProbe = true),
      refRefine(refMembers(dist, built, 0), tied, queries, K, small, None, off, optimized),
      "distributed probe")
  }

  test("boundedCandidates is the kernel's bounded set on the same probes") {
    for ((stab, search) <- Seq((off, optimized),
        (StabilizationConfig(enabled = true, minCandidates = 12, targetRatio = 1.5), optimized),
        (off, baseline)))
      assertSameSet(AnnQuery.boundedCandidates(probed, built, small, Some(deleted), K, stab, search),
        refBounded(refMembers(probed, built, 0), small, Some(deleted), K, stab, search),
        s"$stab $search")
  }

  /** Candidates per query as they were counted before: the probed
    * blocks joined to the ids they hold, distinct ids per query. */
  private def refCounts(probed: DataFrame, b: LshIndex.Built): Set[(Long, Long)] =
    refMembers(probed, b, 0).groupBy(col("qid").cast("long")).agg(countDistinct("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("candidateCounts and the tier totals are count cuts of the kernel") {
    val want = refCounts(probed, built)
    val got = AnnQuery.candidateCounts(probed, built).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want, s"kernel-only ${(got -- want).take(5)} reference-only ${(want -- got).take(5)}")
    for ((stab, search) <- Seq((off, optimized),
        (StabilizationConfig(enabled = true, minCandidates = 12, targetRatio = 1.5), optimized),
        (off, baseline)))
      assert(AnnQuery.candidateTotals(probed, built, small, K, stab, search) ==
        (want.toSeq.map(_._2).sum,
          refBounded(refMembers(probed, built, 0), small, None, K, stab, search).count()),
        s"$stab $search")
    // the tier report's counters over the entry's resident index
    val (entryModel, entryBuilt) = AnnQuery.setupIndex(spark, sf)
    val entryProbed = AnnQuery.probeBlocks(spark,
      Tables.embeddings(spark, sf).filter(col("vec_id") < AnnQuery.NumQueries), entryModel, entryBuilt)
    assert(AnnQuery.lshTierCounts(spark, sf) ==
      (refCounts(entryProbed, entryBuilt).toSeq.map(_._2).sum,
        AnnQuery.boundedCandidates(entryProbed, entryBuilt, entryModel.params, None,
          AnnQuery.DefaultK).count()))
  }

  test("cappedCandidates is the reference's hard cap on the same probes") {
    for (search <- Seq(optimized, baseline))
      assertSameSet(AnnQuery.cappedCandidates(probed, built, small, Some(deleted), search),
        refCapped(refMembers(probed, built, 0), small, Some(deleted), search), s"$search")
  }

  test("the codes-only cut serves a delta index and the distributed probe") {
    val qc = AnnQuery.queryCodes(queries, model)
    val dp = AnnQuery.probeBlocksCoded(spark, qc, model, delta)
    assertSameSet(AnnQuery.boundedCandidates(dp, delta, small, None, K),
      refBounded(refMembers(dp, delta, 0), small, None, K, off, optimized), "delta")
    val dist = AnnQuery.probeBlocksDistributed(spark, queries, model, built)
    assertSameSet(AnnQuery.boundedCandidates(dist, built, small, Some(deleted), K),
      refBounded(refMembers(dist, built, 0), small, Some(deleted), K, off, optimized),
      "distributed probe")
  }

  test("the distributed probe reads each call's probe budget on a reused index") {
    val wide = model.copy(params = small.copy(maxProbes = small.maxProbes * 3))
    def blocks(b: LshIndex.Built) = AnnQuery.probeBlocksDistributed(spark, queries, wide, b)
      .select("qid", "t", "d", "block", "score").collect().map(_.toSeq).toSet
    val reused = build(tied).materialize()
    AnnQuery.probeBlocksDistributed(spark, queries, model, reused).collect()
    assert(blocks(reused) == blocks(build(tied)))
    reused.release()
  }

  test("release() drops the codes-only and cover tables the probe paths cache") {
    val b = build(tied)
    val before = spark.sparkContext.getPersistentRDDs.size
    b.materialize()
    AnnQuery.probeBlocksDistributed(spark, queries, model, b).collect()
    AnnQuery.boundedCandidates(AnnQuery.probeBlocks(spark, queries, model, b), b, small,
      None, K).collect()
    val codesOnly = b.byVector(None).collect()
    assert(codesOnly.length == tied.count() && codesOnly.forall(_.vec == null))
    assert(spark.sparkContext.getPersistentRDDs.size > before)
    b.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  // ---- main + staged delta ----

  private lazy val mainData = tied.filter(col("vec_id") % 4 =!= 0)
  private lazy val stagedData = tied.filter(col("vec_id") % 4 === 0)
  private lazy val main = build(mainData)
  private def codes(df: DataFrame) = IndexMaintenance.stageCodes(df, "vec_id", "embedding", model)
  private lazy val delta = IndexMaintenance.buildDelta(codes(stagedData), small.blockSize)

  private def refDelta(mainSide: LshIndex.Built, deltaSide: LshIndex.Built, data: DataFrame,
      q: DataFrame, deletedIds: Option[DataFrame]): DataFrame = {
    val qc = AnnQuery.queryCodes(q, model)
    def side(b: LshIndex.Built, o: Int) = refMembers(AnnQuery.probeBlocksCoded(spark, qc, model, b), b, o)
    refRefine(side(mainSide, 0).unionByName(side(deltaSide, IndexMaintenance.DeltaBlockOffset)),
      data, q, K, small, deletedIds, off, optimized)
  }

  test("lshTopKWithDelta equals the chain over the candidate union, deletes included") {
    for (del <- Seq(None, Some(deleted)))
      assertSame(
        IndexMaintenance.lshTopKWithDelta(spark, mainData, stagedData, queries, K, model,
          main, delta, del),
        refDelta(main, delta, mainData.unionByName(stagedData), queries, del), s"delta $del")
  }

  test("a delta-only hit ranks first; an empty delta changes nothing") {
    // 100008 is a copy of 8, and both are staged: the hit is the delta's
    val q = queries.filter(col("vec_id") === 100008L || col("vec_id") === 167L)
    assert(q.count() == 2)
    val got = IndexMaintenance.lshTopKWithDelta(spark, mainData, stagedData, q, K, model,
      main, delta)
    assertSame(got, refDelta(main, delta, mainData.unionByName(stagedData), q, None), "delta-only")
    val top = rows(got).filter(_._4 == 1).map(r => r._1 -> (r._2, r._3)).toMap
    assert(top.get(100008L).contains((8L, 0.0)), s"$top")

    val none = stagedData.limit(0)
    val empty = IndexMaintenance.buildDelta(codes(none), small.blockSize)
    assertSame(
      IndexMaintenance.lshTopKWithDelta(spark, mainData, none, queries, K, model, main, empty),
      refDelta(main, empty, mainData, queries, None), "empty delta")
  }

  test("the InsertLifecycle shape: staged vectors served from the main view") {
    assertSame(
      IndexMaintenance.lshTopKWithDelta(spark, tied, tied.limit(0), queries, K, model,
        main, delta, Some(deleted)),
      refDelta(main, delta, tied, queries, Some(deleted)), "insert lifecycle")
  }

  test("a distributed delta index serves like the driver-side one") {
    assertSame(
      IndexMaintenance.lshTopKWithDelta(spark, mainData, stagedData, queries, K, model,
        main, build(stagedData)),
      refDelta(main, delta, mainData.unionByName(stagedData), queries, None), "distributed delta")
  }
}
