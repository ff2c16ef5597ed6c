package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.Tables
import graft.config.StabilizationConfig
import graft.functions.VectorFunctions.vec_l2
import graft.functions.VectorKernels
import graft.index.LshIndex
import graft.lsh.{HammingExpr, Lsh, LshModel, LshParams}
import graft.util.SessionMemo

/**
 * ANN query paths (re-expression of fspann
 * `index/paper/PartitionedIndexService.lookupCandidatesWithScores`,
 * PartitionedIndexService.java:592-715, and
 * `query/service/QueryServiceImpl` refine).
 *
 * The reference keeps its partition lists in server memory and runs a
 * per-query loop: binary-search the partition list, best-first expand
 * by Hamming on representative codes, decrypt + exact-L2 refine of
 * the bounded candidates. graft serves the same loop from a resident
 * BY-VECTOR table (one row per served vector: id, vector, its
 * (t, d, block) memberships — [[LshIndex.Built.byVector]]) in one
 * kernel ([[serve]]):
 *
 *   1. one job collects the batch's ids, vectors and LSH codes (coded
 *      in that plan, over the batch only); probing runs on the driver
 *      over the resident probe map ([[bestFirst]]);
 *   2. one mapPartitions pass over the table emits
 *      (qid, id, hamming, first_ord, dist) per matched (vector, query),
 *      dist by [[graft.functions.VectorKernels.l2]];
 *   3. one shuffle by qid;
 *   4. a per-query cut: hard cap on (first_ord, id) ([[capHits]]),
 *      refinement bound on (hamming, id) with the stabilization limiter
 *      ([[boundHits]]), top-k on (dist, id) ([[rankHits]]).
 *
 * No query joins, broadcasts or shuffles the serving view: probes and
 * query vectors are query-batch sized and ride in the task closure,
 * the pass streams the table once, and only matched pairs reach the
 * shuffle. The kernel is the only cap and bound. A caller that holds
 * no vectors — the token server, the filtered search, the tier counts
 * and the profiles — takes [[cappedCandidates]] or [[boundedCandidates]]:
 * the same pass and cut over the index's codes-only table. Every probe
 * but one is the driver-side walk ([[probeBlocks]], [[probeBlocksCoded]]);
 * the join-based [[probeBlocksDistributed]] is for summaries too large
 * to collect.
 */
object AnnQuery {

  case class QueryCode(qid: Long, t: Int, d: Int, key: Long, code: Array[Long])
  case class ProbedBlock(qid: Long, t: Int, d: Int, block: Int, score: Long)

  /** Exact brute-force top-k (GroundtruthPrecompute equivalent). */
  def bruteTopK(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    data.join(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))))
      .withColumn("dist", vec_l2(col("embedding"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))
  }

  /** Query-side LSH codes (qid, t, d, key, code) — the plaintext-free
    * payload a query token carries (see [[graft.crypto.QueryTokens]]). */
  def queryCodes(queries: DataFrame, model: LshModel): DataFrame =
    LshIndex.codes(
      queries.select(col("vec_id"), col("embedding")), "vec_id", "embedding", model)
      .select(col("id").as("qid"), col("t"), col("d"), col("key"), col("code"))

  /** Best-first multi-probe block selection per (query, table, division). */
  def probeBlocks(
      spark: SparkSession,
      queries: DataFrame,
      model: LshModel,
      built: LshIndex.Built): DataFrame =
    probeBlocksCoded(spark, queryCodes(queries, model), model, built)

  /** [[probeBlocks]] from precomputed query codes: the server-side half
    * of the token path — consumes codes only, never a plaintext vector.
    * One job collects the batch's codes; the walk runs on the driver
    * ([[bestFirst]]) and the probes return as a local relation. */
  def probeBlocksCoded(
      spark: SparkSession,
      codes: DataFrame,
      model: LshModel,
      built: LshIndex.Built): DataFrame = {
    import spark.implicits._
    val qcs = codes.select(col("qid"), col("t"), col("d"), col("key"), col("code"))
      .as[QueryCode].collect().toSeq
    Batch(Map.empty, qcs).probe(built, model.params.maxProbes).toDF()
  }

  /** Best-first block expansion over one (t, d) partition list (the
    * reference's `lookupCandidatesWithScores` walk): start at the
    * nearest block by key, then repeatedly take the frontier block with
    * the least (Hamming to its representative code, block id), up to
    * `maxProbes`. Returns (block, score) in probe order. */
  private[graft] def bestFirst(s: LshIndex.TdSummary, key: Long, code: Array[Long],
      maxProbes: Int): Seq[(Int, Long)] = {
    val center = LshIndex.findNearestBlock(s, key)
    val pq = mutable.PriorityQueue.empty[(Long, Int)](
      Ordering.by[(Long, Int), (Long, Int)](x => (-x._1, -x._2)))
    val visited = new Array[Boolean](s.size)
    pq.enqueue((Lsh.hamming(code, s.rep(center)), center))
    visited(center) = true
    val out = mutable.ArrayBuffer.empty[(Int, Long)]
    while (pq.nonEmpty && out.size < maxProbes) {
      val (score, idx) = pq.dequeue()
      out += ((idx, score))
      Seq(idx - 1, idx + 1).foreach { n =>
        if (n >= 0 && n < s.size && !visited(n)) {
          visited(n) = true
          pq.enqueue((Lsh.hamming(code, s.rep(n)), n))
        }
      }
    }
    out.toSeq
  }

  /**
   * Join-based probe selection with NO driver-side summary collect:
   * the summaries DataFrame stays distributed. Per (query, t, d) the
   * center block comes from a key-range-bucketed containment join
   * (falling back to nearest boundary); the candidate window is the
   * (2*maxProbes - 1) blocks around it — a superset of any best-first
   * expansion with budget maxProbes, from which the maxProbes blocks
   * with least Hamming(queryCode, repCode) are kept. Candidates are
   * therefore >= the reference's expansion at the same budget.
   *
   * This is the 1e9-vector path (SURVEY §4): block summaries at that
   * scale are GBs — joinable, not broadcastable. BOTH joins are
   * equi-joins pruned by deterministic buckets:
   *  - center lookup: each block is assigned a COVER range [lo, hi] =
   *    its own key range unioned with the gaps to its neighbors
   *    (lead/lag over the tiny summary table), so cover ranges tile
   *    the keyspace and every block that could win the
   *    nearest-by-key-distance rank for some query key covers that
   *    key. Blocks explode over the key-range buckets (top key bits,
   *    #buckets ~ #blocks, capped at 2^16) their cover spans — ~1-2
   *    rows per block — and a query joins only its own bucket. Exact
   *    same center semantics as ranking over every block of the
   *    (t, d), at O(blocks/buckets) joined rows per (query, t, d)
   *    instead of all of them (reference binary search:
   *    GreedyPartitioner.findNearestPartition).
   *  - expansion: block-id buckets of width maxProbes, join on
   *    bucket +- 1 (below).
   */
  def probeBlocksDistributed(
      spark: SparkSession,
      queries: DataFrame,
      model: LshModel,
      built: LshIndex.Built): DataFrame =
    probeBlocksDistributedCoded(queryCodes(queries, model), model, built)

  /** [[probeBlocksDistributed]] from precomputed query codes (token path). */
  def probeBlocksDistributedCoded(
      codes: DataFrame,
      model: LshModel,
      built: LshIndex.Built): DataFrame = {
    val p = model.params
    val qCodes = codes
      .select(col("qid"), col("t"), col("d"), col("key"), col("code").as("qcode"))

    val (cover, keyBits) = built.coverTable {
      val kb = keyBitsFor(built.summaryCount, p)
      (coverBucketedSummaries(built.summaries.select(col("t"), col("d"), col("block"),
        col("min_key"), col("max_key")), kb), kb)
    }
    val centers = centerBlocksFromCover(qCodes, cover, keyBits)

    // candidate window around the center, ranked by Hamming on rep
    // codes. The join key carries a block BUCKET (block div maxProbes):
    // the +-maxProbes window spans at most the 3 adjacent buckets, so
    // the join prunes to O(3 * maxProbes) summary rows per (q, t, d)
    // BEFORE shuffling, instead of fanning out over every block of the
    // (t, d) and filtering after.
    val bucketOf = (c: Column) => floor(c / p.maxProbes).cast("int")
    val bSumm = built.summaries.select(col("t"), col("d"), col("block"), col("rep_code"),
      bucketOf(col("block")).as("bucket"))
    val wProbe = Window.partitionBy("qid", "t", "d").orderBy(col("score"), col("block"))
    centers
      .select(col("qid"), col("t"), col("d"), col("qcode"), col("center"),
        explode(array((-1 to 1).map(o => bucketOf(col("center")) + o): _*)).as("bucket"))
      .join(bSumm, Seq("t", "d", "bucket"))
      .filter(abs(col("block") - col("center")) < p.maxProbes)
      .withColumn("score", HammingExpr.hamming(col("qcode"), col("rep_code")))
      .withColumn("p_rank", row_number().over(wProbe))
      .filter(col("p_rank") <= p.maxProbes)
      .select(col("qid"), col("t"), col("d"), col("block"), col("score"))
  }

  /**
   * Bucket-pruned nearest-block lookup: one (qid, t, d, qcode, center)
   * row per query code, center = a block at MINIMUM key distance
   * (containing, else nearest boundary), via an equi-join on key-range
   * buckets. CenterSpec asserts distance-optimality always, and exact
   * (key_dist, block)-rank parity whenever block key ranges are
   * distinct. The one divergence from a global (key_dist, block) rank:
   * a run of >= 2 blocks sharing one boundary key, with the query in
   * the gap AFTER the run — every run block ties on distance, the
   * global rank would pick the run's first block, the cover join picks
   * the run's last (the gap's cover owner). All tied blocks hold the
   * same single key, so candidate quality is identical, and the
   * reference's own binary search (GreedyPartitioner
   * .findNearestPartition) returns an arbitrary tied block too.
   */
  private[graft] def centerBlocks(
      qCodes: DataFrame, summ: DataFrame, p: LshParams,
      summaryCount: Option[Long] = None): DataFrame = {
    val keyBits = keyBitsFor(summaryCount.getOrElse(summ.count()), p)
    centerBlocksFromCover(qCodes, coverBucketedSummaries(summ, keyBits), keyBits)
  }

  /** Key-bucket width sized so #buckets ~ #blocks per (t, d); the
    * summary count is an agg over the (rows/blockSize) summary table,
    * not the corpus — and callers holding a Built pass its memoized
    * count, so no job runs here. Cap 2^16 buckets: worst-case fan is
    * then blocks/2^16 rows per (query, t, d) — 238 at 1e9, not 1.5e7. */
  private def keyBitsFor(summaryCount: Long, p: LshParams): Int = {
    val nBlocksPerTd = math.max(1L, summaryCount / (p.tables.toLong * p.divisions))
    math.min(16,
      math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(nBlocksPerTd - 1)))
  }

  private def keyBucket(keyBits: Int)(c: Column): Column =
    shiftrightunsigned(c, 63 - keyBits)

  /** Cover range per block: own range + the gap to each neighbor, so
    * for any query key the containing blocks AND both gap-adjacent
    * blocks (the only possible nearest-rank winners) cover it. Cover
    * ranges tile the keyspace, so exploding each block over the
    * buckets its cover spans adds ~1 row per block + 1 per bucket. */
  private def coverBucketedSummaries(summ: DataFrame, keyBits: Int): DataFrame = {
    val wB = Window.partitionBy("t", "d").orderBy("block")
    summ
      .withColumn("lo", greatest(lit(0L),
        least(col("min_key"), coalesce(lag(col("max_key"), 1).over(wB) + 1, lit(0L)))))
      .withColumn("hi", greatest(col("max_key"),
        coalesce(lead(col("min_key"), 1).over(wB) - 1, lit(Long.MaxValue))))
      .withColumn("kbucket",
        explode(sequence(keyBucket(keyBits)(col("lo")), keyBucket(keyBits)(col("hi")))))
      .select(col("t"), col("d"), col("kbucket"), col("block"),
        col("min_key"), col("max_key"), col("lo"), col("hi"))
  }

  private def centerBlocksFromCover(
      qCodes: DataFrame, bucketedSumm: DataFrame, keyBits: Int): DataFrame = {
    val wCenter = Window.partitionBy("qid", "t", "d").orderBy(col("key_dist"), col("block"))
    qCodes.withColumn("kbucket", keyBucket(keyBits)(col("key")))
      .join(bucketedSumm, Seq("t", "d", "kbucket"))
      .filter(col("key") >= col("lo") && col("key") <= col("hi"))
      .withColumn("key_dist",
        when(col("key") < col("min_key"), col("min_key") - col("key"))
          .when(col("key") > col("max_key"), col("key") - col("max_key"))
          .otherwise(lit(0L)))
      .withColumn("c_rank", row_number().over(wCenter))
      .filter(col("c_rank") === 1)
      .select(col("qid"), col("t"), col("d"), col("qcode"), col("block").as("center"))
  }

  /**
   * Multi-probe LSH top-k, served by [[serve]]: the batch is coded and
   * probed best-first on the driver (or, with `distributedProbe`, by
   * the join-based probe), and the index's resident by-vector table
   * over `data` is refined in one pass. Preconditions: ids are unique
   * in `data` and in `queries`.
   */
  def lshTopK(
      spark: SparkSession,
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      model: LshModel,
      built: LshIndex.Built,
      deletedIds: Option[DataFrame] = None,
      distributedProbe: Boolean = false,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame = {
    // baseline mode pins the probe budget to the paper default before
    // anything else reads it
    val m = model.copy(params = search.pinParams(model.params))
    if (distributedProbe)
      refineFromProbes(probeBlocksDistributed(spark, queries, m, built),
        data, queries, k, m, built, deletedIds, search)
    else {
      val batch = collectBatch(queries, m)
      serve(spark, batch.vecs, Seq(Side(built, batch.probe(built, m.params.maxProbes), Some(data), 0)),
        k, m.params, deletedIds, graft.config.GraftConfig.active.stabilization, search)
    }
  }

  /**
   * Candidate union bounded by the reference's HARD_CAP
   * (PartitionedIndexService.java:479,490: collection walks (t, d) in
   * order, best-first within each, and stops at hardCap distinct ids):
   * the kernel's cap ([[capHits]]) over the collected probes and the
   * index's codes-only table, (qid, id, hamming) per kept candidate.
   * Caps a degenerate key region's blow-up of one query's candidate
   * set, exactly like the reference bounds its per-query HashMap; soft
   * deletes never take cap budget.
   */
  private[graft] def cappedCandidates(
      probed: DataFrame,
      built: LshIndex.Built,
      p: LshParams,
      deletedIds: Option[DataFrame] = None,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame =
    candidateCut(probed, built, deletedIds, Encoders.product[Hit])(capHits(_, p, search))
      .select(col("qid"), col("id"), col("hamming"))

  /** Probed blocks joined to the ids they hold (t, d, block, qid, score,
    * id, key). The probe set is query-batch sized (queries x tables x
    * divisions x maxProbes rows), so it is the broadcast side and the
    * membership streams past it: no query shuffles the index. */
  private[graft] def probedMembers(probed: DataFrame, built: LshIndex.Built): DataFrame =
    broadcast(probed).join(built.membership, Seq("t", "d", "block"))

  /**
   * Candidate union + Hamming bound, codes-only: everything the SERVER
   * side of the token path computes. Yields (qid, id, hamming) — the
   * per-query top candidate ids by Hamming, derived purely from probe
   * scores over the index; no plaintext vector is touched. It is the
   * kernel's cap and bound ([[boundHits]]) over the collected probes
   * and the index's codes-only table: the set [[serve]] refines.
   *
   * The reference's ranked-Hamming threshold pre-filter with fallback
   * fill (QueryServiceImpl.java:177-197) needs no code here: the
   * candidate list is sorted by Hamming, so "all <= threshold, then
   * best-ranked above it until the limit" IS the ranked prefix the
   * bound already takes — the threshold only splits the logging
   * counters, never the selected set.
   */
  private[graft] def boundedCandidates(
      probed: DataFrame,
      built: LshIndex.Built,
      p: LshParams,
      deletedIds: Option[DataFrame] = None,
      k: Int = 0,
      stab: StabilizationConfig = graft.config.GraftConfig.active.stabilization,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame =
    candidateCut(probed, built, deletedIds, Encoders.product[Hit])(boundHits(_, k, p, stab, search))
      .select(col("qid"), col("id"), col("hamming"))

  /** The kernel over `built`'s codes-only table: `cut` of each query's
    * hits from the collected probes. */
  private def candidateCut[U](probed: DataFrame, built: LshIndex.Built,
      deletedIds: Option[DataFrame], enc: Encoder[U])(cut: Seq[Hit] => Seq[U]): Dataset[U] =
    cutPerQuery(probed.sparkSession, Map.empty, Seq(Side(built, collectProbes(probed), None, 0)),
      deletedIds, enc)(cut)

  private val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** A probe frame's rows on the driver (query-batch sized). */
  private def collectProbes(probed: DataFrame): Seq[ProbedBlock] = {
    import probed.sparkSession.implicits._
    probed.select(col("qid").cast("long"), col("t"), col("d"), col("block"),
      col("score").cast("long")).as[ProbedBlock].collect().toSeq
  }

  /** Candidate union + bounded Hamming refine + exact-L2 top-k over a
    * probe set: the probe frame and the query vectors are collected
    * (both query-batch sized) and served by [[serve]]. */
  def refineFromProbes(
      probed: DataFrame,
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      model: LshModel,
      built: LshIndex.Built,
      deletedIds: Option[DataFrame] = None,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame = {
    val batch = collectBatch(queries, model)
    serve(probed.sparkSession, batch.vecs, Seq(Side(built, collectProbes(probed), Some(data), 0)),
      k, model.params, deletedIds, graft.config.GraftConfig.active.stabilization, search)
  }

  // ---- the serving kernel ----

  /** A query batch on the driver: each query's vector and its
    * (t, d, key, code) rows. */
  private[graft] final case class Batch(vecs: Map[Long, Array[Float]], codes: Seq[QueryCode]) {
    /** Driver-side probes of the batch against one index's probe map
      * (none for a (t, d) the index has no blocks for). */
    def probe(built: LshIndex.Built, maxProbes: Int): Seq[ProbedBlock] = {
      val summ = built.collected
      for {
        qc <- codes
        s <- summ.get((qc.t, qc.d)).toSeq
        (block, score) <- bestFirst(s, qc.key, qc.code, maxProbes)
      } yield ProbedBlock(qc.qid, qc.t, qc.d, block, score)
    }
  }

  /** One job: the batch's ids, vectors and LSH codes, coded inside the
    * plan over the batch only. A query whose vector is null has no
    * codes and so no probes. */
  private[graft] def collectBatch(queries: DataFrame, model: LshModel): Batch = {
    val rows = queries.select(col("vec_id").cast("long"),
        col("embedding").cast(ArrayType(FloatType)), Lsh.lshCodes(col("embedding"), model))
      .collect()
    val vecs = rows.collect { case r if !r.isNullAt(1) => r.getLong(0) -> r.getSeq[Float](1).toArray }
    val codes = rows.toSeq.collect { case r if !r.isNullAt(2) =>
      r.getSeq[Row](2).map(c => QueryCode(r.getLong(0), c.getInt(0), c.getInt(1),
        c.getLong(2), c.getSeq[Long](3).toArray))
    }.flatten
    Batch(vecs.toMap, codes)
  }

  /** One index's part of a served batch: its probes, the serving view
    * its by-vector table reads vectors from (none: the codes-only
    * table, whose hits feed only the cap and bound), and the offset
    * that keeps its block ids apart from the other sides' (the staged
    * delta's [[graft.index.IndexMaintenance.DeltaBlockOffset]]). */
  private[graft] final case class Side(
      built: LshIndex.Built, probes: Seq[ProbedBlock], source: Option[DataFrame],
      blockOffset: Int)

  /** One matched (query, vector) pair of the by-vector pass: the best
    * probe Hamming, the probe-order stamp ([[firstOrd]]) and the exact
    * distance — `found` is false when there is no vector to measure
    * (the serving view lacks it, the side is codes-only, or the query
    * has none); such a hit takes cap and bound budget, then drops
    * before the top-k. */
  final case class Hit(qid: Long, id: Long, hamming: Long, firstOrd: Long, dist: Double,
      found: Boolean)
  final case class Ranked(query_id: Long, vec_id: Long, dist: Double, rnk: Int)

  /** The probe-order stamp of one probe appearance, bit-packed
    * (t:8 | d:6 | score:13 | block:36, each clamped to its field) so its
    * numeric min is the lexicographic min over (t, d, score, block) —
    * the image of the reference's collection order that the cap keeps
    * (the oracle chain, [[annChainSqlOpt]], packs the same fields). */
  private[graft] def firstOrd(t: Int, d: Int, score: Long, block: Int): Long =
    (math.min(t.toLong, 255L) << 55) + (math.min(d.toLong, 63L) << 49) +
      (math.min(score, (1L << 13) - 1) << 36) + math.min(block.toLong, (1L << 36) - 1)

  /**
   * The serving kernel (steps 2-4 of the header): one mapPartitions
   * pass over the sides' by-vector tables matches each vector's
   * memberships against the probes, one shuffle by qid gathers each
   * query's pairs, and [[boundHits]] + [[rankHits]] cut them. Soft
   * deletes are collected (a driver-side id set) and skipped in the
   * pass, so they never take cap budget.
   *
   * Preconditions: ids are unique
   * in each serving view and in the query batch, and the sides' ids
   * are disjoint (the main index's ids and the staged ids).
   */
  private[graft] def serve(
      spark: SparkSession,
      queryVecs: Map[Long, Array[Float]],
      sides: Seq[Side],
      k: Int,
      p: LshParams,
      deletedIds: Option[DataFrame],
      stab: StabilizationConfig,
      search: graft.config.SearchConfig): DataFrame =
    cutPerQuery(spark, queryVecs, sides, deletedIds, Encoders.product[Ranked])(
        hs => rankHits(boundHits(hs, k, p, stab, search), k))
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))

  /** Steps 2-4: the by-vector pass, one shuffle by qid, and `cut` over
    * each query's hits. */
  private def cutPerQuery[U](spark: SparkSession, queryVecs: Map[Long, Array[Float]],
      sides: Seq[Side], deletedIds: Option[DataFrame], enc: Encoder[U])(
      cut: Seq[Hit] => Seq[U]): Dataset[U] =
    spark.createDataset(matchTables(spark, queryVecs, sides, deletedIds))(Encoders.product[Hit])
      .repartition(col("qid"))
      .mapPartitions(perQuery(_).flatMap(cut))(enc)

  /** Step 2: the by-vector pass, one [[Hit]] per matched (query, vector). */
  private def matchTables(spark: SparkSession, queryVecs: Map[Long, Array[Float]],
      sides: Seq[Side], deletedIds: Option[DataFrame]): org.apache.spark.rdd.RDD[Hit] = {
    // (t, d, block + side offset) -> flattened (qid, score) pairs
    val probes: Map[Long, Array[Long]] = sides.flatMap { s =>
      s.probes.map(pb => LshIndex.packTdb(pb.t, pb.d, pb.block + s.blockOffset) -> pb)
    }.groupBy(_._1).map { case (key, pbs) => key -> pbs.flatMap(x => Seq(x._2.qid, x._2.score)).toArray }
    val deleted: Set[Long] = deletedIds.fold(Set.empty[Long])(
      _.select(col("id").cast("long")).filter(col("id").isNotNull).collect().map(_.getLong(0)).toSet)
    val tables = sides.map { s =>
      val t = s.built.byVector(s.source)
      val off = s.blockOffset.toLong
      if (off == 0) t else t.map(r => r.copy(tdb = r.tdb.map(_ + off)))
    }
    val table = if (tables.size == 1) tables.head else spark.sparkContext.union(tables)
    table.mapPartitions { rows =>
      // the one L2 kernel vec_l2 runs, over the vectors as Catalyst arrays
      val qv = queryVecs.map { case (q, v) => q -> UnsafeArrayData.fromPrimitiveArray(v) }
      val acc = mutable.LongMap.empty[Array[Long]] // qid -> (hamming, first_ord)
      rows.flatMap { r =>
        acc.clear()
        if (!deleted.contains(r.id)) r.tdb.foreach { x =>
          probes.get(x).foreach { ps =>
            var j = 0
            while (j < ps.length) {
              val (qid, score) = (ps(j), ps(j + 1))
              val ord = firstOrd(LshIndex.tdbT(x), LshIndex.tdbD(x), score, LshIndex.tdbBlock(x))
              acc.get(qid) match {
                case Some(a) => a(0) = math.min(a(0), score); a(1) = math.min(a(1), ord)
                case None => acc(qid) = Array(score, ord)
              }
              j += 2
            }
          }
        }
        val vec = if (acc.isEmpty || r.vec == null) null else UnsafeArrayData.fromPrimitiveArray(r.vec)
        acc.toArray.map { case (qid, a) =>
          qv.get(qid) match {
            case Some(q) if vec != null => Hit(qid, r.id, a(0), a(1), VectorKernels.l2(vec, q), found = true)
            case _ => Hit(qid, r.id, a(0), a(1), 0.0, found = false)
          }
        }
      }
    }
  }

  /** Step 3's reduce side: one partition's hits, grouped by query. */
  private def perQuery(hits: Iterator[Hit]): Iterator[Seq[Hit]] = {
    val byQ = mutable.LongMap.empty[mutable.ArrayBuffer[Hit]]
    hits.foreach(h => byQ.getOrElseUpdate(h.qid, mutable.ArrayBuffer.empty[Hit]) += h)
    byQ.valuesIterator.map(_.toSeq)
  }

  /** One query's HARD_CAP: the first `hardCap` candidates by
    * (first_ord, id) — the reference's collection order, id breaking
    * ties so the cut is total. PAPER_BASELINE keeps them all. */
  private[graft] def capHits(hits: Seq[Hit], p: LshParams,
      search: graft.config.SearchConfig): Seq[Hit] =
    if (search.paperBaseline) hits else hits.sortBy(h => (h.firstOrd, h.id)).take(p.hardCap)

  /**
   * One query's cap and bound, in the reference's order: [[capHits]],
   * then the refinement bound keeps the first `limit` of the capped
   * candidates by (hamming, id), where `limit` is the D1 stabilization
   * limiter (QueryServiceImpl "decrypts a limited prefix of
   * candidates"; formula in query/CandidatePipelineTest PATCH-6)
   *   max(max(k, minCandidates), min(raw, ceil(k * targetRatio)))
   * capped by refinementLimit (refinementLimit alone with the limiter
   * disabled), `raw` being the capped count. PAPER_BASELINE skips both.
   */
  private[graft] def boundHits(hits: Seq[Hit], k: Int, p: LshParams,
      stab: StabilizationConfig, search: graft.config.SearchConfig): Seq[Hit] = {
    val capped = capHits(hits, p, search)
    if (search.paperBaseline) capped
    else {
      val limit =
        if (!stab.enabled || k <= 0) p.refinementLimit.toLong
        else math.min(p.refinementLimit.toLong,
          math.max(math.max(k, stab.minCandidates).toLong,
            math.min(capped.size.toLong, math.ceil(k * stab.targetRatio).toLong)))
      capped.sortBy(h => (h.hamming, h.id)).take(limit.toInt)
    }
  }

  /** One query's exact top-k over its bounded candidates: those with a
    * vector, by (dist, id) — doubles ordered as Spark orders them. */
  private[graft] def rankHits(bounded: Seq[Hit], k: Int): Seq[Ranked] =
    bounded.filter(_.found)
      .sortBy(h => (h.dist, h.id))(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k).zipWithIndex
      .map { case (h, i) => Ranked(h.qid, h.id, h.dist, i + 1) }

  /**
   * Recall@K of an ANN result against brute-force ground truth, per k
   * variant. Averaged over the full (query x k) grid — a query with
   * zero hits at some k contributes 0 to the mean rather than
   * silently dropping out of it.
   */
  def recallEval(annResult: DataFrame, groundTruth: DataFrame, kVariants: Seq[Int]): DataFrame = {
    val ks = kVariants.map(k => lit(k))
    val grid = groundTruth.select(col("query_id")).distinct()
      .select(col("query_id"), explode(array(ks: _*)).as("k"))
    val hits = annResult.select(col("query_id"), col("vec_id"), col("rnk").as("ann_rnk"))
      .join(groundTruth.select(col("query_id"), col("vec_id"), col("rnk").as("gt_rnk")),
        Seq("query_id", "vec_id"))
      .select(col("query_id"), col("ann_rnk"), col("gt_rnk"), explode(array(ks: _*)).as("k"))
      .filter(col("ann_rnk") <= col("k") && col("gt_rnk") <= col("k"))
      .groupBy(col("k"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    grid.join(hits, Seq("k", "query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .groupBy(col("k"))
      .agg(
        round(avg(col("n_hits") / col("k")), 4).as("recall"),
        count(lit(1)).as("n_queries"))
      .orderBy("k")
  }

  // ---- SparkEntry wiring over the embeddings table ----

  // all tunables flow from the (JVM-fixed) active config; defaults
  // reproduce the pre-config behavior exactly (GraftConfig scaladoc)
  private def cfg = graft.config.GraftConfig.active
  val DefaultK: Int = cfg.query.k
  val NumQueries: Int = cfg.query.numQueries

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)

  private def queryVecs(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir).filter(col("vec_id") < NumQueries)

  def annBruteTopK(spark: SparkSession, sfDir: String): DataFrame =
    bruteTopK(emb(spark, sfDir), queryVecs(spark, sfDir), DefaultK)

  val annBruteTopKSql: String =
    s"""SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id, d.dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY d.dist, e.vec_id) AS INTEGER) AS rnk
       |  FROM embeddings q CROSS JOIN embeddings e,
       |    LATERAL (SELECT list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS dist) d
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rnk <= $DefaultK""".stripMargin

  /**
   * SETUP-once memo (reference builds its index once, then serves
   * queries): model fit + index build are cached per corpus directory
   * so the query entries don't re-pay the build. The memo only ever
   * holds the broadcastable model and the materialized index (cached
   * membership and summaries plus the probe map), not data copies.
   */
  private val setups = new SessionMemo[String, (LshModel, LshIndex.Built)]

  /** The memoized built index for a corpus (shared with the token path). */
  def setupIndex(spark: SparkSession, sfDir: String): (LshModel, LshIndex.Built) = {
    val entry = setups(spark, sfDir) {
      val data = emb(spark, sfDir)
      val model = Lsh.fit(data, "embedding", cfg.lsh)
      // spread: the coding map stage must not serialize on a
      // few-split source (no-op at scale, LshIndex.spread scaladoc)
      (model, LshIndex.build(
        LshIndex.codes(LshIndex.spread(data), "vec_id", "embedding", model),
        model.params.blockSize).materialize())
    }
    // oracle fixture checked OUTSIDE the memo (cheap key compare):
    // after another corpus overwrote the shared path, a memo-hit here
    // must still restore THIS corpus's model before its oracle replays
    graft.FixtureExport.ensure(sfDir, ModelExportPath) {
      exportModel(spark, entry._1)
    }
    entry
  }

  /** The memoized fitted model for a corpus (shared with the token path). */
  def setupModel(spark: SparkSession, sfDir: String): LshModel = setupIndex(spark, sfDir)._1

  /**
   * Materialize the resident index state for a corpus (reference
   * SETUP -> INDEX -> FINALIZE: the server builds once and then serves
   * every query from the resident index). Re-marks the index caches if
   * an external `clearCache` dropped them, fills them, and warms the
   * driver probe map and the precomputed ground truth — after this, a
   * query entry pays only QUERY-phase work. Used by the bench between
   * queries so per-query timings measure serving, not corpus
   * re-indexing.
   */
  def ensureResident(spark: SparkSession, sfDir: String): Unit = {
    val (_, built) = setupIndex(spark, sfDir)
    built.materialize(emb(spark, sfDir))
    built.summaryCount
    groundTruth(spark, sfDir, cfg.eval.kVariants.max)
    if (cfg.audit.enabled) groundTruth(spark, sfDir, auditK(spark, sfDir))
    ()
  }

  // corpus row counts, memoized like the model fit (sizing decisions
  // should not re-pay a count job per query over the same corpus)
  private val counts = new SessionMemo[String, Long]

  /** Memoized size of a corpus's embeddings table — the one count the
    * ANN, IVF and tier-report sizing rules share. */
  def corpusCount(spark: SparkSession, sfDir: String): Long =
    counts(spark, sfDir)(emb(spark, sfDir).count())

  /** The audit's effective k: `audit.k` bounded by the corpus. */
  def auditK(spark: SparkSession, sfDir: String): Int =
    math.min(cfg.audit.k.toLong, corpusCount(spark, sfDir)).toInt

  /**
   * SETUP-phase ground truth (reference `GroundtruthPrecompute`: exact
   * kNN computed ONCE, then held in memory / exported to .ivecs —
   * GroundtruthManager loads the whole file driver-side). The brute
   * pass runs distributed; the result — numQueries x k rows, KBs-MBs
   * by construction like the reference's GT files — is memoized
   * driver-side per (session, corpus, k), so eval entries
   * (diagnostics, recall, GT export) stop re-paying the exact scan and
   * the memo survives external cache clears.
   */
  private val groundTruths = new SessionMemo[(String, Int), Seq[(Long, Long, Double, Int)]]

  def groundTruth(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val rows = groundTruthRows(spark, sfDir, k)
    import spark.implicits._
    rows.toDF("query_id", "vec_id", "dist", "rnk")
  }

  /** The memoized GT as in-hand rows (query_id, vec_id, dist, rnk) —
    * the eval entries aggregate these driver-side. */
  def groundTruthRows(spark: SparkSession, sfDir: String, k: Int): Seq[(Long, Long, Double, Int)] =
    groundTruths(spark, (sfDir, k)) {
      bruteTopK(emb(spark, sfDir), queryVecs(spark, sfDir), k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
    }

  /**
   * Adaptive wrapper (reference QueryServiceImpl retry: if a query
   * returns fewer than k results, rerun it with probes widened to 10).
   * The retry is a second join pass over only the starved queries —
   * at scale that set is tiny, so the extra pass costs ~nothing.
   *
   * Exactly ONE driver-side job decides the retry: the starved-query
   * count, computed from the (cached) first pass's own per-query
   * aggregation. In the common no-starved case the first pass is
   * returned as-is — no second cache, no extra materialization.
   */
  def lshTopKAdaptive(spark: SparkSession, data: DataFrame, queries: DataFrame,
      k: Int, model: LshModel, built: LshIndex.Built,
      retryProbes: Int = 10,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame = {
    // PAPER_BASELINE: single pass, starved queries stay starved — the
    // retry is one of the heuristics the profile pins off
    if (search.paperBaseline)
      return lshTopK(spark, data, queries, k, model, built, search = search)
    val first = lshTopK(spark, data, queries, k, model, built).cache()
    val starved = queries.join(
      first.groupBy("query_id").agg(count(lit(1)).as("n"))
        .filter(col("n") >= k)
        .select(col("query_id").as("vec_id")),
      Seq("vec_id"), "left_anti")
    // the one decision job; fills `first`'s cache as a side effect, so
    // the retry branch's re-reads of `first`/`starved` scan memory
    if (starved.count() == 0) first
    else {
      // widen RELATIVE to the model: an absolute retry budget below the
      // model's own maxProbes would narrow the search on the rerun
      val newProbes = math.max(retryProbes, model.params.maxProbes * 2)
      val widened = model.copy(params = model.params.copy(maxProbes = newProbes))
      // materialize the combined result once (downstream actions must
      // not re-run the widened retry joins), then drop the first pass
      val result = first
        .join(starved.select(col("vec_id").as("query_id")), Seq("query_id"), "left_anti")
        .unionByName(lshTopK(spark, data, starved, k, widened, built))
        .cache()
      result.count()
      first.unpersist()
      result
    }
  }

  /**
   * Config-driven multi-round adaptive search (reference `kAdaptive`:
   * maxRounds, targetReturnRate, probeFactor, maxFanout). Each round
   * reruns ONLY the still-starved queries with probes widened by
   * probeFactor (capped at maxFanout), stopping when the fraction of
   * fully-served queries reaches targetReturnRate or rounds run out.
   * One small driver-side count decides each round — the reference's
   * per-query while-loop becomes per-ROUND set arithmetic over the
   * starved remainder, which is the batch-engine shape of the same
   * policy. Disabled (the reference default) delegates to the
   * single-retry [[lshTopKAdaptive]].
   */
  def lshTopKAdaptiveRounds(spark: SparkSession, data: DataFrame, queries: DataFrame,
      k: Int, model: LshModel, built: LshIndex.Built,
      ka: graft.config.KAdaptiveConfig = graft.config.GraftConfig.active.kAdaptive,
      search: graft.config.SearchConfig = graft.config.GraftConfig.active.search): DataFrame = {
    if (search.paperBaseline)
      return lshTopK(spark, data, queries, k, model, built, search = search)
    if (!ka.enabled) return lshTopKAdaptive(spark, data, queries, k, model, built)
    val nQueries = queries.count()
    var probes = model.params.maxProbes
    var result = lshTopK(spark, data, queries, k, model, built).cache()
    var round = 1
    var done = false
    while (round < ka.maxRounds && !done) {
      val starved = queries.join(
        result.groupBy("query_id").agg(count(lit(1)).as("n"))
          .filter(col("n") >= k)
          .select(col("query_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      val nStarved = starved.count() // the round's one decision job
      val returnRate = (nQueries - nStarved).toDouble / math.max(1L, nQueries)
      // never retry NARROWER than the current budget (same guard as
      // lshTopKAdaptive: a capped/misconfigured fanout below the
      // model's probes would replace results with strictly worse
      // ones), and stop once the budget can no longer grow — further
      // rounds would be byte-identical reruns
      val newProbes = math.min(math.ceil(probes * ka.probeFactor), ka.maxFanout).toInt
      if (nStarved == 0 || returnRate >= ka.targetReturnRate || newProbes <= probes) done = true
      else {
        probes = newProbes
        val widened = model.copy(params = model.params.copy(maxProbes = probes))
        val next = result
          .join(starved.select(col("vec_id").as("query_id")), Seq("query_id"), "left_anti")
          .unionByName(lshTopK(spark, data, starved, k, widened, built))
          .cache()
        next.count()
        result.unpersist()
        result = next
        round += 1
      }
    }
    result
  }

  /** Full MSANNP pipeline end-to-end (rows oracle + recall spec). */
  def annLshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, built) = setupIndex(spark, sfDir)
    lshTopKAdaptive(spark, emb(spark, sfDir), queryVecs(spark, sfDir), DefaultK, model, built)
  }

  /** Same pipeline on the join-based probe (the summaries-too-big-to-broadcast path). */
  def annLshTopKDistJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, built) = setupIndex(spark, sfDir)
    lshTopK(spark, emb(spark, sfDir), queryVecs(spark, sfDir), DefaultK, model, built,
      distributedProbe = true)
  }

  // ---- filtered (predicate-constrained) vector search ----

  /**
   * Exact filtered top-k: nearest neighbors AMONG rows sharing the
   * query's `label` (the metadata-filtered search every vector store
   * needs for category-constrained retrieval). The equality filter
   * sits between the broadcast join and the rank window, so Catalyst
   * evaluates it before any distance work survives it.
   */
  def bruteTopKSameLabel(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    data.join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), col("label").as("qlabel"))))
      .filter(col("label") === col("qlabel"))
      .withColumn("dist", vec_l2(col("embedding"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))
  }

  /**
   * LSH filtered top-k: probe and bound as usual, then the label
   * predicate prunes candidates BEFORE the exact refine window — every
   * returned row satisfies it. Selectivity eats into the candidate
   * budget, so production pairs this with a widened `maxProbes`
   * (`overProbe`); the adaptive retry machinery composes unchanged.
   */
  def lshTopKSameLabel(spark: SparkSession, data: DataFrame, queries: DataFrame,
      k: Int, model: LshModel, built: LshIndex.Built, overProbe: Int = 2): DataFrame = {
    val widened =
      if (overProbe <= 1) model
      else model.copy(params = model.params.copy(maxProbes = model.params.maxProbes * overProbe))
    val probed = probeBlocks(spark, queries, widened, built)
    val bounded = boundedCandidates(probed, built, widened.params, None, k)
    val wK = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    bounded
      .join(data.select(col("vec_id").as("id"), col("embedding"), col("label")), Seq("id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("label").as("qlabel"))), Seq("qid"))
      .filter(col("label") === col("qlabel"))
      .withColumn("dist", vec_l2(col("embedding"), col("qv")))
      .select(col("qid").as("query_id"), col("id").as("vec_id"), col("dist"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))
  }

  /** Exact same-label top-k over the standard query batch (sql oracle). */
  def annFilteredTopK(spark: SparkSession, sfDir: String): DataFrame =
    bruteTopKSameLabel(emb(spark, sfDir), queryVecs(spark, sfDir), DefaultK)

  val annFilteredTopKSql: String =
    s"""SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id, d.dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY d.dist, e.vec_id) AS INTEGER) AS rnk
       |  FROM embeddings q JOIN embeddings e ON e.label = q.label,
       |    LATERAL (SELECT list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS dist) d
       |  WHERE q.vec_id < $NumQueries)
       |WHERE rnk <= $DefaultK""".stripMargin

  /** LSH same-label top-k over the standard batch (rows; spec-verified). */
  def annLshFilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, built) = setupIndex(spark, sfDir)
    lshTopKSameLabel(spark, emb(spark, sfDir), queryVecs(spark, sfDir), DefaultK, model, built)
  }

  /**
   * Distance-ratio@K — the reference's "PAPER METRIC"
   * (ForwardSecureANNSystem.java:797-832, surfaced at :710 and :1206
   * as the canonical ratio): per query, the mean over ranks i <= k of
   * dist_ann,i / dist_gt,i, pairing the ANN result and the ground
   * truth BY RANK. Reference guards re-expressed: a query must have
   * all k result pairs present (an ANN result shorter than k yields
   * null, reference NaN at :799/:818) and pairs whose GT distance is
   * <= 0 are skipped (:811). Where every pair is usable this is
   * exactly (1/k)·Σ — one departure: the reference voids a query when
   * ANY pair was skipped (used != k, :818); here the mean is over the
   * usable pairs, because graft's bench queries are corpus members, so
   * GT rank 1 is the query itself at distance 0 for EVERY query — a
   * case the reference's disjoint SIFT/GIST query files never hit. On
   * the reference's defined domain (used == k) the two normalizations
   * coincide.
   */
  private[graft] def distRatioByQuery(annResult: DataFrame, groundTruth: DataFrame,
      kVariants: Seq[Int]): DataFrame = {
    val pairs = annResult.select(col("query_id"), col("rnk"), col("dist").as("d_ann"))
      .join(groundTruth.select(col("query_id"), col("rnk"), col("dist").as("d_gt")),
        Seq("query_id", "rnk"))
    pairs
      .select(col("query_id"), col("rnk"), col("d_ann"), col("d_gt"),
        explode(array(kVariants.map(lit): _*)).as("k"))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("k"), col("query_id"))
      .agg(
        sum(when(col("d_gt") > 0, col("d_ann") / col("d_gt"))).as("ratio_sum"),
        count(when(col("d_gt") > 0, lit(1))).as("used"),
        count(lit(1)).as("n_pairs"))
      .withColumn("dist_ratio",
        when(col("n_pairs") === col("k") && col("used") > 0,
          col("ratio_sum") / col("used")))
      .select(col("k"), col("query_id"), col("dist_ratio"))
  }

  /** Mean distance-ratio@K over queries, per k variant (null-ratio
    * queries — reference NaN — drop out of the mean, like the
    * reference's aggregate over non-NaN profiler rows). A k where
    * EVERY query is voided reports -1.0 (an impossible ratio; real
    * ones are >= 1) instead of null: the reference prints NaN there,
    * but nullable-float artifacts do not round-trip uniformly across
    * engines, and the correctness gate hashes values. */
  def distanceRatioEval(annResult: DataFrame, groundTruth: DataFrame,
      kVariants: Seq[Int]): DataFrame =
    distRatioByQuery(annResult, groundTruth, kVariants)
      .groupBy("k")
      .agg(coalesce(round(avg(col("dist_ratio")), 4), lit(-1.0)).as("avg_dist_ratio"))

  /**
   * Re-derive result-pair distances from BASE VECTORS (reference
   * `ratio.source = base`: BaseVectorReader.l2 recomputes both ratio
   * distances from the mapped base file, ForwardSecureANNSystem
   * .java:416-432, :810-813). An id equi-join against the base table
   * plus one broadcast of the query vectors — NO exact-kNN job, which
   * at corpus scale is the most expensive job in the system. This is
   * how a GT file that carries only ids (.ivecs) feeds the ratio.
   */
  def distancesFromBase(pairs: DataFrame, base: DataFrame, queries: DataFrame): DataFrame =
    pairs.select(col("query_id"), col("vec_id"), col("rnk"))
      .join(base.select(col("vec_id"), col("embedding").as("bv")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(vec_l2(col("bv"), col("qv")), 4).as("dist"), col("rnk"))

  /**
   * Recall@K of the LSH path vs brute force on the reference's
   * kVariants {1,5,10,20,40,60,80,100}, plus the reference's two
   * ratio metrics: avg_ratio (mean #candidates / k, SEARCH COST) and
   * avg_dist_ratio (the paper metric, [[distRatioByQuery]]). The
   * distance-ratio denominator follows `ratio.source`: `gt`/`auto`
   * trust the self-computed exact GT distances already in hand;
   * `base` re-derives them from base vectors ([[distancesFromBase]]).
   */
  def annRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val kVariants = cfg.eval.kVariants
    val data = emb(spark, sfDir)
    val queries = queryVecs(spark, sfDir)
    val maxK = kVariants.max
    val (model, built) = setupIndex(spark, sfDir)
    // ONE probe pass feeds the top-k refine and the search-cost ratio;
    // both products are bounded (numQueries x maxK / numQueries rows),
    // so they come back as rows and the metric aggregation runs
    // driver-side (evalMetricsLocal — the reference's client-side
    // Evaluator posture). The DataFrame composition survives as
    // annRecallEvalPlan, cross-checked in DiagnosticsSpec.
    val probed = probeBlocks(spark, queries, model, built)
    val ann = refineFromProbes(probed, data, queries, maxK, model, built)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val counts = candidateCounts(probed, built)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gt = groundTruthRows(spark, sfDir, maxK)
    val gtForRatio =
      if (cfg.ratio.source == "base")
        distancesFromBase(groundTruth(spark, sfDir, maxK).select("query_id", "vec_id", "rnk"),
            data, queries)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      else gt // gt | auto: trusted exact GT distances are in hand
    evalMetricsLocal(spark, ann, gt.map(t => (t._1, t._2, t._4)),
      Some(counts), gtForRatio, kVariants)
  }

  /**
   * Driver-side metric aggregation over the in-hand bounded eval rows
   * — numQueries x maxK ANN results, the GT memo, per-query candidate
   * counts (each KBs by construction, never corpus-scaled). The
   * DataFrame combinators ([[recallEval]], [[distanceRatioEval]])
   * express the same metrics as ~10 joins/aggregates whose fixed
   * per-stage scheduling latency dominates the eval entries at EVERY
   * scale factor (~1.5 s of tiny stages at sf0.1); the reference
   * aggregates these metrics client-side for the same reason
   * (Evaluator/Profiler run on the query client, not the server).
   * Semantics are replicated exactly — HALF_UP rounding like Spark's
   * `round`, zero-hit queries counting 0 into recall, the
   * exactly-k-pairs + nonzero-denominator voiding of dist ratios,
   * all-void k reporting -1.0, a k with no rank-aligned pairs at all
   * reporting null (the left-join shape) — and DiagnosticsSpec pins
   * this row-for-row against the DataFrame twin.
   */
  private[graft] def evalMetricsLocal(
      spark: SparkSession,
      ann: Seq[(Long, Long, Double, Int)],
      gtIdRnk: Seq[(Long, Long, Int)],
      counts: Option[Seq[(Long, Long)]],
      gtForRatio: Seq[(Long, Long, Double, Int)],
      kVariants: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.types._
    val gridQueries = gtIdRnk.map(_._1).distinct.sorted
    val nQueries = gridQueries.length.toLong
    val gtRnk = gtIdRnk.map(t => (t._1, t._2) -> t._3).toMap
    // (query, rnk) -> gt dist; rank-aligned pairs for the ratio metric
    val gtDist = gtForRatio.map(t => (t._1, t._4) -> t._3).toMap
    val ratioPairs = ann.flatMap { case (qid, _, dAnn, rnk) =>
      gtDist.get((qid, rnk)).map(dGt => (qid, rnk, dAnn, dGt))
    }
    val rows = kVariants.sorted.flatMap { k =>
      val recall = recallAt(ann, gtRnk, gridQueries, k)
      val avgRatio = counts.map { cs =>
        if (cs.isEmpty) None
        else Some(roundAt(cs.map(_._2.toDouble / k).sum / cs.length, 2))
      }
      val kPairs = ratioPairs.filter(_._2 <= k).groupBy(_._1)
      val distRatio: Option[java.lang.Double] =
        if (kPairs.isEmpty) None // no rank-aligned pairs: the left join's null
        else {
          val perQuery = kPairs.values.flatMap { ps =>
            val used = ps.filter(_._4 > 0)
            if (ps.size == k && used.nonEmpty)
              Some(used.map(p => p._3 / p._4).sum / used.size)
            else None
          }.toSeq
          Some(Double.box(
            if (perQuery.isEmpty) -1.0 else roundAt(perQuery.sum / perQuery.length, 4)))
        }
      avgRatio match {
        case Some(None) => Seq.empty // counts requested but empty: the inner join's empty result
        case Some(Some(ar)) =>
          Seq(Row(k, recall, nQueries, ar, distRatio.orNull))
        case None =>
          Seq(Row(k, recall, nQueries, distRatio.orNull))
      }
    }
    val base = Seq(
      StructField("k", IntegerType), StructField("recall", DoubleType),
      StructField("n_queries", LongType))
    val schema = StructType(
      if (counts.isDefined) base :+ StructField("avg_ratio", DoubleType) :+
        StructField("avg_dist_ratio", DoubleType)
      else base :+ StructField("avg_dist_ratio", DoubleType))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The LAZY eval plan of [[annRecallEval]], for plan review
    * (PlanDump): the production entry localizes the result, whose
    * explain is just a LocalTableScan. This twin skips the cache marks
    * (nothing materializes it), so the printed plan shows the raw
    * three-branch shape the production pass executes. */
  def annRecallEvalPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val kVariants = cfg.eval.kVariants
    val data = emb(spark, sfDir)
    val queries = queryVecs(spark, sfDir)
    val maxK = kVariants.max
    val (model, built) = setupIndex(spark, sfDir)
    val probed = probeBlocks(spark, queries, model, built)
    val ratios = candidateCounts(probed, built)
      .select(explode(array(kVariants.map(lit): _*)).as("k"), col("n_candidates"))
      .groupBy("k").agg(round(avg(col("n_candidates") / col("k")), 2).as("avg_ratio"))
    val ann = refineFromProbes(probed, data, queries, maxK, model, built)
    val gt = groundTruth(spark, sfDir, maxK)
    val gtForRatio =
      if (cfg.ratio.source == "base")
        distancesFromBase(gt.select("query_id", "vec_id", "rnk"), data, queries)
      else gt
    recallEval(ann, gt, kVariants)
      .join(ratios, Seq("k"))
      .join(distanceRatioEval(ann, gtForRatio, kVariants), Seq("k"), "left")
      .orderBy("k")
  }

  /**
   * Run a BOUNDED-by-construction result (k-variant evals, sampled
   * audits — never corpus-scaled data) once and rebuild it as a
   * local-relation DataFrame: the computing plan keeps full AQE, and
   * nothing stays pinned in storage memory afterwards. Downstream
   * consumers (artifact dump, gates, ordered limits) reread driver
   * rows instead of re-running the distributed plan.
   */
  def localized(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** `x` rounded HALF_UP to `s` places — Spark's `round`, on the driver. */
  private[graft] def roundAt(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue

  /** Recall@k of driver-side (query_id, vec_id, dist, rnk) rows against
    * ground-truth ranks by (query, vec), over the full query grid: per
    * query, the rows ranked <= k whose ground-truth rank is <= k, over
    * k; a zero-hit query counts 0; the mean rounded to 4dp. */
  private[graft] def recallAt(ann: Seq[(Long, Long, Double, Int)],
      gtRnk: Map[(Long, Long), Int], queries: Seq[Long], k: Int): Double = {
    val hits = ann.filter { case (q, v, _, rnk) => rnk <= k && gtRnk.get((q, v)).exists(_ <= k) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    roundAt(queries.map(q => hits.getOrElse(q, 0).toDouble / k).sum / queries.length, 4)
  }

  /** Unique candidates per query surfaced by a probe set (ratio
    * numerator), (query_id, n_candidates) for each query with one: a
    * count cut of the kernel over the index's codes-only table. */
  def candidateCounts(probed: DataFrame, built: LshIndex.Built): DataFrame =
    candidateCut(probed, built, None, longPair)(hs => Seq((hs.head.qid, hs.size.toLong)))
      .toDF("query_id", "n_candidates")

  /**
   * The touched set of a query batch: every id whose record a lookup
   * surfaced (reference `ReencryptionTracker` accumulates exactly
   * this; selective re-encryption then migrates it to the next key
   * version — see `VersionedCrypto.rotate`).
   */
  def touchedIds(spark: SparkSession, queries: DataFrame,
      model: LshModel, built: LshIndex.Built): DataFrame =
    probedMembers(probeBlocks(spark, queries, model, built), built)
      .select(col("id")).distinct()

  /** Where [[lshCode]] exports the fitted model for the DuckDB oracle. */
  val ModelExportPath = graft.FixturePaths.fixture("lsh_model.parquet")

  /**
   * Export the fitted model constants — one row per (t, d, projection j)
   * with `alpha` (unit Gaussian direction), offset `r`, width `omega` —
   * so an external engine can recompute the full code→key chain from
   * first principles (reference Coding.java:184-241,285-301 semantics).
   * tables*divisions*m rows ≈ 600: driver-side by construction.
   */
  def exportModel(spark: SparkSession, model: LshModel, path: String = ModelExportPath): Unit = {
    import spark.implicits._
    val p = model.params
    val rows = for {
      t <- 0 until p.tables
      d <- 0 until p.divisions
      j <- 0 until p.m
      g = model.g(t, d)
    } yield (t, d, j, g.alpha(j).toSeq, g.r(j), g.omega(j))
    rows.toDF("t", "d", "j", "alpha", "r", "omega")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Per-vector LSH codes; hash-checked against [[lshCodeSql]], which
    * recomputes `floor((alpha.v + r) / omega)`, the sign-flip, and the
    * MSB-first interleaved 63-bit key from the exported model. */
  def lshCode(spark: SparkSession, sfDir: String): DataFrame = {
    val model = setupModel(spark, sfDir) // setup exports the model fixture
    LshIndex.codes(emb(spark, sfDir).filter(col("vec_id") < 50), "vec_id", "embedding", model)
      .select(col("id").as("vec_id"), col("t"), col("d"), col("key"))
      .orderBy("vec_id", "t", "d")
  }

  /**
   * DuckDB twin of the code→key chain over the exported model: per
   * projection j, `h = floor((alpha.v + r) / omega)` XOR Int.MinValue
   * (offset-binary sign-flip), then the m*lambda code bits interleave
   * MSB-first — code position p = (lambda-1-bit)*m + j holds bit `bit`
   * of h_j — and the key is the first 63 code bits (key bit 62-p).
   * Each position lands via `((h >> bit) & 1) << (62 - p)`; positions
   * past bit 62 fall off the key exactly as in `Lsh.key`.
   * `vecFilter` bounds the vector set (`lsh_code` checks 50 vectors;
   * `lsh_blocks` re-derives the whole corpus layout).
   */
  private def codeKeyCte(vecFilter: String, recursive: Boolean = false,
      multiDim: Boolean = false): String = {
    val p = cfg.lsh
    // one summand per interleave block b (= lambda-1-bit); j is a column
    val terms = (0 until p.lambda).map { b =>
      val bit = p.lambda - 1 - b
      val off = 62 - b * p.m // shift for j=0 in this block
      s"(CASE WHEN $off - j >= 0 THEN ((hu >> $bit) & 1) << ($off - j) ELSE 0 END)"
    }.mkString(" + ")
    val rec = if (recursive) "RECURSIVE " else ""
    // multi-dim mode: the demo 2-dim corpus (DimRegistry.twoDimCorpus)
    // with one fitted model PER dimension in the fixture, joined by
    // vector length — each vector is coded by its own dim's model
    val source =
      if (multiDim)
        s"""WITH ${rec}corp AS (
           |  SELECT vec_id,
           |    CASE WHEN vec_id % 2 = 0 THEN embedding ELSE embedding[1:32] END AS v
           |  FROM embeddings),
           |m AS (SELECT * FROM read_parquet('${graft.query.DimRegistry.MultidimModelExportPath}/*.parquet')),
           |h AS (
           |  SELECT e.vec_id, m.t, m.d, m.j,
           |    CAST(xor(CAST(FLOOR((list_dot_product(CAST(e.v AS DOUBLE[]), m.alpha) + m.r) / m.omega) AS INTEGER),
           |             -2147483648) AS BIGINT) & 4294967295 AS hu
           |  FROM corp e JOIN m ON m.vdim = len(e.v)
           |  $vecFilter)""".stripMargin
      else
        s"""WITH ${rec}m AS (SELECT * FROM read_parquet('$ModelExportPath/*.parquet')),
           |h AS (
           |  SELECT e.vec_id, m.t, m.d, m.j,
           |    CAST(xor(CAST(FLOOR((list_dot_product(CAST(e.embedding AS DOUBLE[]), m.alpha) + m.r) / m.omega) AS INTEGER),
           |             -2147483648) AS BIGINT) & 4294967295 AS hu
           |  FROM embeddings e CROSS JOIN m
           |  $vecFilter)""".stripMargin
    s"""$source,
       |kk AS (
       |  SELECT vec_id, t, d, CAST(SUM($terms) AS BIGINT) AS key
       |  FROM h GROUP BY vec_id, t, d)""".stripMargin
  }

  def lshCodeSql: String =
    s"""${codeKeyCte("WHERE e.vec_id < 50")}
       |SELECT vec_id, t, d, key FROM kk""".stripMargin

  /**
   * The full greedy-partition LAYOUT, hash-checked: per-(t, d, block)
   * summaries of the resident index. The oracle re-derives every code
   * and key from the exported model, reproduces the deterministic
   * (t, d, key, id) global sort (`LshIndex.build` numbering ==
   * `row_number` by construction, LshIndex.scala:95,133), cuts blocks
   * of `blockSize`, and aggregates the summary columns — anchoring the
   * exact block boundaries every probe and candidate join serves from
   * (`lsh_partition_build` checks the same table's counts; this checks
   * the layout itself).
   */
  def lshBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, built) = setupIndex(spark, sfDir) // setup exports the model fixture
    built.summaries.select(col("t"), col("d"), col("block"),
      col("min_key"), col("max_key"), col("n"))
  }

  def lshBlocksSql: String = {
    val b = cfg.lsh.blockSize
    s"""${codeKeyCte("")}
       |SELECT t, d, CAST((rn // $b) AS INTEGER) AS block,
       |  MIN(key) AS min_key, MAX(key) AS max_key, COUNT(*) AS n
       |FROM (SELECT t, d, key,
       |        ROW_NUMBER() OVER (PARTITION BY t, d ORDER BY key, vec_id) - 1 AS rn
       |      FROM kk)
       |GROUP BY t, d, block""".stripMargin
  }

  /**
   * The FLAGSHIP chain, hash-checked end to end in DuckDB: codes/keys
   * from the exported model, the deterministic block layout, cover
   * windows -> nearest-by-key center (`findNearestBlock`'s gap
   * semantics == rank by (key_dist, block)), the best-first probe
   * expansion — the probed set is always a contiguous block interval
   * whose two frontier ends compete by (rep-hamming, block), so a
   * recursive CTE over (l, r) state reproduces the priority queue
   * exactly — the bit-packed first-appearance cap stamp, the
   * stabilization refine bound, and the exact-L2 top-k.
   *
   * Valid only while the code fits one word (m*lambda <= 63): then
   * code == key << 1, so rep-Hamming == bit_count(xor(keys)).
   * [[SparkEntry.oracleSql]] includes the entry conditionally.
   */
  def annLshTopKSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false)

  /** Same chain, widened probes + equality filter at the refine
    * (`lshTopKSameLabel`, overProbe = 2). */
  def annLshFilteredTopKSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes * 2, bestFirst = true, sameLabel = true)

  /** The distributed-probe twin: same centers, but the probed set is
    * the top maxProbes by (rep-hamming, block) within the
    * +-maxProbes window — no recursion needed. */
  def annLshTopKDistJoinSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = false, sameLabel = false)

  /** Registry-routed multi-dim serving (`DimRegistry.annMultidimTopK`):
    * per-idx layouts ARE the per-dim indexes (vectors coded by their
    * own dim's model via the vdim-joined fixture), queries probe only
    * their own dimension's layout, and the refine pairs ride the demo
    * corpus's truncated vectors. */
  def annMultidimTopKSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false,
      multiDim = true)

  /** Main + staged-delta serving (`IndexMaintenance.lshTopKWithDelta`):
    * vectors split into two independently-built index layouts (idx 0 =
    * main, 1 = delta), each probed with its own budget; the candidate
    * union's cap stamp offsets delta blocks by 2^30 exactly like the
    * kernel's delta side (`IndexMaintenance.DeltaBlockOffset`). */
  def annLshTopKDeltaSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false,
      splitAt = Some(100))

  /** Recall + search-cost + paper-ratio eval (`annRecallEval`), checked
    * end to end: the ann side is the k=maxK chain, the ground truth a
    * brute-force cross join, and the three metrics re-aggregate per k
    * variant exactly as recallEval/candidateCounts/distRatioByQuery. */
  def annRecallEvalSqlOpt: Option[String] = evalSqlOpt(includeRatios = true)

  /** GT-FILE recall eval (`GtFile.annRecallGtfile`): same metrics minus
    * the candidate-ratio column, with ratio denominators re-derived
    * from base vectors (`ratio.source = base`) — which equal the brute
    * distances for self-computed GT, so the oracle doubles as a
    * value-level check of the .ivecs write->load roundtrip (a corrupted
    * file could not reproduce these aggregates). */
  def annRecallGtfileSqlOpt: Option[String] = evalSqlOpt(includeRatios = false)

  /** Sampled-query audit (`QueryDiagnostics.annDiagnostics`): the
    * k = min(audit.k, corpus) chain (k as a scalar subquery, so the
    * same SQL holds at any scale), per-query precision vs brute GT
    * with the floor truncation, and the (precision, query_id)-ordered
    * worstKeep cut. */
  def annDiagnosticsSqlOpt: Option[String] = {
    val audit = graft.config.GraftConfig.active.audit
    if (!audit.enabled) return None
    val step = if (audit.sampleEvery >= NumQueries) 1 else math.max(1, audit.sampleEvery)
    val kSql = s"LEAST(${audit.k}, (SELECT COUNT(*) FROM embeddings))"
    val tail =
      s"""gtd AS (
         |  SELECT query_id, vec_id, rnk FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), e.vec_id) AS INTEGER) AS rnk
         |    FROM embeddings q CROSS JOIN embeddings e
         |    WHERE q.vec_id < $NumQueries AND q.vec_id % $step = 0)
         |  WHERE rnk <= $kSql),
         |hits AS (
         |  SELECT a.query_id, COUNT(*) AS n_hits
         |  FROM ann a JOIN gtd g USING (query_id, vec_id)
         |  GROUP BY a.query_id),
         |diag AS (
         |  SELECT g.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         |    FLOOR(COALESCE(h.n_hits, 0) * 10000.0 / $kSql) / 10000 AS "precision",
         |    CASE WHEN COALESCE(h.n_hits, 0) = 0 THEN 1 ELSE 0 END AS zero_hit
         |  FROM (SELECT DISTINCT query_id FROM gtd) g
         |  LEFT JOIN hits h USING (query_id))
         |SELECT query_id, n_hits, "precision", zero_hit FROM diag
         |ORDER BY "precision", query_id LIMIT ${audit.worstKeep}""".stripMargin
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false,
      tail = Some(tail), kExpr = Some(kSql),
      qkFilter = if (step == 1) "" else s" AND vec_id % $step = 0")
  }

  private def evalSqlOpt(includeRatios: Boolean): Option[String] = {
    val ks = cfg.eval.kVariants
    val maxK = ks.max
    val ksList = ks.mkString("[", ", ", "]")
    val ratiosCte =
      if (includeRatios)
        s"""cands AS (
           |  SELECT p.qid, COUNT(DISTINCT m.vec_id) AS n_candidates
           |  FROM probed p JOIN mem m ON m.idx = p.idx AND m.t = p.t AND m.d = p.d AND m.block = p.block
           |  GROUP BY p.qid),
           |ratios AS (
           |  SELECT ks.k, ROUND(AVG(n_candidates * 1.0 / ks.k), 2) AS avg_ratio
           |  FROM cands CROSS JOIN ks GROUP BY ks.k),
           |""".stripMargin
      else ""
    val finalSelect =
      if (includeRatios)
        """SELECT r.k, r.recall, r.n_queries, ra.avg_ratio,
          |  COALESCE(dr.avg_dist_ratio, -1.0) AS avg_dist_ratio
          |FROM rec r JOIN ratios ra USING (k) LEFT JOIN dr USING (k)""".stripMargin
      else
        """SELECT r.k, r.recall, r.n_queries,
          |  COALESCE(dr.avg_dist_ratio, -1.0) AS avg_dist_ratio
          |FROM rec r LEFT JOIN dr USING (k)""".stripMargin
    val tail =
      s"""gt AS (
         |  SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id,
         |      list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS dist,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_distance(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), e.vec_id) AS INTEGER) AS rnk
         |    FROM embeddings q CROSS JOIN embeddings e WHERE q.vec_id < $NumQueries)
         |  WHERE rnk <= $maxK),
         |ks AS (SELECT unnest($ksList) AS k),
         |grid AS (SELECT DISTINCT g.query_id, ks.k FROM gt g CROSS JOIN ks),
         |hits AS (
         |  SELECT ks.k, a.query_id, COUNT(*) AS n_hits
         |  FROM ann a JOIN gt g USING (query_id, vec_id) CROSS JOIN ks
         |  WHERE a.rnk <= ks.k AND g.rnk <= ks.k
         |  GROUP BY ks.k, a.query_id),
         |rec AS (
         |  SELECT gr.k, ROUND(AVG(COALESCE(h.n_hits, 0) * 1.0 / gr.k), 4) AS recall,
         |    COUNT(*) AS n_queries
         |  FROM grid gr LEFT JOIN hits h ON h.k = gr.k AND h.query_id = gr.query_id
         |  GROUP BY gr.k),
         |${ratiosCte}drq AS (
         |  SELECT ks.k, p.query_id,
         |    SUM(CASE WHEN p.d_gt > 0 THEN p.d_ann / p.d_gt END) AS ratio_sum,
         |    COUNT(CASE WHEN p.d_gt > 0 THEN 1 END) AS used,
         |    COUNT(*) AS n_pairs
         |  FROM (SELECT a.query_id, a.rnk, a.dist AS d_ann, g.dist AS d_gt
         |        FROM ann a JOIN gt g USING (query_id, rnk)) p
         |  CROSS JOIN ks WHERE p.rnk <= ks.k GROUP BY ks.k, p.query_id),
         |dr AS (
         |  SELECT k, COALESCE(
         |    ROUND(AVG(CASE WHEN n_pairs = k AND used > 0 THEN ratio_sum / used END), 4), -1.0)
         |    AS avg_dist_ratio
         |  FROM drq GROUP BY k)
         |$finalSelect""".stripMargin
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false,
      k = maxK, tail = Some(tail))
  }

  private def annChainSqlOpt(mp: Int, bestFirst: Boolean, sameLabel: Boolean,
      splitAt: Option[Int] = None, k: Int = DefaultK,
      tail: Option[String] = None, multiDim: Boolean = false,
      kExpr: Option[String] = None, qkFilter: String = ""): Option[String] = {
    val p = cfg.lsh
    if (p.codeWords != 1) None
    else {
      val stab = graft.config.GraftConfig.active.stabilization
      // idx = which index layout a vector belongs to (always 0 without
      // a split; 1 = the staged delta; the dim slot in multi-dim mode,
      // where per-idx layouts ARE the per-dim indexes) — rides every
      // partition key
      val idxExpr =
        if (multiDim) "CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END"
        else splitAt.fold("0")(th => s"CASE WHEN vec_id < $th THEN 1 ELSE 0 END")
      // delta mode probes BOTH layouts per query; multi-dim routes each
      // query to ITS OWN dimension's layout only
      val centerIdxJoin = if (multiDim) " AND s.idx = q.qidx" else ""
      val qkIdx = if (multiDim)
        ", CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS qidx" else ""
      // the delta union offsets delta blocks by 2^30 in the cap stamp
      // (IndexMaintenance.DeltaBlockOffset); per-dim runs keep raw block ids
      val blockStamp =
        if (splitAt.isDefined)
          "LEAST(CAST(p.block AS BIGINT) + CAST(p.idx AS BIGINT) * 1073741824, 68719476735)"
        else "LEAST(CAST(p.block AS BIGINT), 68719476735)"
      // refine pairs ride the demo corpus's truncated vectors in
      // multi-dim mode (same-dim by construction: probes only ever
      // touch the query's own layout)
      val refineSrc = if (multiDim) "corp" else "embeddings"
      val refineVec = if (multiDim) "v" else "embedding"
      val hLimit =
        if (!stab.enabled) s"${p.refinementLimit}"
        else s"LEAST(${p.refinementLimit}, GREATEST(${math.max(k, stab.minCandidates)}, " +
          s"LEAST(COUNT(*) OVER (PARTITION BY qid), ${math.ceil(k * stab.targetRatio).toLong})))"
      val probedCte =
        if (bestFirst)
          s"""walk(qid, idx, t, d, l, r, step) AS (
             |  SELECT qid, idx, t, d, center, center, 1 FROM centers
             |  UNION ALL
             |  SELECT w.qid, w.idx, w.t, w.d,
             |    CASE WHEN sl.block IS NOT NULL AND (sr.block IS NULL OR sl.h <= sr.h)
             |         THEN w.l - 1 ELSE w.l END,
             |    CASE WHEN sl.block IS NOT NULL AND (sr.block IS NULL OR sl.h <= sr.h)
             |         THEN w.r ELSE w.r + 1 END,
             |    w.step + 1
             |  FROM walk w
             |  LEFT JOIN scored sl ON sl.qid = w.qid AND sl.idx = w.idx AND sl.t = w.t AND sl.d = w.d AND sl.block = w.l - 1
             |  LEFT JOIN scored sr ON sr.qid = w.qid AND sr.idx = w.idx AND sr.t = w.t AND sr.d = w.d AND sr.block = w.r + 1
             |  WHERE w.step < $mp AND (sl.block IS NOT NULL OR sr.block IS NOT NULL)),
             |probed AS (
             |  SELECT s.qid, s.idx, s.t, s.d, s.block, s.h AS score
             |  FROM (SELECT * FROM (
             |          SELECT w.*, ROW_NUMBER() OVER (PARTITION BY qid, idx, t, d ORDER BY step DESC) AS wr
             |          FROM walk w) WHERE wr = 1) f
             |  JOIN scored s ON s.qid = f.qid AND s.idx = f.idx AND s.t = f.t AND s.d = f.d
             |    AND s.block BETWEEN f.l AND f.r)""".stripMargin
        else
          s"""probed AS (
             |  SELECT qid, idx, t, d, block, h AS score FROM (
             |    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY qid, idx, t, d ORDER BY h, block) AS pr
             |    FROM scored s) WHERE pr <= $mp)""".stripMargin
      val refineJoin =
        if (sameLabel)
          s"""  FROM bounded b
             |  JOIN embeddings e ON e.vec_id = b.id
             |  JOIN embeddings q ON q.vec_id = b.qid AND q.label = e.label""".stripMargin
        else
          s"""  FROM bounded b
             |  JOIN $refineSrc e ON e.vec_id = b.id
             |  JOIN $refineSrc q ON q.vec_id = b.qid""".stripMargin
      Some(s"""${codeKeyCte("", recursive = bestFirst, multiDim = multiDim)},
       |mem AS (
       |  SELECT vec_id, idx, t, d, key,
       |    CAST(rn // ${p.blockSize} AS INTEGER) AS block, rn % ${p.blockSize} AS local
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY idx, t, d ORDER BY key, vec_id) - 1 AS rn
       |        FROM (SELECT kk.*, $idxExpr AS idx FROM kk))),
       |blocks AS (
       |  SELECT idx, t, d, block, MIN(key) AS min_key, MAX(key) AS max_key, COUNT(*) AS n
       |  FROM mem GROUP BY idx, t, d, block),
       |summ AS (
       |  SELECT b.idx, b.t, b.d, b.block, b.min_key, b.max_key, r.rep_key,
       |    GREATEST(0, LEAST(b.min_key, COALESCE(LAG(b.max_key) OVER w + 1, 0))) AS lo,
       |    GREATEST(b.max_key, COALESCE(LEAD(b.min_key) OVER w - 1, 9223372036854775807)) AS hi
       |  FROM blocks b JOIN (
       |    SELECT m.idx, m.t, m.d, m.block, m.key AS rep_key
       |    FROM mem m JOIN blocks bb USING (idx, t, d, block) WHERE m.local = (bb.n - 1) // 2) r
       |    USING (idx, t, d, block)
       |  WINDOW w AS (PARTITION BY b.idx, b.t, b.d ORDER BY b.block)),
       |qk AS (SELECT vec_id AS qid$qkIdx, t, d, key AS qkey FROM kk WHERE vec_id < $NumQueries$qkFilter),
       |centers AS (
       |  SELECT qid, idx, t, d, qkey, block AS center FROM (
       |    SELECT q.qid, s.idx, q.t, q.d, q.qkey, s.block,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid, s.idx, q.t, q.d ORDER BY
       |        CASE WHEN q.qkey < s.min_key THEN s.min_key - q.qkey
       |             WHEN q.qkey > s.max_key THEN q.qkey - s.max_key ELSE 0 END, s.block) AS cr
       |    FROM qk q JOIN summ s ON s.t = q.t AND s.d = q.d AND q.qkey BETWEEN s.lo AND s.hi$centerIdxJoin)
       |  WHERE cr = 1),
       |scored AS (
       |  SELECT c.qid, c.idx, c.t, c.d, c.center, s.block,
       |    bit_count(xor(c.qkey, s.rep_key)) AS h
       |  FROM centers c JOIN summ s ON s.idx = c.idx AND s.t = c.t AND s.d = c.d
       |    AND abs(s.block - c.center) < $mp),
       |$probedCte,
       |cand AS (
       |  SELECT p.qid, m.vec_id AS id, MIN(p.score) AS hamming,
       |    MIN((CAST(p.t AS BIGINT) << 55) + (CAST(p.d AS BIGINT) << 49)
       |      + (LEAST(CAST(p.score AS BIGINT), 8191) << 36)
       |      + $blockStamp) AS first_ord
       |  FROM probed p JOIN mem m ON m.idx = p.idx AND m.t = p.t AND m.d = p.d AND m.block = p.block
       |  GROUP BY p.qid, m.vec_id),
       |capped AS (
       |  SELECT qid, id, hamming FROM (
       |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY first_ord, id) AS cr
       |    FROM cand c) WHERE cr <= ${p.hardCap}),
       |bounded AS (
       |  SELECT qid, id FROM (
       |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hamming, id) AS hr,
       |      $hLimit AS h_limit
       |    FROM capped c) WHERE hr <= h_limit),
       |refined AS (
       |  SELECT b.qid AS query_id, b.id AS vec_id,
       |    list_distance(CAST(e.$refineVec AS DOUBLE[]), CAST(q.$refineVec AS DOUBLE[])) AS dist
       |$refineJoin),
       |ann AS (
       |  SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |    SELECT query_id, vec_id, dist,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INTEGER) AS rnk
       |    FROM refined)
       |  WHERE rnk <= ${kExpr.getOrElse(k.toString)})${tail.fold("\nSELECT query_id, vec_id, dist, rnk FROM ann")(t => s",\n$t")}""".stripMargin)
    }
  }

  /** Candidate + refine row totals of the resident LSH serving path,
    * for [[TierReport]]'s cost columns: `cand` = unique candidates the
    * probe set surfaces (the reference's avgCandidateRatio numerator,
    * [[candidateCounts]]); `refine` = rows entering the exact-L2
    * refine after the cap + refinement bound ([[boundedCandidates]]
    * with the serving k — the same stage [[annLshTopK]] pays). */
  private[graft] def lshTierCounts(spark: SparkSession, sfDir: String): (Long, Long) = {
    val (model, built) = setupIndex(spark, sfDir)
    candidateTotals(probeBlocks(spark, queryVecs(spark, sfDir), model, built), built,
      model.params, DefaultK, cfg.stabilization, cfg.search)
  }

  /** (candidates, bounded candidates) summed over a probe set's
    * queries, from one kernel pass over the codes-only table. */
  private[graft] def candidateTotals(probed: DataFrame, built: LshIndex.Built, p: LshParams,
      k: Int, stab: StabilizationConfig, search: graft.config.SearchConfig): (Long, Long) = {
    val perQuery = candidateCut(probed, built, None, longPair)(
        hs => Seq((hs.size.toLong, boundHits(hs, k, p, stab, search).size.toLong)))
      .collect()
    (perQuery.map(_._1).sum, perQuery.map(_._2).sum)
  }

  /** Chain replay returning ONLY the tier-report cost counters — the
    * `cand` and `bounded` CTE cardinalities ([[lshTierCounts]]'s
    * oracle twin), via the [[annChainSqlOpt]] tail hook. */
  def lshTierCountsSqlOpt: Option[String] =
    annChainSqlOpt(cfg.lsh.maxProbes, bestFirst = true, sameLabel = false,
      tail = Some(
        """tcounts AS (
          |  SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS cand_rows,
          |    CAST((SELECT COUNT(*) FROM bounded) AS BIGINT) AS refine_rows)
          |SELECT cand_rows, refine_rows FROM tcounts""".stripMargin))

  /** Partition-build structural invariants, SQL-checkable from row counts alone. */
  def lshPartitionBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, built) = setupIndex(spark, sfDir)
    built.summaries.groupBy("t", "d")
      .agg(
        count(lit(1)).as("n_partitions"),
        sum(col("n")).as("n_vectors"),
        max(col("n")).as("max_block_n"),
        min(col("n")).as("min_block_n"))
  }

  // interpolated from the active config (blockSize / tables /
  // divisions) so config overrides keep oracle parity; a def so the
  // SQL always reads the config the Spark side currently runs (a val
  // would freeze the object-init snapshot across any future reload)
  def lshPartitionBuildSql: String = {
    val p = cfg.lsh
    val b = p.blockSize
    s"""SELECT CAST(t.range AS INTEGER) AS t, CAST(d.range AS INTEGER) AS d,
       |  CAST(CEIL(c.n / $b.0) AS BIGINT) AS n_partitions,
       |  c.n AS n_vectors,
       |  CAST(LEAST(c.n, $b) AS BIGINT) AS max_block_n,
       |  CAST(CASE WHEN c.n <= $b THEN c.n
       |            WHEN c.n % $b = 0 THEN $b
       |            ELSE c.n % $b END AS BIGINT) AS min_block_n
       |FROM (SELECT COUNT(*) AS n FROM embeddings) c, range(${p.tables}) t, range(${p.divisions}) d""".stripMargin
  }
}
