package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.Tables
import graft.lsh.{LshCodesExpr, LshModel}
import graft.query.AnnQuery

/**
 * Incremental index maintenance (re-expression of fspann's staged
 * insert lifecycle: `index/paper/PartitionedIndexService.insert`
 * stages encrypted points + codes, PartitionedIndexService.java:266,342;
 * `finalizeForSearch` builds the staged set into greedy partitions,
 * PartitionedIndexService.java:789,837).
 *
 * The reference freezes after one build — points inserted later stay
 * staged and unsearchable. The Spark-first shape is LSM-ish and keeps
 * serving continuous:
 *  - a staged batch is coded and DELTA-BUILT into its own (small)
 *    partition list — same greedy layout, just over the batch;
 *  - queries probe the main and delta indexes as two partition lists
 *    (each with its own probe budget) and refine over the candidate
 *    union, so fresh inserts are visible without touching the main
 *    index — at 100 TB re-sorting the corpus per insert batch is not
 *    an option;
 *  - `compact` merges: one standard build over the code union, which
 *    is BYTE-IDENTICAL to a from-scratch build of the full corpus
 *    (asserted in IndexMaintenanceSpec), so delta chains never
 *    degrade the steady-state layout.
 *
 * Delta block ids are offset by [[DeltaBlockOffset]] when the kernel
 * serves both sides in one pass, so a packed (t, d, block) key names
 * one block across main and delta.
 */
object IndexMaintenance {

  /** Delta blocks live above this id; main indexes stay far below it
    * (2^30 blocks/(t,d) = 6.9e10 vectors at blockSize 64). */
  val DeltaBlockOffset: Int = 1 << 30

  /** Code a staged vector batch (the reference's insert-time
    * `Coding.C` over all (table, division), PartitionedIndexService.java:334). */
  def stageCodes(staged: DataFrame, idCol: String, vecCol: String,
      model: LshModel): DataFrame =
    LshIndex.codes(staged, idCol, vecCol, model)

  /** Greedy-build a staged batch into its own delta partition list: a
    * staged batch is small (bounded by the compaction cadence), so its
    * codes are collected in one job and numbered on the driver
    * ([[LshIndex.buildLocal]]) — the same rows as [[LshIndex.build]]
    * without the distributed build's count, shuffle and probe-map jobs. */
  def buildDelta(stagedCodes: DataFrame, blockSize: Int): LshIndex.Built =
    LshIndex.buildLocal(stagedCodes.sparkSession, LshIndex.collectCodes(stagedCodes), blockSize)

  /**
   * Top-k over main + staged delta: each side is probed as its own
   * partition list (best-first, budget maxProbes each — the delta is
   * small, so its probes are nearly free) and both sides' by-vector
   * tables are served by ONE kernel pass (AnnQuery.serve), delta block
   * ids offset by [[DeltaBlockOffset]]: one candidate union, Hamming
   * bound and exact refine, and no query joins or shuffles the serving
   * views. Fresh inserts are searchable
   * immediately; results for vectors in the main index are unchanged
   * (their probes are identical). Deletions drop before the candidate
   * cap, matching the non-delta path and the reference's
   * loadPointIfActive skip-during-collection.
   *
   * Main-index ids take their vectors from `mainData`; staged ids from
   * `deltaData`, else `mainData` (a caller may keep staged vectors in
   * its one serving view and pass an empty `deltaData`). Preconditions:
   * ids are unique in `mainData` and `deltaData` together, and the main
   * index's ids and the staged ids are disjoint.
   */
  def lshTopKWithDelta(spark: SparkSession, mainData: DataFrame, deltaData: DataFrame,
      queries: DataFrame, k: Int, model: LshModel,
      main: LshIndex.Built, delta: LshIndex.Built,
      deletedIds: Option[DataFrame] = None): DataFrame = {
    val batch = AnnQuery.collectBatch(queries, model)
    def side(b: LshIndex.Built, source: DataFrame, offset: Int) =
      AnnQuery.Side(b, batch.probe(b, model.params.maxProbes), Some(source), offset)
    val cfg = graft.config.GraftConfig.active
    AnnQuery.serve(spark, batch.vecs,
      Seq(side(main, mainData, 0), side(delta, deltaSource(mainData, deltaData), DeltaBlockOffset)),
      k, model.params, deletedIds, cfg.stabilization, cfg.search)
  }

  /** The serving view a delta's by-vector table reads: the staged rows,
    * then the main view (see [[lshTopKWithDelta]]). */
  private[graft] def deltaSource(mainData: DataFrame, deltaData: DataFrame): DataFrame =
    deltaData.select("vec_id", "embedding").unionByName(mainData.select("vec_id", "embedding"))

  /** The delta index of a staged vector batch, built from the vectors
    * themselves in ONE job: the staged (id, vector) rows are collected,
    * coded on the driver (`LshCodesExpr.codeAll`, the kernel the coding
    * expression runs) and numbered by [[LshIndex.buildLocal]]; the rows
    * in hand become the delta's by-vector table for the serving view
    * [[deltaSource]]`(mainData, staged)`, so serving it derives nothing. */
  private[graft] def stagedDelta(staged: DataFrame, mainData: DataFrame, model: LshModel,
      blockSize: Int): LshIndex.Built = {
    val spark = staged.sparkSession
    import spark.implicits._
    val rows = staged.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast(ArrayType(FloatType)).as("vec"))
      .filter(col("vec").isNotNull)
      .as[(Long, Array[Float])].collect().toSeq
    val codes = rows.flatMap { case (id, v) =>
      val tdc = LshCodesExpr.codeAll(UnsafeArrayData.fromPrimitiveArray(v), model)
      (0 until tdc.numElements()).map { i =>
        val c = tdc.getStruct(i, 4)
        LshIndex.Code(id, c.getInt(0), c.getInt(1), c.getLong(2), c.getArray(3).toLongArray())
      }
    }
    LshIndex.buildLocal(spark, codes, blockSize)
      .byVectorFrom(deltaSource(mainData, staged), rows)
  }

  /** Merge a staged batch into the main index: one standard build over
    * the code union — provably identical to building the full corpus
    * from scratch (build() is a deterministic function of the row set). */
  def compact(mainCodes: DataFrame, stagedCodes: DataFrame, blockSize: Int): LshIndex.Built =
    LshIndex.build(mainCodes.unionByName(stagedCodes), blockSize)

  /**
   * Rebuild the index from the encrypted store (re-expression of
   * `ForwardSecureANNSystem.restoreIndexFromDisk`: decrypt every
   * stored point of a key version, re-insert, finalize — recovery
   * after the serving state is lost while the versioned ciphertext
   * store survives). One decrypt projection feeding the standard
   * build; the store is the system of record, the index is always
   * re-derivable from it.
   */
  def restoreFromStore(encStore: DataFrame, version: Int, model: LshModel,
      blockSize: Int): LshIndex.Built = {
    val vecs = graft.crypto.VersionedCrypto.decrypt(
        encStore.filter(col("kv") === version), version)
      .select(col("id").as("vec_id"), col("vec").as("embedding"))
    LshIndex.build(LshIndex.codes(vecs, "vec_id", "embedding", model), blockSize)
  }

  /**
   * The staged-codes table accumulated by a streaming insert ingest
   * ([[graft.streaming.StreamingIngest.codedVectorStream]] appended
   * through the exactly-once parquet file sink): continuous inserts
   * land here coded, [[buildDelta]] makes each accumulation servable,
   * and [[compact]] periodically folds it into the main index — the
   * full insert lifecycle with no stop-the-world rebuild on the
   * ingest path.
   */
  def deltaCodesFrom(spark: SparkSession, deltaDir: String): DataFrame =
    spark.read.parquet(deltaDir).select("id", "t", "d", "key", "code")

  // ---- SparkEntry wiring ----

  /**
   * Delta SERVING end-to-end: the standard query batch answered by
   * main (corpus minus the staged batch) + delta (the staged batch)
   * probed as two partition lists. Rows-only entry — the equality and
   * visibility semantics are spec'd in IndexMaintenanceSpec; this
   * exercises the serving path itself through the driver.
   */
  def annLshTopKDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val model = AnnQuery.setupModel(spark, sfDir)
    val (main, delta) = setupDelta(spark, sfDir)
    lshTopKWithDelta(spark,
      emb.filter(col("vec_id") >= 100), emb.filter(col("vec_id") < 100),
      emb.filter(col("vec_id") < graft.config.GraftConfig.active.query.numQueries),
      graft.config.GraftConfig.active.query.k, model, main, delta)
  }

  // SETUP-once memo for the split scenario's two indexes (the main
  // index is long-lived state and each staged batch is delta-built
  // once when it lands — queries serve from both, they don't rebuild)
  private val deltaSetups = new graft.util.SessionMemo[String, (LshIndex.Built, LshIndex.Built)]

  private def setupDelta(spark: SparkSession, sfDir: String): (LshIndex.Built, LshIndex.Built) =
    deltaSetups(spark, sfDir) {
      val emb = Tables.embeddings(spark, sfDir)
      val model = AnnQuery.setupModel(spark, sfDir)
      val blockSize = model.params.blockSize
      (LshIndex.build(stageCodes(
          LshIndex.spread(emb.filter(col("vec_id") >= 100)),
          "vec_id", "embedding", model), blockSize).materialize(),
        buildDelta(stageCodes(emb.filter(col("vec_id") < 100),
          "vec_id", "embedding", model), blockSize))
    }

  /** Re-materialize the split-scenario main index after an external
    * cache clear (bench prep; same contract as `AnnQuery.ensureResident`)
    * and fill both sides' by-vector tables; the delta is driver-local
    * relations, which no cache clear drops. */
  def ensureResidentDelta(spark: SparkSession, sfDir: String): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    val (main, delta) = setupDelta(spark, sfDir)
    val mainData = emb.filter(col("vec_id") >= 100)
    main.materialize(mainData)
    delta.byVector(Some(deltaSource(mainData, emb.filter(col("vec_id") < 100))))
  }

  /**
   * Insert lifecycle over the embeddings table: the corpus minus the
   * first 100 vectors is the main index, the first 100 arrive as a
   * staged batch, delta-built, then compacted. Output: per (t, d)
   * partition counts of all three layouts — SQL-checkable from row
   * counts alone (compaction must land exactly the full-corpus
   * layout).
   */
  def indexInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val model = AnnQuery.setupModel(spark, sfDir)
    // CACHED: each LshIndex.build makes TWO passes over its codes
    // (offset collect + numbering), and this entry builds three indexes
    // over these two code sets (main, delta, compacted-union) — so the
    // G-function coding of the corpus evaluated ~6x per run before.
    // One fill each; released by the session's per-entry clearCache
    // (the knnJoinDeltaCompact returned-plan-cache discipline).
    val mainCodes = stageCodes(emb.filter(col("vec_id") >= 100), "vec_id", "embedding", model)
      .cache()
    val stagedCodes = stageCodes(emb.filter(col("vec_id") < 100), "vec_id", "embedding", model)
      .cache()
    val blockSize = model.params.blockSize
    val main = LshIndex.build(mainCodes, blockSize)
    val delta = buildDelta(stagedCodes, blockSize)
    val compacted = compact(mainCodes, stagedCodes, blockSize)
    def counts(b: LshIndex.Built, prefix: String): DataFrame =
      b.summaries.groupBy("t", "d").agg(
        count(lit(1)).as(s"${prefix}_partitions"),
        sum(col("n")).as(s"${prefix}_vectors"))
    counts(main, "main")
      .join(counts(delta, "delta"), Seq("t", "d"))
      .join(counts(compacted, "compacted"), Seq("t", "d"))
  }

  // the oracle derives from the SAME active config as the Spark side
  // (blockSize / tables / divisions), so a config override cannot
  // silently break oracle parity; a def — not a val — so a future
  // runtime config reload could never leave the SQL capturing a stale
  // snapshot of a config the Spark side no longer runs
  def indexInsertSql: String = {
    val p = graft.config.GraftConfig.active.lsh
    s"""SELECT CAST(t.range AS INTEGER) AS t, CAST(d.range AS INTEGER) AS d,
       |  CAST(CEIL(m.n / ${p.blockSize}.0) AS BIGINT) AS main_partitions, m.n AS main_vectors,
       |  CAST(CEIL(s.n / ${p.blockSize}.0) AS BIGINT) AS delta_partitions, s.n AS delta_vectors,
       |  CAST(CEIL(c.n / ${p.blockSize}.0) AS BIGINT) AS compacted_partitions, c.n AS compacted_vectors
       |FROM (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id >= 100) m,
       |     (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 100) s,
       |     (SELECT COUNT(*) AS n FROM embeddings) c,
       |     range(${p.tables}) t, range(${p.divisions}) d""".stripMargin
  }
}
