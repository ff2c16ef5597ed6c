package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crypto.{KeyLifecycle, VersionedCrypto}
import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.{Lsh, LshModel, LshParams}
import graft.query.AnnQuery

/**
 * The reference's top-level system object as ONE switching surface:
 * `api/ForwardSecureANNSystem` sequences SETUP → INDEX → FINALIZE →
 * QUERY → staged insert → key rotation → selective re-encryption →
 * EXPORT (ARCHITECTURE.md lifecycle; ForwardSecureANNSystem.java),
 * and a reference user drives everything through that one handle.
 * [[GraftSystem]] is the same handle over graft's operators: every
 * verb delegates to the library plan the `SparkEntry` queries already
 * hash-verify, and the facade itself only sequences them — state is
 * an [[LshModel]], two [[LshIndex.Built]] (main + optional delta),
 * the plaintext serving view, the encrypted versioned store (the
 * system of record, exactly the reference's ciphertext filesystem),
 * and the current key version.
 *
 * Driver-side mutability is deliberate and mirrors the reference: the
 * reference is a single-node stateful server that FINALIZEs its
 * partition list once and serves every query from it. The facade owns
 * the same state with a lifetime: [[GraftSystem.setup]],
 * [[GraftSystem.load]], [[restore]] and [[compactNow]] build the main
 * index and materialize it over the serving view — the numbered code
 * table, the block summaries and the by-vector table (one row per
 * served vector: id, vector, (t, d, block) memberships) resident, the
 * probe map on the driver — and a compaction releases the index it
 * replaces; [[release]] drops it all. A query is one job that codes
 * its own batch, driver-side probing, and one pass over the resident
 * by-vector table with one shuffle by query: it never joins, scans or
 * shuffles the serving view. The staged delta is driver-local (see
 * [[currentDelta]]); the serving view and the encrypted store stay
 * lazy distributed plans, read only when an index is (re)built.
 */
final class GraftSystem private (
    val spark: SparkSession,
    val model: LshModel,
    val blockSize: Int,
    private var main: LshIndex.Built,
    private var serving: DataFrame,
    private var store: DataFrame,
    private var version: Int) {

  private var stagedData: Option[DataFrame] = None
  private var delta: Option[LshIndex.Built] = None
  private var deletedIds: Option[DataFrame] = None
  // ReencryptionTracker: ids touched since the last migration
  private var touched: Option[DataFrame] = None

  def currentVersion: Int = version

  /** The encrypted versioned store (id, kv, iv, ct, dim). */
  def encryptedStore: DataFrame = store

  /** The delta index over the CURRENT staged set, built at first use
    * after an insert, so [[insert]] itself runs no job and k tiny
    * inserts before a query pay one build, not k. The build is one job:
    * it collects the staged (id, vector) rows, codes and numbers them
    * on the driver, and keeps them as the delta's by-vector table
    * ([[IndexMaintenance.stagedDelta]]) — tables x divisions code rows
    * and one vector per staged vector, until [[compactNow]] folds them
    * in. */
  private def currentDelta: Option[LshIndex.Built] = stagedData.map { sd =>
    if (delta.isEmpty) delta = Some(IndexMaintenance.stagedDelta(sd, serving, model, blockSize))
    delta.get
  }

  /** QUERY: top-k per query over main + staged delta, honoring soft
    * deletes (reference `loadPointIfActive`). */
  def query(queries: DataFrame, k: Int): DataFrame = currentDelta match {
    case Some(d) =>
      // deletions filter before the candidate cap/rank on both paths —
      // identical results for identical state (reference loadPointIfActive)
      IndexMaintenance.lshTopKWithDelta(
        spark, serving, stagedData.get, queries, k, model, main, d, deletedIds)
    case None =>
      AnnQuery.lshTopK(spark, serving, queries, k, model, main, deletedIds)
  }

  /** Staged INSERT (PartitionedIndexService.insert): append the batch to
    * the staged set and the encrypted store under the current key —
    * searchable immediately via [[query]], which (re)builds the delta
    * index on demand. Runs no job. */
  def insert(points: DataFrame): Unit = {
    val pts = points.select(col("vec_id"), col("embedding"))
    stagedData = Some(stagedData.fold(pts)(_.unionByName(pts)))
    delta = None // invalidate: rebuilt lazily over the new staged set
    store = store.unionByName(
      VersionedCrypto.encrypt(pts, "vec_id", "embedding", version))
  }

  /** FINALIZE of the staged state (`finalizeForSearch`): fold the
    * delta into the main index — one build over the resident code
    * columns plus the staged codes, provably the from-scratch build —
    * materialized over the grown serving view before it replaces the
    * old index, which is released. */
  def compactNow(): Unit = currentDelta.foreach { d =>
    val grown = serving.unionByName(stagedData.get)
    val built = LshIndex.build(main.indexedCodes.unionByName(d.indexedCodes), blockSize)
      .materialize(grown)
    main.release()
    main = built
    serving = grown
    stagedData = None; delta = None
  }

  /** Drop everything this facade holds resident: the main index's
    * numbered table, summaries and by-vector tables, and the staged
    * delta's rows. The system stays usable
    * (a later query re-derives what it needs); call it when the system
    * is dropped, or its index stays cached for the rest of the
    * session. */
  def release(): Unit = {
    main.release()
    delta.foreach(_.release())
    delta = None
  }

  /** Soft delete (reference metadata.isDeleted): drops from every
    * subsequent query; store and index untouched. */
  def delete(ids: DataFrame): Unit = {
    val d = ids.select(col("id"))
    deletedIds = Some(deletedIds.fold(d)(_.unionByName(d)))
  }

  /** Mark ids for lazy selective re-encryption (ReencryptionTracker). */
  def touch(ids: DataFrame): Unit = {
    val t = ids.select(col("id"))
    touched = Some(touched.fold(t)(_.unionByName(t)))
  }

  /** Key ROTATION + selective re-encryption: promote v+1 and migrate
    * exactly the touched set, each row decrypted under its own actual
    * key version (KeyRotationServiceImpl posture — untouched rows
    * carry over byte-identical and migrate lazily when next touched).
    * Because every touched row migrates regardless of how far behind
    * its kv fell, clearing the tracker afterwards is sound. */
  def rotateKeys(): Unit = {
    touched.foreach { t =>
      store = VersionedCrypto.rotateAllVersions(store, t, version + 1)
    }
    version += 1
    touched = None
  }

  /** Storage accounting over the versioned store. */
  def storageReport(): DataFrame = VersionedCrypto.storageReport(store)

  /** kv histogram — the gate for safe key deletion. */
  def keyUsage(): DataFrame = KeyLifecycle.keyUsage(store)

  /** Versions deletable without losing any record. */
  def deletableVersions(upTo: Int): DataFrame =
    KeyLifecycle.safeKeyDeletion(store, (1 to upTo), version)

  /** Disaster recovery (`restoreIndexFromDisk`): rebuild the serving
    * view and index from the encrypted store alone — every present key
    * version decrypted under its own key. Returns a FRESH system. */
  def restore(): GraftSystem = {
    val sys = GraftSystem.fromStore(spark, model, blockSize, store, version)
    sys.deletedIds = deletedIds
    sys
  }

  /** Online serving (the reference's QueryServiceImpl.search loop):
    * a query STREAM answered per micro-batch against the current main
    * index — staged inserts serve through [[query]] until
    * [[compactNow]] folds them in. */
  def serveStream(queries: DataFrame, k: Int, outPath: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.AnnServe.serve(queries, serving, k, model, main,
      outPath, checkpoint, trigger)

  /** EXPORT: the full restartable state as parquet under `outDir` —
    * encrypted store, index layout, the fitted LSH model constants
    * (the [[graft.query.AnnQuery.exportModel]] row shape), and a meta
    * row (LshParams + blockSize + current key version) — so
    * [[GraftSystem.load]] reconstructs a serving system in a NEW
    * process from disk alone, the reference `restoreIndexFromDisk`
    * lifecycle. Soft-delete and re-encryption trackers are session
    * lifecycle state and are not exported (the reference's restore
    * rebuilds from active points the same way). */
  def export(outDir: String): Unit = {
    store.write.mode("overwrite").parquet(s"$outDir/store.parquet")
    main.membership.write.mode("overwrite").parquet(s"$outDir/membership.parquet")
    main.summaries.write.mode("overwrite").parquet(s"$outDir/summaries.parquet")
    graft.query.AnnQuery.exportModel(spark, model, s"$outDir/model.parquet")
    val p = model.params
    import spark.implicits._
    Seq((p.m, p.lambda, p.tables, p.divisions, p.seed, p.maxProbes,
      p.refinementLimit, p.maxGlobalCandidates, blockSize, version))
      .toDF("m", "lambda", "tables", "divisions", "seed", "maxProbes",
        "refinementLimit", "maxGlobalCandidates", "blockSize", "version")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/meta.parquet")
  }
}

object GraftSystem {
  /**
   * SETUP + INDEX + FINALIZE over a plaintext (vec_id, embedding)
   * corpus: fit the LSH family from a bounded sample, code and
   * greedy-build the index, encrypt the corpus into the versioned
   * store under key version `version`.
   */
  def setup(spark: SparkSession, data: DataFrame,
      params: LshParams = LshParams(), blockSize: Int = 64,
      version: Int = 1): GraftSystem = {
    val d = data.select(col("vec_id"), col("embedding"))
    val model = Lsh.fit(d, "embedding", params)
    finalized(spark, model, blockSize, d,
      VersionedCrypto.encrypt(d, "vec_id", "embedding", version), version)
  }

  /** INDEX + FINALIZE over a plaintext serving view: the corpus coded
    * (spread, so coding never serializes on a few-split source) into
    * the main index, materialized over the view. The codes are cached
    * only while the build counts and numbers them (coding is the
    * build's costliest step); the numbered table holds them after. */
  private def finalized(spark: SparkSession, model: LshModel, blockSize: Int,
      vecs: DataFrame, store: DataFrame, version: Int): GraftSystem = {
    val codes = LshIndex.codes(LshIndex.spread(vecs), "vec_id", "embedding", model).cache()
    val main = LshIndex.build(codes, blockSize).materialize(vecs)
    codes.unpersist()
    new GraftSystem(spark, model, blockSize, main, vecs, store, version)
  }

  /** Serving state rebuilt from an encrypted store: every present key
    * version decrypted under its own key, then the same finalize as
    * [[setup]]. */
  private def fromStore(spark: SparkSession, model: LshModel, blockSize: Int,
      store: DataFrame, version: Int): GraftSystem = {
    val versions = store.select(col("kv")).distinct()
      .collect().map(_.getInt(0)).sorted
    val vecs = versions.map { v =>
      VersionedCrypto.decrypt(store.filter(col("kv") === v), v)
        .select(col("id").as("vec_id"), col("vec").as("embedding"))
    }.reduce(_ unionByName _)
    finalized(spark, model, blockSize, vecs, store, version)
  }

  /**
   * Reconstruct a serving system in a fresh process from an
   * [[GraftSystem.export]] directory alone: meta row -> LshParams +
   * blockSize + key version, model rows -> the fitted [[LshModel]]
   * (tables x divisions x m constants, driver-side by construction),
   * store -> serving view + index via the [[restore]] path.
   */
  def load(spark: SparkSession, outDir: String): GraftSystem = {
    val meta = spark.read.parquet(s"$outDir/meta.parquet").head()
    val params = LshParams(
      m = meta.getAs[Int]("m"),
      lambda = meta.getAs[Int]("lambda"),
      tables = meta.getAs[Int]("tables"),
      divisions = meta.getAs[Int]("divisions"),
      seed = meta.getAs[Long]("seed"),
      blockSize = meta.getAs[Int]("blockSize"),
      maxProbes = meta.getAs[Int]("maxProbes"),
      refinementLimit = meta.getAs[Int]("refinementLimit"),
      maxGlobalCandidates = meta.getAs[Int]("maxGlobalCandidates"))
    val rows = spark.read.parquet(s"$outDir/model.parquet")
      .select(col("t"), col("d"), col("j"), col("alpha"), col("r"), col("omega"))
      .collect()
    val byTd = rows.groupBy(r => (r.getInt(0), r.getInt(1)))
    val gfs = Array.tabulate(params.tables, params.divisions) { (t, d) =>
      val g = byTd((t, d)).sortBy(_.getInt(2))
      graft.lsh.GFunction(
        g.map(_.getSeq[Double](3).toArray),
        g.map(_.getDouble(4)),
        g.map(_.getDouble(5)),
        params.lambda)
    }
    fromStore(spark, graft.lsh.LshModel(params, gfs),
      meta.getAs[Int]("blockSize"),
      spark.read.parquet(s"$outDir/store.parquet"),
      meta.getAs[Int]("version"))
  }
}
