package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.LshModel
import graft.query.AnnQuery

/**
 * Auto-compacting streaming insert lifecycle (the reference's
 * insert -> finalize cadence, `PartitionedIndexService.insert` +
 * `finalizeForSearch`, made continuous): each micro-batch of coded
 * vectors lands as its own staged parquet batch, serving probes
 * main + staged delta, and when the staged set reaches
 * `compactEveryVectors` the lifecycle folds it into the main index —
 * `IndexMaintenance.compact` is a deterministic function of the row
 * set, so the post-compact index is byte-identical to a from-scratch
 * build (asserted across the boundary in IndexMaintenanceSpec).
 *
 * Replay safety: a batch writes to `stagedRoot/batch=<batchId>` with
 * overwrite — a foreachBatch redelivery rewrites the same files
 * (the [[StreamingIntake]] idempotent-sink discipline). Compaction
 * never deletes: it advances `compactedThrough`, so the staged set is
 * always "batch dirs above the high-water mark" and a replayed
 * already-compacted batch is simply ignored by the staged listing.
 *
 * Scale posture: ingest cost per batch is one small parquet write plus
 * one count over the staged dirs; a delta is built at the first serve
 * after an ingest, by collecting the staged codes (bounded by
 * `compactEveryVectors`) and numbering them on the driver, and kept
 * until the next ingest or compaction, so its vectors are read from a
 * serving view by id once; compaction is the standard one-shuffle
 * range-repartition build over the main index's resident code columns
 * plus the staged codes, made resident before it replaces (and
 * releases) the previous main index, and a query over a view fills
 * that index's by-vector table once.
 */
final class InsertLifecycle(
    spark: SparkSession,
    model: LshModel,
    initialMainCodes: DataFrame,
    stagedRoot: String,
    compactEveryVectors: Long) {

  private val p = model.params

  @volatile private var mainBuilt: LshIndex.Built =
    LshIndex.build(initialMainCodes, p.blockSize).materialize()
  // the delta over the current staged set, built at first serve
  @volatile private var delta: Option[LshIndex.Built] = None
  @volatile private var compactedThrough: Long = -1L
  @volatile private var maxSeen: Long = -1L
  @volatile private var nCompactions: Int = 0

  /** Compactions performed so far (observable for specs/monitoring). */
  def compactions: Int = nCompactions

  /** The current main index. */
  def main: LshIndex.Built = mainBuilt

  private def stagedDirs: Seq[String] =
    ((compactedThrough + 1) to maxSeen)
      .map(i => s"$stagedRoot/batch=$i")
      .filter(d => new java.io.File(d).exists())

  /** The uncompacted staged code set, if any. */
  def stagedCodes: Option[DataFrame] = {
    val dirs = stagedDirs
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*).select("id", "t", "d", "key", "code"))
  }

  /** Staged vector count (each vector carries tables*divisions code rows). */
  def stagedVectors: Long =
    stagedCodes.map(_.count() / (p.tables.toLong * p.divisions)).getOrElse(0L)

  /** foreachBatch entry: land the batch idempotently, then compact if
    * the staged set reached the threshold. */
  def ingest(batchCodes: DataFrame, batchId: Long): Unit = synchronized {
    batchCodes.write.mode("overwrite").parquet(s"$stagedRoot/batch=$batchId")
    dropDelta()
    maxSeen = math.max(maxSeen, batchId)
    if (stagedVectors >= compactEveryVectors) compactNow()
  }

  /** Fold the staged set into the main index (also callable directly —
    * the reference's explicit finalize). */
  def compactNow(): Unit = synchronized {
    stagedCodes.foreach { staged =>
      // materialized before the swap: serving never sees a cold index
      val built = IndexMaintenance.compact(mainBuilt.indexedCodes, staged, p.blockSize)
        .materialize()
      val old = mainBuilt
      mainBuilt = built
      compactedThrough = maxSeen
      nCompactions += 1
      old.release()
      dropDelta()
    }
  }

  private def dropDelta(): Unit = {
    delta.foreach(_.release())
    delta = None
  }

  /** Serve a query batch from the current state: main-only after a
    * compaction, main + staged delta between them. `data` must cover
    * every indexed id (it is only touched by the exact refine). */
  def serve(data: DataFrame, queries: DataFrame, k: Int): DataFrame = synchronized {
    if (delta.isEmpty) delta = stagedCodes.map(IndexMaintenance.buildDelta(_, p.blockSize))
    delta match {
      case None => AnnQuery.lshTopK(spark, data, queries, k, model, mainBuilt)
      case Some(d) =>
        IndexMaintenance.lshTopKWithDelta(spark, data, data.limit(0), queries, k,
          model, mainBuilt, d)
    }
  }

  /** Attach to a coded-vector stream ([[StreamingIngest.codedVectorStream]]). */
  def sink(codedStream: DataFrame, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    codedStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => ingest(batch, batchId) }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
