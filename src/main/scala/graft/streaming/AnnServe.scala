package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.LshIndex
import graft.lsh.LshModel
import graft.query.AnnQuery

/**
 * Streaming ANN query serving — the Spark-native answer to the
 * reference's online query server (`QueryServiceImpl.search` loop,
 * one request at a time): query vectors arrive on any streaming
 * source; every micro-batch runs the SAME batch top-k plan
 * (code the batch -> probe -> one pass over the resident by-vector
 * table -> per-query cut) via `foreachBatch` against the resident
 * index, appending results to the sink.
 *
 * Posture (SURVEY §6a): the model and built index stay
 * memoized/cached across triggers, so a trigger pays only its own
 * queries' probe/refine work; arrivals inside a trigger amortize
 * scheduling exactly like a hand-built query batch. Per-query wall
 * latency = trigger interval + plan time — milliseconds of compute at
 * reference scale, with throughput a single-node server loop cannot
 * match. The serving plan is identical to the oracle-checked batch
 * plan, so correctness rides on the same specs.
 *
 * The token path composes the same way: stream token codes instead of
 * vectors and swap `lshTopK` for `QueryTokens.tokenTopK` — both are
 * per-micro-batch plans with no streaming state.
 */
object AnnServe {

  /** Parquet-file stream of (vec_id, embedding) queries. */
  def queryStream(spark: SparkSession, inputDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 4)
      .parquet(inputDir)

  /**
   * The shared serving sink: run `plan` on each non-empty micro-batch
   * and land the results in a batch_id partition with dynamic
   * overwrite. Idempotent by construction — a micro-batch REPLAY
   * (failure between the parquet commit and the checkpoint) rewrites
   * its own partition instead of appending duplicates.
   */
  private def servedSink(source: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger, afterBatch: Long => Unit = _ => ())(
      plan: DataFrame => DataFrame): StreamingQuery =
    source.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          plan(batch)
            .withColumn("batch_id", lit(batchId))
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outPath)
        }
        // synchronous post-commit hook: the maintenance swap point
        // ([[serveIvf]]) — runs AFTER the batch's results are durable,
        // BEFORE the next batch plans
        afterBatch(batchId)
      }
      .start()

  /**
   * Serve a stream of ENCRYPTED query tokens: micro-batches of token
   * codes (qid, t, d, key, code) run the codes-only server plan against
   * the encrypted store, and the exact-L2 finish decrypts with the
   * static token metadata — the privacy posture of
   * [[graft.crypto.QueryTokens.tokenTopK]] on a stream. No plaintext
   * query ever appears in the streaming source or the serving plan.
   *
   * A token is one message: all of a query's code rows must arrive in
   * the same micro-batch (one file/record per token), else the probe
   * union would split across triggers.
   */
  def serveTokens(
      tokenCodes: DataFrame,
      tokenMeta: DataFrame,
      encStore: DataFrame,
      k: Int,
      model: LshModel,
      built: LshIndex.Built,
      version: Int,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    servedSink(tokenCodes, outPath, checkpoint, trigger) { batch =>
      graft.crypto.QueryTokens.tokenTopK(
        batch.sparkSession, encStore, batch, tokenMeta, k, model, built, version)
    }

  /**
   * Serve a query stream against a built index: each micro-batch's
   * results (query_id, vec_id, dist, rnk, batch_id) land in the sink.
   */
  def serve(
      queries: DataFrame,
      data: DataFrame,
      k: Int,
      model: LshModel,
      built: LshIndex.Built,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger) { batch =>
      AnnQuery.lshTopK(batch.sparkSession, data, batch, k, model, built)
    }

  /**
   * Mutable tombstone handle for LIVE deletion propagation to the
   * quantized serving engines — the deletion twin of [[IvfLayoutRef]]:
   * the serving closure reads the current deleted-id set at each
   * micro-batch, so a maintenance job (a GDPR purge, a
   * [[graft.operators.CorpusDiff]] `removed` feed, a
   * [[PqLifecycle.delete]]) publishes between micro-batches with zero
   * downtime. `deleted` carries a bounded id table (column `id`) —
   * the serving plans broadcast-anti-join it BEFORE their shortlist
   * caps, so a published tombstone is never served from the next
   * batch on, and never eats shortlist budget.
   */
  final class TombstoneRef(@volatile var deleted: Option[DataFrame] = None)

  /**
   * Serve a query stream through the IVF-PQ engine: each micro-batch's
   * (vec_id, embedding) queries run [[graft.query.PqSearch.topKForQueries]]
   * against a resident [[graft.query.PqSearch.PqIndex]] — cached cell
   * routing + 8-byte codes, exact refine only on the ADC shortlist.
   * The third serving engine next to LSH ([[serve]]) and the per-dim
   * registry ([[serveMultidim]]), with the same idempotent sink.
   */
  def servePq(
      queries: DataFrame,
      idx: graft.query.PqSearch.PqIndex,
      k: Int,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstones: TombstoneRef = new TombstoneRef(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger, afterBatch) { batch =>
      graft.query.PqSearch.topKForQueries(batch.sparkSession,
        batch.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        idx.cells, idx.codes, idx.fetch, idx.cents, idx.cb, k,
        tombstones.deleted)
    }

  /**
   * Serve a query stream through the IVF-SQ8 engine: each
   * micro-batch's (vec_id, embedding) queries run
   * [[graft.query.SqSearch.ivfsqTopKForQueries]] against a resident
   * [[graft.query.SqSearch.SqIndex]] (cell routing + dequantized
   * 4x codes), completing the streaming serving symmetry across the
   * quantized tiers (PQ [[servePq]], BQ [[serveBq]], SQ8 here) — each
   * with the live-tombstone contract via [[TombstoneRef]].
   */
  def serveSq(
      queries: DataFrame,
      idx: graft.query.SqSearch.SqIndex,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstones: TombstoneRef = new TombstoneRef(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger, afterBatch) { batch =>
      graft.query.SqSearch.ivfsqTopKForQueries(batch.sparkSession,
        batch.select(col("vec_id"), col("embedding")),
        idx.cells, idx.dvecs, idx.fetch, idx.cents, tombstones.deleted)
    }

  /**
   * Mutable IVF layout handle for ZERO-DOWNTIME maintenance swaps:
   * the serving closure reads the current centroids at each
   * micro-batch, so a maintenance job (an [[graft.query.IvfSearch
   * .rebalancePlan]] split, a re-train) publishes a new layout
   * between micro-batches — queries in flight finish under the
   * layout they planned with, the next batch probes the new one.
   * The serving twin of the batch `ivf_rebalance` entry: the report
   * says WHAT the new layout is, this is HOW it ships without
   * stopping the query stream.
   */
  final class IvfLayoutRef(@volatile var cents: Array[Array[Float]])

  /**
   * Serve a query stream through the IVF engine against a SWAPPABLE
   * cell layout: each micro-batch's (vec_id, embedding) queries run
   * [[graft.query.IvfSearch.ivfTopK]] under `layout.cents` as of
   * that batch. `afterBatch` fires synchronously after each batch's
   * results are durable and before the next batch plans — the
   * deterministic maintenance swap point (specs swap to a rebalanced
   * layout there and assert per-batch equality with the matching
   * batch plan).
   */
  def serveIvf(
      queries: DataFrame,
      data: DataFrame,
      layout: IvfLayoutRef,
      k: Int,
      nProbe: Int,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger, afterBatch) { batch =>
      graft.query.IvfSearch.ivfTopK(batch.sparkSession, data,
        batch.select(col("vec_id"), col("embedding")), k, nProbe, layout.cents)
    }

  /**
   * Serve a query stream through the BQ engine: each micro-batch's
   * (vec_id, embedding) queries encode against the resident
   * thresholds and run [[graft.query.BqSearch.topKForQueries]] —
   * xor+popcount over the CACHED packed words (32x smaller than the
   * floats), exact refine on the Hamming shortlist. The cheapest
   * resident representation of the serving-engine family: no
   * codebook, integer candidate math, and threshold encoding of an
   * arriving query is one map expression.
   */
  def serveBq(
      queries: DataFrame,
      idx: graft.query.BqSearch.BqIndex,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstones: TombstoneRef = new TombstoneRef(),
      afterBatch: Long => Unit = _ => ()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger, afterBatch) { batch =>
      graft.query.BqSearch.topKForQueries(
        batch.select(col("vec_id"), col("embedding")), idx,
        tombstones.deleted)
    }

  /**
   * DIVERSIFIED serving: the resident LSH index bounds each
   * micro-batch's candidates, [[graft.query.MmrRerank.rerank]]
   * re-ranks them for relevance/novelty — near-duplicate neighbors
   * stop crowding a served top-k. Stateless across triggers like
   * [[serve]]; each query's greedy sees only its own candidate rows,
   * so micro-batch boundaries cannot change results.
   */
  def serveDiverse(
      queries: DataFrame,
      data: DataFrame,
      model: LshModel,
      built: LshIndex.Built,
      candidates: Int,
      k: Int,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger) { batch =>
      graft.query.MmrRerank.diverseTopKLsh(
        batch.sparkSession, data, batch, model, built, candidates, k)
    }

  /**
   * Serve a MIXED-DIMENSION query stream: each micro-batch routes its
   * queries through the per-dimension registry
   * ([[graft.query.DimRegistry.topK]]) — the streaming form of the
   * reference's per-dim `tokenFactories.get(dim)` lookup on its query
   * loop. The registry (fitted models + cached per-dim indexes) stays
   * resident across triggers; a batch containing an unregistered
   * dimension fails that trigger loudly rather than dropping queries.
   */
  def serveMultidim(
      queries: DataFrame,
      data: DataFrame,
      k: Int,
      registry: Map[Int, graft.query.DimRegistry.Entry],
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger) { batch =>
      graft.query.DimRegistry.topK(batch.sparkSession, data, batch, k, registry)
    }

  /**
   * Mutable MRL index handle for ZERO-DOWNTIME encoder swaps — the
   * [[IvfLayoutRef]] discipline applied to the tier whose whole pitch
   * is surviving an encoder change: the serving closure reads the
   * current [[graft.query.MrlSearch.MrlIndex]] at each micro-batch, so
   * when [[graft.operators.Embeddings.embedDriftQuery]]'s alarm fires
   * and the corpus is re-embedded, a maintenance job refits the
   * rotation on a PcaSampleN-bounded sample, re-projects the prefixes
   * in ONE map-only pass ([[graft.query.MrlSearch.buildIndexOn]] /
   * [[MrlLifecycle.reRotate]]), and publishes the new index between
   * micro-batches — queries in flight finish under the index they
   * planned with, the next batch serves the refit one. No codebook
   * retrain, no per-dim corpus pass, no serving downtime.
   */
  final class MrlIndexRef(@volatile var idx: graft.query.MrlSearch.MrlIndex)

  /**
   * Serve a query stream through the rotated-prefix MRL engine: each
   * micro-batch's (vec_id, embedding) queries run
   * [[graft.query.MrlSearch.ivfmrlTopKForQueries]] against the index
   * currently published in `ref` — completing the streaming serving
   * symmetry across all FOUR compressed tiers (PQ [[servePq]], BQ
   * [[serveBq]], SQ8 [[serveSq]], MRL here), each with the
   * live-tombstone contract via [[TombstoneRef]]. `afterBatch` is the
   * deterministic swap point for an encoder-change rollout (specs
   * publish a refit index there and assert per-batch equality with
   * the matching batch plan).
   */
  def serveMrl(
      queries: DataFrame,
      ref: MrlIndexRef,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      tombstones: TombstoneRef = new TombstoneRef(),
      afterBatch: Long => Unit = _ => (),
      k: Int = graft.query.MrlSearch.K): StreamingQuery =
    servedSink(queries, outPath, checkpoint, trigger, afterBatch) { batch =>
      val i = ref.idx
      graft.query.MrlSearch.ivfmrlTopKForQueries(batch.sparkSession,
        batch.select(col("vec_id"), col("embedding")),
        i.cells, i.pvecs, i.fetch, i.cents, i.comps, tombstones.deleted, k)
    }
}
