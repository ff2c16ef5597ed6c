package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * `ann_mrl_topk`: progressive prefix-dimension search — the
 * CODEBOOK-FREE compression tier (the Matryoshka representation
 * learning serving trick, Kusupati et al. 2022: when the encoder
 * front-loads information into the leading dimensions, the first
 * dim/[[PrefixShare]] coordinates are a usable coarse representation).
 * The shortlist metric is exact L2 over the PREFIX (a 4x byte cut
 * with no model at all — no codebook, no thresholds, no training
 * pass), refined exactly over the full vectors.
 *
 * Tier position: between SQ8 (4x, per-dim model) and PQ (~32x,
 * codebook) in bytes-scanned, but with ZERO fit/fixture surface —
 * the one tier that survives an encoder swap with no maintenance
 * round, which is exactly when [[graft.operators.Embeddings.embedDriftQuery]]
 * fires and every fitted tier's models are stale.
 *
 * Honest recall note: the prefix's recall tracks how much information
 * the encoder front-loads. On this repo's synthetic near-iid
 * embeddings (nothing front-loaded — the worst case) the 4x prefix
 * measures ~0.52 recall@10 vs ~0.9+ for the fitted 4x SQ8 tier; a
 * real MRL-trained encoder, or composing
 * [[graft.operators.Embeddings.embedProject]]'s variance-ordered PCA
 * rotation in front, is what buys the published MRL curves. The tier
 * report prices that trade next to the fitted tiers.
 *
 * This entry is the exhaustive isolation twin (the
 * [[SqSearch.annSqTopK]] convention: quantization-quality path
 * isolated from routing); compose IVF cells in front for the
 * corpus-scale serving form, exactly as the SQ8/PQ/BQ tiers do.
 * Scale posture: the prefix table is dim/4 floats per row — a
 * map-only slice, no shuffle; the scan reads 4x fewer candidate
 * bytes; refine is bounded at AdcKeep embedding fetches per query.
 */
object MrlSearch {

  def K: Int = PqSearch.K
  def NumQueries: Int = PqSearch.NumQueries
  def AdcKeep: Int = PqSearch.AdcKeep

  /** Prefix denominator: serve on the first dim/4 coordinates (the
    * 4x rung, byte-comparable to SQ8's code table). */
  val PrefixShare = 4

  def annMrlTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val dim = data.select(size(col("embedding"))).head().getInt(0)
    mrlTopKOn(data, data.filter(col("vec_id") < NumQueries),
      dim / PrefixShare, AdcKeep)
  }

  /** Frame-level core of [[annMrlTopK]] (corpus/query frames, prefix
    * length, and shortlist budget injectable — the spec's handle for
    * the keep ≥ N ⇒ exact-equality degenerate case). */
  def mrlTopKOn(data: DataFrame, queries: DataFrame, pd: Int, keep: Int): DataFrame =
    TwoStage.topK(queries,
      codec(data.select(col("vec_id"), slice(col("embedding"), 1, pd).cast("array<double>").as("pvec")),
        _.withColumn("qp", slice(col("qraw"), 1, pd).cast("array<double>"))),
      TwoStage.AllRows, data.select(col("vec_id"), col("embedding")), keep, K, None)

  /** The exhaustive prefix-shortlist chain over ANY (vec_id, pvec)
    * representation and (query_id, qp, qraw) batch — the spec's rotated
    * exhaustive twin (which measures the rotation front's recall
    * contribution apart from the cell routing). */
  private[graft] def prefixTopKOn(pvecs: DataFrame, prep: DataFrame,
      fetch: DataFrame, keep: Int): DataFrame =
    TwoStage.topK(prep.select(col("query_id").as("vec_id"), col("qraw").as("embedding")),
      codec(pvecs, _.join(prep.select("query_id", "qp"), Seq("query_id"))),
      TwoStage.AllRows, fetch, keep, K, None)

  /** The MRL [[TwoStage.Codec]]: floored squared distance between the
    * query prefix `qp` that `prep` adds and each candidate's `pvec`. */
  private def codec(pvecs: DataFrame, prep: DataFrame => DataFrame): TwoStage.Codec =
    TwoStage.Codec(pvecs, prep, TwoStage.flooredSq(col("qp"), col("pvec")))

  /** `prep` for the rotated prefix: the queries' own rotation, by id. */
  private def rotatedQp(queries: DataFrame,
      comps: Array[(Array[Double], Double)]): DataFrame => DataFrame =
    _.join(rotatedPrefix(queries, comps)
      .select(col("vec_id").as("query_id"), col("pvec").as("qp")), Seq("query_id"))

  def NumProbes: Int = PqSearch.NumProbes

  /**
   * The rotated prefix representation: the corpus projected onto the
   * TOP dim/[[PrefixShare]] principal axes
   * ([[graft.operators.Embeddings.fittedMrlRotation]] — unwhitened,
   * plain descending-eigenvalue order). Because the matrix literal
   * holds ONLY the kept components, the rotation costs dim²/4 MACs
   * per row — the prefix is COMPUTED directly, never a full-dim
   * rotation sliced after the fact. Canonical representation is the
   * 4dp-rounded FLOAT (the [[PqSearch.annPcapqTopK]] parity
   * discipline), widened back to double for the distance kernel.
   */
  private[graft] def rotatedPrefix(data: DataFrame,
      comps: Array[(Array[Double], Double)]): DataFrame =
    graft.operators.Embeddings.pcaTransform(data, "embedding", comps)
      .select(col("vec_id"),
        transform(col("proj"), p => p.getField("v"))
          .cast("array<float>").cast("array<double>").as("pvec"))

  /**
   * `ann_ivfmrl_topk`: the CORPUS-SCALE serving form of the Matryoshka
   * tier — IVF cells bound the scan, the PCA-ROTATED prefix bounds the
   * bandwidth inside probed cells (dim/4 floats = dim bytes per
   * candidate row, byte-identical to SQ8's code table), exact refine
   * bounds the embedding fetch. Same plan skeleton as
   * [[SqSearch.annIvfsqTopK]] with the rotated-prefix distance as the
   * per-candidate expression.
   *
   * The rotation front is what makes the prefix servable: raw
   * coordinates carry ~1/4 of the variance in the prefix (the honest
   * ~0.52 recall@10 of [[annMrlTopK]] on near-iid synthetics), while
   * the top-quarter principal axes carry the MAXIMUM variance any
   * rank-dim/4 projection can (~0.38 on this corpus's near-flat
   * spectrum — still a measured exhaustive-recall lift of ~0.52 →
   * ~0.71, and the celled form clears the celled-family 0.6 bar;
   * MrlSpec pins both). Unlike SQ8/PQ/BQ the fit is a SAMPLE-bounded
   * covariance (no per-dim corpus pass), and the tier keeps the MRL
   * virtue that motivates it: re-rotating after an encoder swap is a
   * driver-side refit + one map-only projection, no codebook retrain.
   *
   * Scale posture: identical to the SQ8 celled plan — cells-bucketed
   * candidate scan, prefix rides the candidate rows at dim bytes,
   * probe join prunes to nProbe cells per query, both rank windows
   * bounded; no corpus broadcast (plan-asserted in MrlSpec).
   */
  def annIvfmrlTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val comps = graft.operators.Embeddings.fittedMrlRotation(spark, sfDir,
      cents.head.length / PrefixShare)
    val idx = buildIndexOn(spark, data, cents, comps)
    ivfmrlTopKForQueries(spark, data.filter(col("vec_id") < NumQueries),
      idx.cells, idx.pvecs, idx.fetch, cents, comps)
  }

  /** Resident rotated-prefix MRL index: cell routing + the rotated
    * prefix table (dim/4 floats per row — the tier's 4x candidate
    * representation), the full-precision fetch table, and the frozen
    * models (centroids + rotation components) — the MRL twin of
    * [[SqSearch.SqIndex]], giving the tier the maintenance state a
    * [[graft.streaming.MrlLifecycle]] carries. */
  final case class MrlIndex(cells: DataFrame, pvecs: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], comps: Array[(Array[Double], Double)])

  /** Frozen-model encode of a (vec_id, embedding) row set into a
    * servable [[MrlIndex]] — a deterministic map of the row set (the
    * lifecycle contract: staged-delta encode, and compaction equals a
    * fresh encode of the survivors, bit-for-bit). Per-row work is the
    * dim²/4-MAC rotated projection plus the cell assignment; NO model
    * fit happens here — and unlike every fitted tier, refreshing the
    * models after an encoder swap is a PcaSampleN-bounded rotation
    * refit, not a corpus-wide parameter pass. */
  def buildIndexOn(spark: SparkSession, data: DataFrame,
      cents: Array[Array[Float]], comps: Array[(Array[Double], Double)]): MrlIndex = {
    val d = data.select(col("vec_id"), col("embedding"))
    MrlIndex(
      IvfSearch.assignCells(d, cents),
      rotatedPrefix(d, comps), d, cents, comps)
  }

  /** The IVF+rotated-prefix serving chain for a (vec_id, embedding)
    * query batch against resident cell/prefix tables — the frame-level
    * core of [[annIvfmrlTopK]], with the family's tombstone contract
    * ([[SqSearch.ivfsqTopKForQueries]]): `deletedIds` (column `id`)
    * anti-joins the candidate table BEFORE the prefix-distance work
    * and the AdcKeep cap, so tombstone serving equals serving an index
    * physically rebuilt without the deleted rows (frozen models make
    * this exact). `k` bounds the final refine window (threaded so
    * QuantTier.serve honors its caller's k on this tier too). */
  def ivfmrlTopKForQueries(spark: SparkSession, queries: DataFrame,
      cells: DataFrame, pvecs: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], comps: Array[(Array[Double], Double)],
      deletedIds: Option[DataFrame] = None, k: Int = K): DataFrame =
    TwoStage.topK(queries, codec(pvecs, rotatedQp(queries, comps)),
      TwoStage.Cells(cells, cents), fetch, AdcKeep, k, deletedIds)

  /**
   * `ann_ivfmrl_filtered_topk`: metadata-filtered search on the
   * rotated-prefix MRL tier — nearest neighbors AMONG rows sharing the
   * query's `label`, completing the predicate parity with the other
   * celled tiers ([[SqSearch.annIvfsqFilteredTopK]]'s discipline
   * verbatim): the label rides the CELL ASSIGNMENT itself
   * ([[IvfSearch.assignCells]] carrying `label`, map-side), so
   * the predicate lands on the candidate table below the
   * prefix-distance work and both rank windows — no rotated-distance
   * MAC is spent on a row the filter discards and the AdcKeep
   * shortlist budget is all matching rows; the probe budget widens
   * ×[[IvfSearch.FilterOverProbe]] against selectivity. At 100 TB the
   * plan shape is unchanged from [[annIvfmrlTopK]] — cells-bucketed
   * scan, dim-byte prefix rows, bounded refine — with one extra
   * byte-sized column on the assignment table.
   */
  def annIvfmrlFilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val comps = graft.operators.Embeddings.fittedMrlRotation(spark, sfDir,
      cents.head.length / PrefixShare)
    val queries = data.filter(col("vec_id") < NumQueries)
    TwoStage.topK(queries, codec(rotatedPrefix(data, comps), rotatedQp(queries, comps)),
      TwoStage.LabeledCells(IvfSearch.assignCells(data, cents, Seq("label")), cents),
      data.select(col("vec_id"), col("embedding")), AdcKeep, K, None)
  }

  /** DuckDB twin of the celled rotated-prefix chain: rotate via the
    * MRL fixture (ROUND 4 → FLOAT → DOUBLE, the Spark canonicalization
    * — the fixture holds exactly the kept pd components, so the `rot`
    * aggregate IS the prefix), assign + probe over the shared centroid
    * fixture, floored squared prefix distance, AdcKeep shortlist,
    * bounded exact refine in the original space. */
  def annIvfmrlTopKSql: String =
    s"""WITH pm AS (SELECT r, w, b FROM read_parquet('${graft.operators.Embeddings.MrlRotExportPath}/*.parquet')),
       |c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |rot AS (
       |  SELECT e.vec_id,
       |    CAST(CAST(list(ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), pm.w) + pm.b, 4)
       |         ORDER BY pm.r) AS FLOAT[]) AS DOUBLE[]) AS pvec
       |  FROM embeddings e CROSS JOIN pm GROUP BY e.vec_id),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS r
       |    FROM embeddings e CROSS JOIN c)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS crnk
       |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < $NumQueries)
       |  WHERE crnk <= $NumProbes),
       |pdist AS (
       |  SELECT pr.query_id, a.vec_id,
       |    FLOOR(list_distance(q.pvec, cv.pvec)
       |          * list_distance(q.pvec, cv.pvec) * 10000) / 10000 AS pdist
       |  FROM probes pr
       |  JOIN assign a ON a.cell = pr.cell
       |  JOIN rot cv ON cv.vec_id = a.vec_id
       |  JOIN rot q ON q.vec_id = pr.query_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pdist, vec_id) AS p_rank
       |    FROM pdist)
       |  WHERE p_rank <= $AdcKeep)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
       |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings q ON q.vec_id = s.query_id)
       |WHERE rnk <= $K""".stripMargin

  /** The [[annIvfmrlTopKSql]] chain with the label threaded through:
    * assignment carries the row label, probes carry the query label
    * (budget ×FilterOverProbe), and the candidate join applies the
    * predicate before the prefix distance — the same stage order as
    * the Spark plan. */
  def annIvfmrlFilteredTopKSql: String = {
    val nProbe = NumProbes * IvfSearch.FilterOverProbe
    s"""WITH pm AS (SELECT r, w, b FROM read_parquet('${graft.operators.Embeddings.MrlRotExportPath}/*.parquet')),
       |c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |rot AS (
       |  SELECT e.vec_id,
       |    CAST(CAST(list(ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), pm.w) + pm.b, 4)
       |         ORDER BY pm.r) AS FLOAT[]) AS DOUBLE[]) AS pvec
       |  FROM embeddings e CROSS JOIN pm GROUP BY e.vec_id),
       |assign AS (
       |  SELECT vec_id, label, cell FROM (
       |    SELECT e.vec_id, e.label, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS r
       |    FROM embeddings e CROSS JOIN c)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, q.label AS qlabel, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS crnk
       |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < $NumQueries)
       |  WHERE crnk <= $nProbe),
       |pdist AS (
       |  SELECT pr.query_id, a.vec_id,
       |    FLOOR(list_distance(q.pvec, cv.pvec)
       |          * list_distance(q.pvec, cv.pvec) * 10000) / 10000 AS pdist
       |  FROM probes pr
       |  JOIN assign a ON a.cell = pr.cell AND a.label = pr.qlabel
       |  JOIN rot cv ON cv.vec_id = a.vec_id
       |  JOIN rot q ON q.vec_id = pr.query_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pdist, vec_id) AS p_rank
       |    FROM pdist)
       |  WHERE p_rank <= $AdcKeep)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
       |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings q ON q.vec_id = s.query_id)
       |WHERE rnk <= $K""".stripMargin
  }

  /** Oracle: the identical progressive chain — prefix length derived
    * from the data in-query (`len(embedding) // PrefixShare`, exactly
    * the Spark side's dim/4), floored squared prefix distance,
    * AdcKeep shortlist, exact refine. */
  def annMrlTopKSql: String =
    s"""WITH meta AS (SELECT len(embedding) // $PrefixShare AS pd FROM embeddings LIMIT 1),
       |pdist AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    FLOOR(list_distance(list_slice(CAST(q.embedding AS DOUBLE[]), 1, m.pd),
       |                        list_slice(CAST(c.embedding AS DOUBLE[]), 1, m.pd))
       |        * list_distance(list_slice(CAST(q.embedding AS DOUBLE[]), 1, m.pd),
       |                        list_slice(CAST(c.embedding AS DOUBLE[]), 1, m.pd)) * 10000) / 10000 AS pdist
       |  FROM embeddings c CROSS JOIN embeddings q CROSS JOIN meta m
       |  WHERE q.vec_id < $NumQueries),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pdist, vec_id) AS p_rank
       |    FROM pdist)
       |  WHERE p_rank <= $AdcKeep)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
       |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings q ON q.vec_id = s.query_id)
       |WHERE rnk <= $K""".stripMargin
}
