package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Scalar (SQ8) quantization search — the third point in the library's
 * compression-vs-recall spectrum (reference partitionedIndex + Peng et
 * al. store full vectors; graft adds PQ at ~32x and SQ8 at exactly 4x):
 * each DIMENSION is affine-quantized to one byte against per-dim
 * corpus (min, max), and search runs asymmetrically — float queries
 * against dequantized codes — with a bounded exact refine (FAISS
 * IndexScalarQuantizer QT_8bit + SQDistanceComputer shape).
 *
 * Where PQ loses geometry to codeword clustering, SQ8 keeps every
 * dimension independently (reconstruction error <= delta/2 per dim),
 * so its ADC ranking is much closer to exact — the right first rung
 * when 4x compression already fits the serving tier.
 *
 * Spark posture: the fit is ONE partial-agg shuffle producing a
 * dim-sized (min, max) table (collected driver-side, exported as the
 * oracle fixture — the PQ codebook discipline); encode and dequantized
 * distance are map-only array expressions with the params riding the
 * plan as literals; the only other shuffles are the two bounded rank
 * windows (ADC cap, final top-k). At 100 TB the codes table is the
 * resident serving representation (4x smaller scan), and the IVF cells
 * of [[IvfSearch]] compose in front exactly as they do for PQ.
 *
 * Engine parity: encode `floor((x - vmin)/delta + 0.5)` runs the same
 * IEEE ops both sides from the same fixture doubles; ADC distance
 * reuses the sqrt'd sequential-fold kernel squared by multiplication
 * ([[PqSearch.adcLuts]] discipline) so DuckDB's `list_distance`
 * replays it exactly; shortlist cuts happen on FLOORed 4dp values.
 */
object SqSearch {

  val ParamsExportPath = graft.FixturePaths.fixture("sq_params.parquet")

  def K: Int = PqSearch.K
  def NumQueries: Int = PqSearch.NumQueries
  def AdcKeep: Int = PqSearch.AdcKeep

  /** Per-dim (vmin, delta): one explode + dim-keyed partial agg (the
    * output is dim rows — bounded), collected driver-side. `delta` is
    * (max-min)/255; a constant dimension gets delta 0 and always
    * encodes/reconstructs to code 0 / vmin. */
  def fitParams(data: DataFrame): (Array[Double], Array[Double]) = {
    val rows = data
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("d", "v")))
      .groupBy("d").agg(min("v").as("vmin"), max("v").as("vmax"))
      .orderBy("d")
      .collect()
    val vmin = rows.map(_.getDouble(1))
    val delta = rows.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0)
    (vmin, delta)
  }

  private val params = new graft.util.SessionMemo[String, (Array[Double], Array[Double])]

  def fittedParams(spark: SparkSession, sfDir: String): (Array[Double], Array[Double]) = {
    val p = params(spark, sfDir)(fitParams(Tables.embeddings(spark, sfDir)))
    // fixture checked outside the memo: a memo hit after another
    // corpus overwrote the shared path must restore this corpus's fit
    graft.FixtureExport.ensure(sfDir, ParamsExportPath) {
      import spark.implicits._
      p._1.indices.map(d => (d, p._1(d), p._2(d))).toDF("d", "vmin", "delta")
        .coalesce(1).write.mode("overwrite").parquet(ParamsExportPath)
    }
    p
  }

  /** Map-only encode: one byte-range int per dimension, clamped to
    * [0, 255] on BOTH ends — (x - vmin) >= 0 holds only for the corpus
    * the params were fitted on, so a serving-time vector with a
    * dimension below vmin must clamp to code 0 (a no-op for fitted
    * data; FAISS QT_8bit clamps symmetrically for the same reason). */
  def sqCodes(vecCol: Column, vmin: Array[Double], delta: Array[Double]): Column = {
    val vminL = typedLit(vmin.toSeq)
    val deltaL = typedLit(delta.toSeq)
    transform(vecCol.cast("array<double>"), (x, i) => {
      val mn = element_at(vminL, i + 1)
      val dl = element_at(deltaL, i + 1)
      when(dl === 0.0, lit(0))
        .otherwise(least(lit(255.0),
          greatest(lit(0.0), floor((x - mn) / dl + lit(0.5)))).cast("int"))
    })
  }

  /** Map-only dequantize: vmin + code * delta per dimension. */
  def sqRecon(codesCol: Column, vmin: Array[Double], delta: Array[Double]): Column = {
    val vminL = typedLit(vmin.toSeq)
    val deltaL = typedLit(delta.toSeq)
    transform(codesCol, (c, i) =>
      element_at(vminL, i + 1) + c.cast("double") * element_at(deltaL, i + 1))
  }

  /** `embed_sq`: the complete SQ8 code assignment, exploded to
    * (vec_id, d, code) scalar rows so the oracle hashes EVERY byte of
    * the encode (the [[PqSearch.embedPq]] convention). */
  def embedSq(spark: SparkSession, sfDir: String): DataFrame = {
    val (vmin, delta) = fittedParams(spark, sfDir)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        posexplode(sqCodes(col("embedding"), vmin, delta)).as(Seq("d", "code")))
  }

  def embedSqSql: String =
    s"""WITH p AS (SELECT d, vmin, delta FROM read_parquet('$ParamsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings)
       |SELECT x.vec_id, CAST(x.d AS INTEGER) AS d,
       |  CASE WHEN p.delta = 0 THEN 0
       |       ELSE CAST(LEAST(CAST(255.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |                       FLOOR((x.v - p.vmin) / p.delta + 0.5))) AS INTEGER)
       |  END AS code
       |FROM x JOIN p ON x.d = p.d""".stripMargin

  /**
   * `ann_sq_topk`: exhaustive asymmetric scan — dequantize each code
   * row once (map-only), rank floored squared distance to the
   * broadcast query batch, refine the AdcKeep shortlist against the
   * original embeddings. The [[PqSearch.exhaustiveAdcTopK]] chain with
   * per-dim codes in place of subspace codewords; compose IVF cells in
   * front for corpus-scale serving, exactly as ann_ivfpq_topk does.
   */
  def annSqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val (vmin, delta) = fittedParams(spark, sfDir)
    val data = Tables.embeddings(spark, sfDir)
    TwoStage.topK(data.filter(col("vec_id") < NumQueries), codec(dvecsOf(data, vmin, delta)),
      TwoStage.AllRows, data.select(col("vec_id"), col("embedding")), AdcKeep, K, None)
  }

  /** (vec_id, dvec): the dequantized codes, the SQ8 candidate table. */
  private[graft] def dvecsOf(data: DataFrame, vmin: Array[Double], delta: Array[Double]): DataFrame =
    data.select(col("vec_id"),
      sqRecon(sqCodes(col("embedding"), vmin, delta), vmin, delta).as("dvec"))

  /** The SQ8 [[TwoStage.Codec]]: floored squared distance from the
    * double-cast query to each dequantized code row. */
  private[graft] def codec(dvecs: DataFrame): TwoStage.Codec = TwoStage.Codec(dvecs,
    _.withColumn("qv", col("qraw").cast("array<double>")),
    TwoStage.flooredSq(col("qv"), col("dvec")))

  def NumProbes: Int = PqSearch.NumProbes

  /**
   * `ann_ivfsq_topk`: the FAISS IndexIVFScalarQuantizer composition —
   * IVF cells bound the scan, SQ8 codes bound the bandwidth inside
   * probed cells, exact refine bounds the embedding fetch. THE
   * corpus-scale serving form of [[annSqTopK]] (which isolates the
   * quantization-quality path by scanning exhaustively): at 100 TB
   * the cells table is bucketed by cell, the probe join prunes to
   * nProbe cells per query, and the per-candidate cost is one
   * dequantized-distance expression over 4x-compressed codes.
   * Same plan skeleton as [[PqSearch.annIvfpqTopK]] with per-dim
   * dequantization in place of subspace LUTs.
   */
  def annIvfsqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val (vmin, delta) = fittedParams(spark, sfDir)
    val cells = IvfSearch.assignCells(data, cents)
    ivfsqTopKForQueries(spark, data.filter(col("vec_id") < NumQueries),
      cells, dvecsOf(data, vmin, delta), data.select(col("vec_id"), col("embedding")), cents)
  }

  /** Resident IVF-SQ8 index: cell routing + dequantized codes (the
    * 4x-compressed candidate representation), the full-precision fetch
    * table, and the fitted frozen models — the SQ8 twin of
    * [[PqSearch.PqIndex]], giving the tier a maintenance state the
    * [[graft.streaming.SqLifecycle]] can carry. */
  final case class SqIndex(cells: DataFrame, dvecs: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], vmin: Array[Double], delta: Array[Double])

  /** Frozen-model encode of a (vec_id, embedding) row set into a
    * servable [[SqIndex]] — a deterministic map of the row set (the
    * lifecycle contract: staged-delta encode, and compaction equals a
    * fresh encode of the survivors, bit-for-bit). */
  def buildIndexOn(spark: SparkSession, data: DataFrame,
      cents: Array[Array[Float]], vmin: Array[Double],
      delta: Array[Double]): SqIndex = {
    val d = data.select(col("vec_id"), col("embedding"))
    SqIndex(
      IvfSearch.assignCells(d, cents),
      dvecsOf(d, vmin, delta), d, cents, vmin, delta)
  }

  /** The IVF+SQ8 serving chain for a (vec_id, embedding) query batch
    * against resident cell/dequantized-code tables — the frame-level
    * core of [[annIvfsqTopK]], with the same tombstone contract as
    * [[PqSearch.topKForQueries]]: `deletedIds` (column `id`)
    * anti-joins the candidate table BEFORE the ADC work and the
    * AdcKeep cap, so tombstone serving equals serving an index
    * physically rebuilt without the deleted rows (frozen params).
    * `k` bounds the final refine window (defaults to the config K;
    * threaded so QuantTier.serve honors its caller's k on every
    * tier, not just PQ — the r10 ADVICE alignment). */
  def ivfsqTopKForQueries(spark: SparkSession, queries: DataFrame,
      cells: DataFrame, dvecs: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], deletedIds: Option[DataFrame] = None,
      k: Int = K): DataFrame =
    TwoStage.topK(queries, codec(dvecs), TwoStage.Cells(cells, cents), fetch,
      AdcKeep, k, deletedIds)

  /**
   * `ann_ivfsq_filtered_topk`: metadata-filtered search on the
   * IVF+SQ8 serving tier — nearest neighbors AMONG rows sharing the
   * query's `label`, the predicate path the compressed production
   * tiers were missing (exact and LSH had it; the tier a 100 TB
   * corpus actually serves did not). The discipline is
   * [[AnnQuery.lshTopKSameLabel]]'s, applied to cells:
   *  - the label rides the CELL ASSIGNMENT itself
   *    ([[IvfSearch.assignCells]] carrying `label`, map-side),
   *    so the predicate lands directly on the candidate table, below
   *    the dequantized-distance work and both rank windows: ADC is
   *    never computed for a row the filter would discard, and the
   *    AdcKeep shortlist budget is spent entirely on matching rows;
   *  - the probe budget widens against selectivity
   *    ([[IvfSearch.FilterOverProbe]]): a 10%-selective label keeps
   *    ~nProbe*overProbe/10 of the unfiltered candidate pool, which
   *    is what preserves recall without touching unprobed cells.
   * At 100 TB the plan shape is unchanged from [[annIvfsqTopK]] —
   * cells-bucketed scan, code-sized candidate rows, bounded refine —
   * with one extra byte-sized column on the assignment table.
   */
  def annIvfsqFilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val (vmin, delta) = fittedParams(spark, sfDir)
    TwoStage.topK(data.filter(col("vec_id") < NumQueries), codec(dvecsOf(data, vmin, delta)),
      TwoStage.LabeledCells(IvfSearch.assignCells(data, cents, Seq("label")), cents),
      data.select(col("vec_id"), col("embedding")), AdcKeep, K, None)
  }

  def annIvfsqTopKSql: String =
    s"""WITH c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |p AS (SELECT d, vmin, delta FROM read_parquet('$ParamsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |recon AS (
       |  SELECT x.vec_id, x.d,
       |    CASE WHEN p.delta = 0 THEN p.vmin
       |         ELSE p.vmin + LEAST(CAST(255.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |                FLOOR((x.v - p.vmin) / p.delta + 0.5))) * p.delta
       |    END AS rv
       |  FROM x JOIN p ON x.d = p.d),
       |dvecs AS (SELECT vec_id, list(rv ORDER BY d) AS dvec FROM recon GROUP BY vec_id),
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
       |adc AS (
       |  SELECT pr.query_id, a.vec_id,
       |    FLOOR(list_distance(CAST(q.embedding AS DOUBLE[]), dv.dvec)
       |          * list_distance(CAST(q.embedding AS DOUBLE[]), dv.dvec) * 10000) / 10000 AS adc
       |  FROM probes pr
       |  JOIN assign a ON a.cell = pr.cell
       |  JOIN dvecs dv ON dv.vec_id = a.vec_id
       |  JOIN embeddings q ON q.vec_id = pr.query_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS adc_rank
       |    FROM adc)
       |  WHERE adc_rank <= $AdcKeep)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
       |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings q ON q.vec_id = s.query_id)
       |WHERE rnk <= $K""".stripMargin

  /** The [[annIvfsqTopKSql]] chain with the label threaded through:
    * assignment carries the row label, probes carry the query label,
    * and the candidate join applies the predicate before ADC — the
    * same stage order as the Spark plan. */
  def annIvfsqFilteredTopKSql: String = {
    val nProbe = NumProbes * IvfSearch.FilterOverProbe
    s"""WITH c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |p AS (SELECT d, vmin, delta FROM read_parquet('$ParamsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |recon AS (
       |  SELECT x.vec_id, x.d,
       |    CASE WHEN p.delta = 0 THEN p.vmin
       |         ELSE p.vmin + LEAST(CAST(255.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |                FLOOR((x.v - p.vmin) / p.delta + 0.5))) * p.delta
       |    END AS rv
       |  FROM x JOIN p ON x.d = p.d),
       |dvecs AS (SELECT vec_id, list(rv ORDER BY d) AS dvec FROM recon GROUP BY vec_id),
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
       |adc AS (
       |  SELECT pr.query_id, a.vec_id,
       |    FLOOR(list_distance(CAST(q.embedding AS DOUBLE[]), dv.dvec)
       |          * list_distance(CAST(q.embedding AS DOUBLE[]), dv.dvec) * 10000) / 10000 AS adc
       |  FROM probes pr
       |  JOIN assign a ON a.cell = pr.cell AND a.label = pr.qlabel
       |  JOIN dvecs dv ON dv.vec_id = a.vec_id
       |  JOIN embeddings q ON q.vec_id = pr.query_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS adc_rank
       |    FROM adc)
       |  WHERE adc_rank <= $AdcKeep)
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

  def annSqTopKSql: String =
    s"""WITH p AS (SELECT d, vmin, delta FROM read_parquet('$ParamsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |recon AS (
       |  SELECT x.vec_id, x.d,
       |    CASE WHEN p.delta = 0 THEN p.vmin
       |         ELSE p.vmin + LEAST(CAST(255.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
       |                FLOOR((x.v - p.vmin) / p.delta + 0.5))) * p.delta
       |    END AS rv
       |  FROM x JOIN p ON x.d = p.d),
       |dvecs AS (SELECT vec_id, list(rv ORDER BY d) AS dvec FROM recon GROUP BY vec_id),
       |adc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    FLOOR(list_distance(CAST(q.embedding AS DOUBLE[]), c.dvec)
       |          * list_distance(CAST(q.embedding AS DOUBLE[]), c.dvec) * 10000) / 10000 AS adc
       |  FROM dvecs c CROSS JOIN embeddings q WHERE q.vec_id < $NumQueries),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS adc_rank
       |    FROM adc)
       |  WHERE adc_rank <= $AdcKeep)
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
