package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.vec_l2

/**
 * Product quantization: the third classic ANN compression next to the
 * reference's LSH partitions (fspann `core/Coding.java` semantics,
 * re-expressed in [[AnnQuery]]) and the IVF cells of [[IvfSearch]].
 * Vectors are split into `M` subspaces; each subspace is k-means
 * quantized to `Kc` codewords; a vector becomes `M` small codes
 * (8 bytes here vs 256 bytes of float32 — the compression that lets a
 * 100 TB corpus keep its WHOLE index in memory while the raw vectors
 * stay in cold storage).
 *
 * Serving is IVF-PQ (the FAISS-standard composition): queries probe
 * their `nProbe` nearest coarse cells, candidates inside those cells
 * are ranked by asymmetric distance (ADC — a per-query lookup table
 * of query-subvector-to-codeword distances, summed by code), and only
 * a bounded ADC shortlist is refined against the true embeddings.
 * The expensive scan therefore touches 8-byte codes, never vectors;
 * the full-precision fetch is `numQueries x adcKeep` rows.
 *
 * Spark posture:
 *  - Codebook fit is the [[IvfSearch.fitCentroids]] discipline: a
 *    bounded `vec_id`-pinned sample, deterministic Lloyd iterations
 *    per subspace, memoized per (session, corpus).
 *  - ENCODE is map-only: the codebook rides the plan as a literal
 *    (M x Kc x subDim floats — KBs; `broadcast()` it if a deployment
 *    outgrows plan literals) and each code is an in-order argmin over
 *    `vec_l2` distances — no shuffle anywhere in index construction.
 *  - The cell routing reuses the fitted IVF centroids and the one
 *    router ([[IvfSearch.route]]), so the PQ index and the IVF index
 *    route identically.
 *  - ADC candidates are capped per query by a (floored ADC, vec_id)
 *    window BEFORE any embedding fetch — the bandwidth bound that
 *    makes the refine cost independent of cell skew.
 *
 * Both fixtures (coarse centroids, PQ codebook) are exported as tiny
 * parquet tables so DuckDB replays the full chain: encode argmin,
 * probe selection, ADC ranking, exact refine.
 */
object PqSearch {

  private def cfg = graft.config.GraftConfig.active

  /** Subspaces per vector (codes per vector). */
  def M: Int = cfg.pq.m
  /** Codewords per subspace (codes fit 4 bits at the default 16;
    * byte-sized 256 is the production norm — plans are Kc-independent). */
  def Kc: Int = cfg.pq.codewords
  /** ADC shortlist refined with exact distances, per query. */
  def AdcKeep: Int = cfg.pq.adcKeep

  def K: Int = cfg.query.k
  def NumQueries: Int = cfg.query.numQueries
  def NumProbes: Int = cfg.ivf.probes

  val CodebookExportPath = graft.FixturePaths.fixture("pq_codebook.parquet")

  private val codebooks = new graft.util.SessionMemo[String, Array[Array[Array[Float]]]]

  /** [m][k][subDim] codebook from a bounded, `vec_id`-pinned sample:
    * per-subspace deterministic Lloyd k-means ([[IvfSearch.kmeans]]). */
  def fitCodebook(data: DataFrame, memoKey: String): Array[Array[Array[Float]]] =
    fitCodebookOn(data, "embedding", memoKey)

  /** [[fitCodebook]] over an arbitrary vector column (the whitened
    * chain fits on rotated vectors, not the raw embedding). */
  def fitCodebookOn(data: DataFrame, vecCol: String,
      memoKey: String): Array[Array[Array[Float]]] = {
    val spark = data.sparkSession
    def fit(): Array[Array[Array[Float]]] = {
      val sample = data.orderBy("vec_id").limit(IvfSearch.MaxSample)
        .select(col(vecCol).cast("array<float>"))
        .collect().map(_.getSeq[Float](0).toArray)
      require(sample.nonEmpty, "empty sample for PQ codebook fit")
      val dim = sample.head.length
      require(dim % M == 0, s"dim=$dim not divisible into $M subspaces")
      val sub = dim / M
      Array.tabulate(M) { m =>
        val subSample = sample.map(_.slice(m * sub, (m + 1) * sub))
        IvfSearch.kmeans(subSample, math.min(Kc, subSample.length), IvfSearch.KmeansIters)
      }
    }
    codebooks(spark, memoKey)(fit())
  }

  /** (m, code, cv) fixture rows for the DuckDB oracle. */
  def codebookDf(spark: SparkSession, cb: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    cb.zipWithIndex.flatMap { case (cws, m) =>
      cws.zipWithIndex.map { case (cw, k) => (m, k, cw.toSeq) }
    }.toSeq.toDF("m", "code", "cv")
  }

  private def exportCodebook(spark: SparkSession, sfDir: String,
      cb: Array[Array[Array[Float]]]): Unit =
    graft.FixtureExport.ensure(sfDir, CodebookExportPath) {
      codebookDf(spark, cb)
        .coalesce(1).write.mode("overwrite").parquet(CodebookExportPath)
    }

  /** The codebook as a plan literal: array of (m, array of codewords). */
  private def cbLit(cb: Array[Array[Array[Float]]]): Column =
    typedLit(cb.zipWithIndex.map { case (cws, m) => (m, cws.map(_.toSeq).toSeq) }.toSeq)

  private def subDim(cb: Array[Array[Array[Float]]]): Int = cb(0)(0).length

  /** Map-only PQ codes for `vecCol`: per subspace, the first-position
    * argmin over codeword distances (ties -> lowest code, the same
    * (dist, code) order the DuckDB oracle ranks by). */
  def pqCodes(vecCol: Column, cb: Array[Array[Array[Float]]]): Column = {
    val sub = subDim(cb)
    transform(cbLit(cb), mrow => {
      val sl = slice(vecCol, mrow.getField("_1") * lit(sub) + lit(1), lit(sub))
      val dists = transform(mrow.getField("_2"), cw => vec_l2(sl, cw))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
  }

  /** Map-only coarse-cell assignment: the home cell of
    * [[IvfSearch.route]] as a column — the encode pass needs no join.
    * A projection only: a join keyed on it must key on
    * [[IvfSearch.assignCells]]' generator-made `cell` instead. */
  def cellOf(vecCol: Column, cents: Array[Array[Float]]): Column =
    IvfSearch.route(vecCol, cents, 1).getItem(0).getField("cell")

  /** Per-query ADC lookup tables: luts[m][k] = squared distance from
    * the query's m-th subvector to codeword k (squared so the ADC sum
    * approximates the squared L2; the sqrt'd kernel is reused and
    * squared by multiplication, which DuckDB replays exactly). */
  def adcLuts(qvCol: Column, cb: Array[Array[Array[Float]]]): Column = {
    val sub = subDim(cb)
    transform(cbLit(cb), mrow => {
      val sl = slice(qvCol, mrow.getField("_1") * lit(sub) + lit(1), lit(sub))
      transform(mrow.getField("_2"), cw => {
        val d = vec_l2(sl, cw)
        d * d
      })
    })
  }

  /** In-order ADC sum: codes index into the per-subspace LUTs. Floored
    * to 4dp so the shortlist cut is total and engine-portable (the
    * tfidf ranking discipline). */
  private def adcCol: Column =
    floor(aggregate(
      zip_with(col("codes"), col("luts"), (c, l) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x) * 10000) / 10000

  private def fittedFor(spark: SparkSession, sfDir: String,
      data: DataFrame): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val cb = fitCodebook(data, s"pq:$sfDir")
    exportCodebook(spark, sfDir, cb)
    (cents, cb)
  }

  /** `embed_pq`: the PQ-encoded corpus — (vec_id, cell, m, code), the
    * codes array exploded to scalar rows so the oracle hash checks the
    * COMPLETE code assignment (the array-summary loaders only digest).
    * An IVF-PQ deployment stores the array form bucketed by cell. */
  def embedPq(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val (cents, cb) = fittedFor(spark, sfDir, data)
    data.select(col("vec_id"),
      cellOf(col("embedding"), cents).as("cell"),
      posexplode(pqCodes(col("embedding"), cb)))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
  }

  /** Map-only per-query probe list: the cells of [[IvfSearch.route]]'s
    * first `nProbe` pairs, in probe order — the order
    * [[IvfSearch.probeCellsRanked]] ranks. */
  def topProbeCells(vecCol: Column, cents: Array[Array[Float]], nProbe: Int): Column =
    transform(IvfSearch.route(vecCol, cents, nProbe), _.getField("cell"))

  /** `ann_ivfpq_topk`: probe -> ADC rank over codes -> bounded exact
    * refine. Queries are the first [[NumQueries]] corpus vectors (the
    * [[IvfSearch.simsearchIvf]] convention). The query side is ONE
    * broadcast relation carrying (probe cell, ADC tables, query
    * vector) per query — probe selection, like the encode, is a
    * map-only expression over the literal centroids, so the only
    * shuffles are the two bounded rank windows (ADC cap, final top-k). */
  def annIvfpqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val (cents, cb) = fittedFor(spark, sfDir, data)
    // cell routing via the map-side assignCells, whose `cell` comes
    // out of a generator; codes are a map-only projection joined by
    // plain vec_id. (An alias that is BOTH a join key and a join
    // output — keying the join on [[cellOf]] directly — trips a Spark
    // 4.1 optimizer bug: CollapseProject pulls the HOF alias above the
    // join while column pruning drops `embedding` below it ->
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.)
    val cells = IvfSearch.assignCells(data, cents)
    val codes = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), pqCodes(col("embedding"), cb).as("codes"))

    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val fetch = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    topKForQueries(spark, queries, cells, codes, fetch, cents, cb, K)
  }

  /**
   * Serve a (query_id, qv) batch through IVF-PQ: the per-query probe
   * list + ADC tables are computed and COLLECTED into a local relation
   * (bounded: queries x nProbe — a query batch, never the corpus).
   * This is the reference's client-side query prep (QueryTokenFactory
   * computes per-query code material on the client); the serving
   * plan's broadcast side is a LocalTableScan, decoupled from the
   * corpus scans. Candidate rows carry (vec_id, codes) only — never
   * embeddings; the full-precision `fetch` join happens AFTER the ADC
   * shortlist cut. Shared by the batch entry and the streaming server
   * ([[graft.streaming.AnnServe.servePq]]).
   */
  def topKForQueries(spark: SparkSession, queries: DataFrame,
      cells: DataFrame, codes: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], cb: Array[Array[Array[Float]]],
      k: Int, deletedIds: Option[DataFrame] = None): DataFrame =
    TwoStage.topK(queries.select(col("query_id").as("vec_id"), col("qv").as("embedding")),
      codec(codes, cb), TwoStage.Cells(cells, cents), fetch, AdcKeep, k, deletedIds)

  /** The PQ [[TwoStage.Codec]]: per-query ADC tables over `cb`, summed
    * by each candidate's codes ([[adcCol]]). */
  private[graft] def codec(codes: DataFrame, cb: Array[Array[Array[Float]]]): TwoStage.Codec =
    TwoStage.Codec(codes, _.withColumn("luts", adcLuts(col("qraw"), cb)), adcCol)

  /**
   * `ann_ivfpq_filtered_topk`: metadata-filtered IVF-PQ — the
   * [[SqSearch.annIvfsqFilteredTopK]] discipline on the 32x tier:
   * label rides the cell assignment ([[IvfSearch.assignCells]]),
   * the predicate prunes candidates AFTER the cell cut and BEFORE the
   * ADC lookup/rank (codes are never summed for a row the filter
   * would discard; the AdcKeep shortlist is all matching rows), and
   * the probe budget widens by [[IvfSearch.FilterOverProbe]] against
   * the predicate's selectivity.
   */
  def annIvfpqFilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val (cents, cb) = fittedFor(spark, sfDir, data)
    val cells = IvfSearch.assignCells(data, cents, Seq("label"))
    val codes = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), pqCodes(col("embedding"), cb).as("codes"))
    val fetch = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    ivfpqFilteredTopKForQueries(spark,
      Tables.embeddings(spark, sfDir).filter(col("vec_id") < NumQueries),
      cells, codes, fetch, cents, cb)
  }

  /** Frame-level core of [[annIvfpqFilteredTopK]] — the filtered chain
    * over resident labeled-cell/code tables for a
    * (vec_id, embedding, label) query batch (the ScaleRamp handle). */
  def ivfpqFilteredTopKForQueries(spark: SparkSession, queries: DataFrame,
      cells: DataFrame, codes: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], cb: Array[Array[Array[Float]]]): DataFrame =
    TwoStage.topK(queries, codec(codes, cb), TwoStage.LabeledCells(cells, cents), fetch,
      AdcKeep, K, None)

  /** Resident IVF-PQ index for a corpus: cell routing + codes (cached
    * — together ~13 bytes/vector, the point of PQ), the full-precision
    * fetch table, and the fitted models. The streaming server holds
    * one of these across triggers like the LSH path's resident index. */
  final case class PqIndex(cells: DataFrame, codes: DataFrame, fetch: DataFrame,
      cents: Array[Array[Float]], cb: Array[Array[Array[Float]]])

  /** Encode a corpus with FROZEN fitted models: (cell routing, codes).
    * A deterministic map of the row set (FAISS `add()` semantics —
    * adding vectors never refits centroids or codebooks; refitting is
    * a compaction-time decision). Staged-delta encode and compaction
    * ([[graft.streaming.PqLifecycle]]) reuse this, which is what makes
    * a compacted index bit-identical to a fresh encode. */
  def encode(spark: SparkSession, data: DataFrame,
      cents: Array[Array[Float]], cb: Array[Array[Array[Float]]]): (DataFrame, DataFrame) = {
    val cells = IvfSearch.assignCells(data, cents)
    val codes = data.select(col("vec_id"), pqCodes(col("embedding"), cb).as("codes"))
    (cells, codes)
  }

  def buildIndex(spark: SparkSession, sfDir: String): PqIndex = {
    val data = Tables.embeddings(spark, sfDir)
    val (cents, cb) = fittedFor(spark, sfDir, data)
    val (cells, codes) = encode(spark, Tables.embeddings(spark, sfDir), cents, cb)
    PqIndex(cells.cache(), codes.cache(),
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      cents, cb)
  }

  /** Warm the centroid + codebook fits (bench prep: timed reps measure
    * the encode/serving plan, not the model fit or fixture export). */
  def ensureFitted(spark: SparkSession, sfDir: String): Unit = {
    fittedFor(spark, sfDir, Tables.embeddings(spark, sfDir))
    ()
  }

  // ---- PQ in PCA-whitened space (the OPQ-style composition) ----

  /** Fixture path for the whitened-space codebook (distinct from the
    * raw-space [[CodebookExportPath]]). */
  val PcaCodebookExportPath = graft.FixturePaths.fixture("pq_pca_codebook.parquet")

  /**
   * `ann_pcapq_topk`: exhaustive-ADC PQ search under an OPQ rotation —
   * rotate every vector with the FULL-dimension unwhitened (isometric)
   * eigenvalue-allocated PCA basis
   * ([[graft.operators.Embeddings.fittedPcaRotation]]: rotation
   * preserves every pairwise L2 exactly while Ge et al.'s allocation
   * balances the variance product across the M subspaces — the
   * non-parametric OPQ init FAISS ships; whitening is deliberately NOT
   * applied, it rescales axes and distorts the metric the refine step
   * ranks by), PQ-encode the ROTATED vectors,
   * ADC-rank every code against the query batch's broadcast LUTs,
   * refine a bounded shortlist against the ORIGINAL embeddings.
   *
   * Spark posture: rotation and encode are map-only projections
   * (matrix + codebook ride the plans as literals); the ADC pass is a
   * broadcast nested-loop over the 8-byte codes — the FAISS IndexPQ
   * exhaustive scan, whose 100 TB form is the IVF-celled
   * [[annIvfpqTopK]] (this entry isolates the rotation + ADC quality
   * path; compose cells back in for corpus-scale serving). Shuffles:
   * only the two bounded rank windows (ADC cap, final top-k).
   */
  def annPcapqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Embeddings
    val data = Tables.embeddings(spark, sfDir)
    val comps = Embeddings.fittedPcaRotation(spark, sfDir, M)
    // float is the canonical rotated representation (the vec_l2 kernel
    // reads floats; the oracle replays the same double->float rounding)
    val rot = Embeddings.pcaTransform(data, "embedding", comps)
      .select(col("vec_id"),
        transform(col("proj"), p => p.getField("v"))
          .cast("array<float>").as("re"))
    val cb = fitCodebookOn(rot, "re", s"pcapq:$sfDir")
    graft.FixtureExport.ensure(s"pcapq:$sfDir", PcaCodebookExportPath) {
      codebookDf(spark, cb)
        .coalesce(1).write.mode("overwrite").parquet(PcaCodebookExportPath)
    }
    exhaustiveAdcTopK(spark, data, rot, cb)
  }

  /** The exhaustive chain over any (vec_id, re) representation: encode,
    * broadcast query LUTs, ADC-rank every code, bounded exact refine
    * against the ORIGINAL embeddings. Shared so the spec can measure
    * the rotation's contribution against a raw-space twin. */
  private[graft] def exhaustiveAdcTopK(spark: SparkSession, data: DataFrame,
      rot: DataFrame, cb: Array[Array[Array[Float]]]): DataFrame = {
    val luts = rot.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), adcLuts(col("re"), cb).as("luts"))
    TwoStage.topK(data.filter(col("vec_id") < NumQueries),
      TwoStage.Codec(rot.select(col("vec_id"), pqCodes(col("re"), cb).as("codes")),
        _.join(luts, Seq("query_id")), adcCol),
      TwoStage.AllRows, data.select(col("vec_id"), col("embedding")), AdcKeep, K, None)
  }

  /** DuckDB twin of the whitened chain: rotate via the PCA fixture
    * (ROUND 4 like the Spark transform), encode argmin over the
    * whitened codebook fixture, exhaustive ADC, bounded exact refine
    * in the original space. */
  def annPcapqTopKSql: String =
    s"""WITH pm AS (SELECT r, w, b FROM read_parquet('${graft.operators.Embeddings.PcaRotExportPath}/*.parquet')),
       |rot AS (
       |  SELECT e.vec_id,
       |    CAST(CAST(list(ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), pm.w) + pm.b, 4)
       |         ORDER BY pm.r) AS FLOAT[]) AS DOUBLE[]) AS re
       |  FROM embeddings e CROSS JOIN pm GROUP BY e.vec_id),
       |cb AS (SELECT m, code, cv FROM read_parquet('$PcaCodebookExportPath/*.parquet')),
       |sub AS (SELECT DISTINCT len(cv) AS sd FROM cb),
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT r.vec_id, cb.m, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY r.vec_id, cb.m ORDER BY
       |        list_distance(r.re[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |          CAST(cb.cv AS DOUBLE[])), cb.code) AS rn
       |    FROM rot r CROSS JOIN cb CROSS JOIN sub)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.code,
       |    list_distance(q.re[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd], CAST(cb.cv AS DOUBLE[]))
       |    * list_distance(q.re[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd], CAST(cb.cv AS DOUBLE[])) AS d2
       |  FROM rot q CROSS JOIN cb CROSS JOIN sub WHERE q.vec_id < $NumQueries),
       |adc AS (
       |  SELECT l.query_id, cd.vec_id, FLOOR(SUM(l.d2) * 10000) / 10000 AS adc
       |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
       |  GROUP BY l.query_id, cd.vec_id),
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

  /** The [[annIvfpqTopKSql]] chain with the label threaded through
    * (assignment carries it, probes carry the query's, the candidate
    * join filters before the LUT sum) — the Spark stage order. */
  def annIvfpqFilteredTopKSql: String = {
    val nProbe = NumProbes * IvfSearch.FilterOverProbe
    s"""WITH c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |$codesCte,
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
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.code,
       |    list_distance(CAST(q.embedding AS DOUBLE[])[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |      CAST(cb.cv AS DOUBLE[]))
       |    * list_distance(CAST(q.embedding AS DOUBLE[])[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |      CAST(cb.cv AS DOUBLE[])) AS d2
       |  FROM embeddings q CROSS JOIN cb CROSS JOIN sub WHERE q.vec_id < $NumQueries),
       |adc AS (
       |  SELECT p.query_id, a.vec_id, FLOOR(SUM(l.d2) * 10000) / 10000 AS adc
       |  FROM probes p
       |  JOIN assign a ON a.cell = p.cell AND a.label = p.qlabel
       |  JOIN codes cd ON cd.vec_id = a.vec_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
       |  GROUP BY p.query_id, a.vec_id),
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

  /** Shared oracle CTEs: encode argmin over the codebook fixture. */
  private def codesCte: String =
    s"""cb AS (SELECT m, code, cv FROM read_parquet('$CodebookExportPath/*.parquet')),
       |sub AS (SELECT DISTINCT len(cv) AS sd FROM cb),
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT e.vec_id, cb.m, cb.code,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.m ORDER BY
       |        list_distance(CAST(e.embedding AS DOUBLE[])[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |          CAST(cb.cv AS DOUBLE[])), cb.code) AS r
       |    FROM embeddings e CROSS JOIN cb CROSS JOIN sub)
       |  WHERE r = 1)""".stripMargin

  /** DuckDB twin of [[embedPq]] over the two fixtures. */
  def embedPqSql: String =
    s"""WITH c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |$codesCte,
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS r
       |    FROM embeddings e CROSS JOIN c)
       |  WHERE r = 1)
       |SELECT a.vec_id, a.cell, CAST(cd.m AS INTEGER) AS m, CAST(cd.code AS INTEGER) AS code
       |FROM assign a JOIN codes cd USING (vec_id)""".stripMargin

  /** DuckDB twin of the full IVF-PQ chain: assign, probe, ADC over the
    * encoded codes (floored 4dp like the Spark cut), bounded exact
    * refine, top-k by (dist, vec_id). */
  def annIvfpqTopKSql: String =
    s"""WITH c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |$codesCte,
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
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.code,
       |    list_distance(CAST(q.embedding AS DOUBLE[])[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |      CAST(cb.cv AS DOUBLE[]))
       |    * list_distance(CAST(q.embedding AS DOUBLE[])[cb.m * sub.sd + 1 : (cb.m + 1) * sub.sd],
       |      CAST(cb.cv AS DOUBLE[])) AS d2
       |  FROM embeddings q CROSS JOIN cb CROSS JOIN sub WHERE q.vec_id < $NumQueries),
       |adc AS (
       |  SELECT p.query_id, a.vec_id, FLOOR(SUM(l.d2) * 10000) / 10000 AS adc
       |  FROM probes p
       |  JOIN assign a ON a.cell = p.cell
       |  JOIN codes cd ON cd.vec_id = a.vec_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.m = cd.m AND l.code = cd.code
       |  GROUP BY p.query_id, a.vec_id),
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
