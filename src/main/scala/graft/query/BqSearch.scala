package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Binary (1-bit) quantization search — the fourth and cheapest point
 * in the library's compression-vs-recall spectrum (LSH refine at 1x,
 * SQ8 at 4x, PQ at ~32x): each DIMENSION keeps ONE sign bit against a
 * per-dim corpus threshold (the mean — the centered-sign-bit code
 * every "binary quantization" serving stack uses), so a dim-64 vector
 * is 8 bytes, and the candidate metric is HAMMING DISTANCE — pure
 * integer xor + popcount, no codebook, no float math until the
 * bounded exact refine. The shape modern vector stores call BQ+rerank;
 * in FAISS terms an LSH/binary index (IndexLSH with rotation off)
 * refined by an exact flat fetch.
 *
 * Why it earns a tier next to PQ at the same 8 code bytes (dim 64,
 * M=8): no trained codebook to ship or re-fit on drift, the scan is
 * xor+popcount (SIMD-trivial, no LUT gather), and the threshold fit
 * is one partial agg — the right rung when the corpus re-ranks
 * aggressively anyway (RAG-style k<<shortlist). The trade is rank
 * resolution: 64 Hamming levels vs PQ's continuous ADC — the
 * [[TierReport]] matrix states both sides.
 *
 * Spark posture: the fit is ONE partial-agg shuffle producing a
 * dim-sized threshold table (collected driver-side, exported as the
 * oracle fixture — the [[SqSearch]] params discipline); encode packs
 * 32 bits per long word with a sum-of-whens expression (map-only,
 * codegen'd, thresholds ride the plan as literals); Hamming is
 * `aggregate(zip_with(qwords, words, bit_count(xor)))` — integers end
 * to end, so cross-engine parity is structural, not epsilon-managed.
 * The only shuffles are the two bounded rank windows (Hamming
 * shortlist cap, final top-k). At 100 TB the words table is the
 * resident serving representation (32x smaller scan than floats) and
 * the IVF cells of [[IvfSearch]] compose in front exactly as they do
 * for SQ8/PQ ([[SqSearch.annIvfsqTopK]] shows the composition twice
 * over — BQ swaps the per-candidate expression, not the plan).
 *
 * Word width is 32 bits inside a BIGINT: bit 31 shifts to 2^31 and a
 * full word sums below 2^32, so no engine ever touches the sign bit
 * of a 64-bit word — DuckDB's `<<`/SUM overflow rules and Java's
 * signed longs agree by construction instead of by care.
 */
object BqSearch {

  val ThresholdsExportPath = graft.FixturePaths.fixture("bq_thresholds.parquet")

  /** Bits packed per code word (see scaladoc: 32 inside a BIGINT keeps
    * both engines' shift/sum semantics trivially identical). */
  val WordBits = 32

  def K: Int = PqSearch.K
  def NumQueries: Int = PqSearch.NumQueries

  /** Hamming shortlist refined exactly, same budget as the ADC tiers
    * so the [[TierReport]] comparison is at equal refine cost. */
  def HamKeep: Int = PqSearch.AdcKeep

  /** Per-dim mean threshold: one explode + dim-keyed partial agg
    * (output is dim rows — bounded), collected driver-side. The mean
    * centers each sign bit so both halves of the corpus carry
    * information (a zero threshold on all-positive features would
    * set every bit — the multimodal_neardup centering lesson at one
    * bit per dim). */
  def fitThresholds(data: DataFrame): Array[Double] =
    data
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("d", "v")))
      .groupBy("d").agg(avg("v").as("thr"))
      .orderBy("d")
      .collect()
      .map(_.getDouble(1))

  private val thresholds = new graft.util.SessionMemo[String, Array[Double]]

  def fittedThresholds(spark: SparkSession, sfDir: String): Array[Double] = {
    val t = thresholds(spark, sfDir)(fitThresholds(Tables.embeddings(spark, sfDir)))
    // fixture checked outside the memo (the SqSearch.fittedParams rule)
    graft.FixtureExport.ensure(sfDir, ThresholdsExportPath) {
      import spark.implicits._
      t.zipWithIndex.map { case (v, d) => (d, v) }.toSeq.toDF("d", "thr")
        .coalesce(1).write.mode("overwrite").parquet(ThresholdsExportPath)
    }
    t
  }

  /** Map-only encode: `ceil(dim/32)` BIGINT words, bit j of word w set
    * iff dimension `32w + j` exceeds its threshold (strict `>`; a
    * value AT the mean encodes 0 in both engines). ONE transform over
    * the cast array produces per-dim bit values (the multiplier
    * 2^(d mod 32) rides as a literal array), then each word is a
    * slice+aggregate sum — the original sum-of-whens form embedded a
    * fresh `cast(embedding as array<double>)` under every dimension's
    * element_at (O(dim²) per row; measured 1.28s vs SQ8's 0.36s on
    * the same exhaustive scan before this rewrite). Integer-exact,
    * thresholds as plan literals. */
  def bqWords(vecCol: Column, thr: Array[Double]): Column = {
    val thrL = typedLit(thr.toSeq)
    val mulL = typedLit(thr.indices.map(d => 1L << (d % WordBits)).toSeq)
    val bits = transform(vecCol.cast("array<double>"), (x, i) =>
      when(x > element_at(thrL, i + 1), element_at(mulL, i + 1))
        .otherwise(lit(0L)))
    val words = thr.indices.grouped(WordBits).map { dims =>
      aggregate(slice(bits, dims.head + 1, dims.size), lit(0L), (a, x) => a + x)
    }.toSeq
    array(words: _*)
  }

  /** Integer Hamming distance between two word arrays:
    * popcount(xor) per word, summed. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, x) => acc + x)

  /** `embed_bq`: the complete packed-word assignment, exploded to
    * (vec_id, w, word) scalar rows so the oracle hashes EVERY bit of
    * the encode (the [[SqSearch.embedSq]] convention). */
  def embedBq(spark: SparkSession, sfDir: String): DataFrame = {
    val thr = fittedThresholds(spark, sfDir)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        posexplode(bqWords(col("embedding"), thr)).as(Seq("w", "word")))
  }

  def embedBqSql: String =
    s"""WITH p AS (SELECT d, thr FROM read_parquet('$ThresholdsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings)
       |SELECT x.vec_id, CAST(x.d // $WordBits AS INTEGER) AS w,
       |  CAST(SUM(CASE WHEN x.v > p.thr
       |                THEN CAST(1 AS BIGINT) << CAST(x.d % $WordBits AS INTEGER)
       |                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS word
       |FROM x JOIN p ON x.d = p.d
       |GROUP BY x.vec_id, x.d // $WordBits""".stripMargin

  /**
   * `ann_bq_topk`: exhaustive Hamming scan over the packed words —
   * xor+popcount per candidate, integer ranks — then exact refine of
   * the [[HamKeep]] shortlist against the original embeddings. The
   * [[SqSearch.annSqTopK]] chain with one sign bit per dim in place
   * of a byte: the isolation twin that measures what 1-bit codes cost
   * in recall; compose IVF cells in front for corpus-scale serving,
   * exactly as ann_ivfsq_topk does.
   */
  def annBqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val thr = fittedThresholds(spark, sfDir)
    val data = Tables.embeddings(spark, sfDir)
    bqTopKOn(data, data.filter(col("vec_id") < NumQueries), thr)
  }

  /** Resident BQ serving representation: packed words (cache for
    * streaming serving — [[buildIndex]] does), the full-precision
    * fetch side for the exact refine, and the fitted thresholds for
    * encoding arriving queries. */
  final case class BqIndex(codes: DataFrame, fetch: DataFrame, thr: Array[Double])

  /** Build and MATERIALIZE the resident index: the streaming serving
    * engine pays the encode once, each trigger pays only its own
    * queries' Hamming scan + refine. */
  def buildIndex(data: DataFrame, thr: Array[Double]): BqIndex = {
    val idx = BqIndex(wordsOf(data, thr).cache(),
      data.select(col("vec_id"), col("embedding")), thr)
    idx.codes.count()
    idx
  }

  /** Frame-level core of [[annBqTopK]] (corpus and query frames
    * injectable — the spec's degenerate-case handle). */
  def bqTopKOn(data: DataFrame, queries: DataFrame, thr: Array[Double]): DataFrame =
    topKForQueries(queries,
      BqIndex(wordsOf(data, thr), data.select(col("vec_id"), col("embedding")), thr))

  /** The Hamming-shortlist + exact-refine chain for a (vec_id,
    * embedding) query batch against a resident [[BqIndex]] — the
    * serving form [[graft.streaming.AnnServe.serveBq]] runs per
    * micro-batch. `k` bounds the final refine window (defaults to the
    * config K; threaded so QuantTier.serve honors its caller's k on
    * every tier, not just PQ — the r10 ADVICE alignment). */
  def topKForQueries(queries: DataFrame, idx: BqIndex,
      deletedIds: Option[DataFrame] = None, k: Int = K): DataFrame =
    TwoStage.topK(queries, codec(idx.codes, idx.thr), TwoStage.AllRows, idx.fetch,
      HamKeep, k, deletedIds)

  /** (vec_id, words): the packed sign-bit codes, the BQ candidate table. */
  private[graft] def wordsOf(data: DataFrame, thr: Array[Double]): DataFrame =
    data.select(col("vec_id"), bqWords(col("embedding"), thr).as("words"))

  /** The BQ [[TwoStage.Codec]]: integer Hamming distance between the
    * query's packed words and each candidate's. */
  private[graft] def codec(words: DataFrame, thr: Array[Double]): TwoStage.Codec =
    TwoStage.Codec(words, _.withColumn("qwords", bqWords(col("qraw"), thr)),
      hamming(col("qwords"), col("words")))

  def NumProbes: Int = PqSearch.NumProbes

  /**
   * `ann_ivfbq_topk`: the IVF+BQ composition — cells bound the scan,
   * 1-bit words bound the bandwidth inside probed cells, exact refine
   * bounds the embedding fetch. THE corpus-scale serving form of
   * [[annBqTopK]] (the exhaustive twin isolates what the 1-bit codes
   * cost in recall), completing the celled family next to
   * [[SqSearch.annIvfsqTopK]] and [[PqSearch.annIvfpqTopK]]: same
   * plan skeleton, with xor+popcount as the per-candidate expression
   * — at 100 TB the probed partitions stream 32x fewer code bytes
   * than floats and the candidate metric never leaves integers.
   */
  def annIvfbqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val thr = fittedThresholds(spark, sfDir)
    TwoStage.topK(data.filter(col("vec_id") < NumQueries), codec(wordsOf(data, thr), thr),
      TwoStage.Cells(IvfSearch.assignCells(data, cents), cents),
      data.select(col("vec_id"), col("embedding")), HamKeep, K, None)
  }

  /**
   * `ann_ivfbq_filtered_topk`: metadata-filtered IVF+BQ — the
   * [[SqSearch.annIvfsqFilteredTopK]] discipline on the 32x 1-bit
   * tier: label on the cell assignment, predicate between the cell
   * cut and the xor+popcount work, probe budget widened by
   * [[IvfSearch.FilterOverProbe]].
   */
  def annIvfbqFilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val thr = fittedThresholds(spark, sfDir)
    TwoStage.topK(data.filter(col("vec_id") < NumQueries), codec(wordsOf(data, thr), thr),
      TwoStage.LabeledCells(IvfSearch.assignCells(data, cents, Seq("label")), cents),
      data.select(col("vec_id"), col("embedding")), HamKeep, K, None)
  }

  /** The [[annIvfbqTopKSql]] chain with the label threaded through —
    * the Spark stage order (filter after the cell cut, before the
    * Hamming aggregation). */
  def annIvfbqFilteredTopKSql: String = {
    val nProbe = NumProbes * IvfSearch.FilterOverProbe
    s"""WITH cc AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |p AS (SELECT d, thr FROM read_parquet('$ThresholdsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |words AS (
       |  SELECT x.vec_id, CAST(x.d // $WordBits AS INTEGER) AS w,
       |    CAST(SUM(CASE WHEN x.v > p.thr
       |                  THEN CAST(1 AS BIGINT) << CAST(x.d % $WordBits AS INTEGER)
       |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS word
       |  FROM x JOIN p ON x.d = p.d
       |  GROUP BY x.vec_id, x.d // $WordBits),
       |assign AS (
       |  SELECT vec_id, label, cell FROM (
       |    SELECT e.vec_id, e.label, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS r
       |    FROM embeddings e CROSS JOIN cc)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qlabel, cell FROM (
       |    SELECT q.vec_id AS query_id, q.label AS qlabel, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS crnk
       |    FROM embeddings q CROSS JOIN cc WHERE q.vec_id < $NumQueries)
       |  WHERE crnk <= $nProbe),
       |cand AS (
       |  SELECT pr.query_id, a.vec_id
       |  FROM probes pr JOIN assign a ON a.cell = pr.cell AND a.label = pr.qlabel),
       |ham AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(SUM(bit_count(xor(qw.word, cw.word))) AS INTEGER) AS hamming
       |  FROM cand c
       |  JOIN words qw ON qw.vec_id = c.query_id
       |  JOIN words cw ON cw.vec_id = c.vec_id AND cw.w = qw.w
       |  GROUP BY c.query_id, c.vec_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS ham_rank
       |    FROM ham)
       |  WHERE ham_rank <= $HamKeep)
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

  def annIvfbqTopKSql: String =
    s"""WITH cc AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |p AS (SELECT d, thr FROM read_parquet('$ThresholdsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |words AS (
       |  SELECT x.vec_id, CAST(x.d // $WordBits AS INTEGER) AS w,
       |    CAST(SUM(CASE WHEN x.v > p.thr
       |                  THEN CAST(1 AS BIGINT) << CAST(x.d % $WordBits AS INTEGER)
       |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS word
       |  FROM x JOIN p ON x.d = p.d
       |  GROUP BY x.vec_id, x.d // $WordBits),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS r
       |    FROM embeddings e CROSS JOIN cc)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, cc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS crnk
       |    FROM embeddings q CROSS JOIN cc WHERE q.vec_id < $NumQueries)
       |  WHERE crnk <= $NumProbes),
       |cand AS (
       |  SELECT pr.query_id, a.vec_id
       |  FROM probes pr JOIN assign a ON a.cell = pr.cell),
       |ham AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(SUM(bit_count(xor(qw.word, cw.word))) AS INTEGER) AS hamming
       |  FROM cand c
       |  JOIN words qw ON qw.vec_id = c.query_id
       |  JOIN words cw ON cw.vec_id = c.vec_id AND cw.w = qw.w
       |  GROUP BY c.query_id, c.vec_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS ham_rank
       |    FROM ham)
       |  WHERE ham_rank <= $HamKeep)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
       |      list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), s.vec_id) AS INTEGER) AS rnk
       |  FROM shortlist s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings q ON q.vec_id = s.query_id)
       |WHERE rnk <= $K""".stripMargin

  def annBqTopKSql: String =
    s"""WITH p AS (SELECT d, thr FROM read_parquet('$ThresholdsExportPath/*.parquet')),
       |x AS (SELECT vec_id,
       |        generate_subscripts(embedding, 1) - 1 AS d,
       |        CAST(unnest(embedding) AS DOUBLE) AS v
       |      FROM embeddings),
       |words AS (
       |  SELECT x.vec_id, CAST(x.d // $WordBits AS INTEGER) AS w,
       |    CAST(SUM(CASE WHEN x.v > p.thr
       |                  THEN CAST(1 AS BIGINT) << CAST(x.d % $WordBits AS INTEGER)
       |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS word
       |  FROM x JOIN p ON x.d = p.d
       |  GROUP BY x.vec_id, x.d // $WordBits),
       |ham AS (
       |  SELECT qw.vec_id AS query_id, cw.vec_id,
       |    CAST(SUM(bit_count(xor(qw.word, cw.word))) AS INTEGER) AS hamming
       |  FROM words qw JOIN words cw ON qw.w = cw.w
       |  WHERE qw.vec_id < $NumQueries
       |  GROUP BY qw.vec_id, cw.vec_id),
       |shortlist AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS ham_rank
       |    FROM ham)
       |  WHERE ham_rank <= $HamKeep)
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
