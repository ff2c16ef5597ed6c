package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.vec_cosine

/**
 * Large-scale dedup operators for training-data pipelines: exact
 * (content hash), MinHash+LSH, SimHash, n-gram Jaccard, and
 * embedding-cosine near-dup.
 *
 * All paths are declarative DataFrame plans:
 *  - signatures are map-only codegen'd expressions ([[SignatureExprs]])
 *    computed once per document behind an explicit materialization
 *    boundary;
 *  - candidate generation collects each band (or chunk) bucket once
 *    and expands its pairs map-side — no self-join. Hot buckets are
 *    dropped before they are collected, and the exact verify that
 *    follows keeps false positives out. That kernel, the verify tail,
 *    the merge drop policy and the staged pair report are shared with
 *    the semantic and multimodal families in [[DeltaMerge]];
 *  - exact-dup grouping runs first in a real pipeline to shrink input
 *    (SURVEY §4).
 *
 * The corpus in testdata has no duplicates, so the SparkEntry queries
 * plant deterministic near-dups (id + PlantOffset, every 60th token
 * mutated) inside the query itself — detection quality is asserted in
 * DedupTextSpec, result shape by the driver's oracle.
 */
object Dedup {

  val PlantOffset = 100000L

  // ---- oracle fixtures: exported signatures hash-anchor the banding chain ----

  /** Per-doc MinHash signatures of the planted demo corpus, exported so
    * DuckDB can replay band slicing -> hot-bucket guard -> candidate
    * join -> exact-Jaccard verify. The signature itself (XXH64 mins) is
    * the one genuinely non-SQL step — covered by KernelPropertySpec
    * (properties + fused/string-shingle parity) and DedupTextSpec
    * (planted-dup recall); everything downstream hash-checks. */
  val MinhashSigExportPath = graft.FixturePaths.fixture("minhash_sigs.parquet")

  /** Per-doc 64-bit SimHash of the planted demo corpus (same split:
    * XXH64-weighted bit votes are spec-checked, chunking/banding/
    * Hamming verify hash-check in DuckDB). */
  val SimhashSigExportPath = graft.FixturePaths.fixture("simhash_sigs.parquet")

  // fixture export once per JVM per corpus (bench reps must time the
  // pair plan, not the fixture write), re-exported on corpus change
  // (graft.FixtureExport)

  private[graft] def exportFixture(key: String, path: String)(df: => DataFrame): Unit =
    graft.FixtureExport.ensure(key, path) {
      df.coalesce(1).write.mode("overwrite").parquet(path)
    }

  // ---- tokenization / shingling (single-space split: engine-portable) ----

  def tokens(text: Column): Column = split(lower(text), " ")

  /** DuckDB twin of [[shingles]]: w=3 word shingles, whole-text
    * fallback below 3 tokens (without it a <3-token doc yields an empty
    * list and 0/0 = NaN Jaccard, which DuckDB orders ABOVE thresholds —
    * a phantom edge Spark's fallback never produces). Declared before
    * every SQL val that interpolates it (val init order). */
  private[graft] val shingleSetSql: String =
    """CASE WHEN len(toks) >= 3 THEN
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** Word w-shingles as strings (whole text as one shingle when
    * shorter than w), built by zipping w shifted slices of the token
    * array: each slice evaluates ONCE. The transform-over-positions
    * form this replaces embedded `toks` in the lambda body, so the
    * whole upstream split re-evaluated per element — O(tokens²)
    * string work per document (measured 2-4× on the shingle ops). */
  def shingles(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(arrays_zip(shiftedSlices(toks, w): _*),
        z => concat_ws(" ", (0 until w).map(j => z.getField(s"w$j")): _*)))
      .otherwise(array(concat_ws(" ", toks)))

  /** The w shifted length-(n-w+1) slices whose positional zip yields
    * all sliding windows. */
  private def shiftedSlices(toks: Column, w: Int): Seq[Column] =
    (0 until w).map(j => slice(toks, lit(j + 1), size(toks) - w + 1).as(s"w$j"))

  /**
   * Drop every row of a bucket larger than `maxBucket` — the hot-bucket
   * guard of all pair kernels — via ONE partial-agg count plus a
   * left-anti join against the (usually tiny, typically empty)
   * over-cap bucket list. Row-identical to the previous
   * `count().over(Window.partitionBy(keys))`+filter form, but r16
   * profiling showed WindowExec paying per-GROUP setup over the very
   * many tiny buckets this data shape produces (~5.5 s CPU per
   * evaluation on an 80k-row band table at sf0.1 — and the guard
   * subtree evaluates once per self-join side), where the hash
   * aggregate is map-side partial and the anti build side is bounded
   * by rows/maxBucket. Also removes the window's required sort
   * (guide §2.4).
   */
  private[graft] def dropHotBuckets(df: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucket)
      .select(keys.map(col): _*)
    df.join(hot, keys, "left_anti")
  }

  // ---- MinHash + LSH banding ----

  /**
   * MinHash signatures, map-only: one codegen'd [[MinHashShingleSig]]
   * pass per document — shingles are hashed straight off the token
   * array (no shingle strings, no explode, no shuffle; SignatureExprs
   * scaladoc).
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int, shingleWidth: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      SignatureExprs.minhash_shingle_sig(
        tokens(col(textCol)), shingleWidth, numPerms).as("sig"))

  /**
   * `dedup_minhash_tune`: the analytic (bands, rowsPerBand) planner
   * behind [[minhashPairs]]'s 16x4 default — for every factorization
   * b*r = numPerms, the LSH S-curve quantities (Leskovec/Rajaraman/
   * Ullman ch.3): `curve_threshold` = (1/b)^(1/r), the similarity
   * where collision probability crosses ~50%; `p_catch` = collision
   * probability 1-(1-s^r)^b AT the target Jaccard threshold;
   * `p_fp` = the same curve 0.1 BELOW target (band-join work wasted
   * on sub-threshold pairs — each costs an exact-Jaccard verify);
   * `p_fn` = (1-s^r)^b at 0.1 ABOVE target (true near-dups the bands
   * never collide — unrecoverable, unlike false positives). `selected`
   * marks the factorization whose curve threshold lands nearest the
   * target: for 64 perms at 0.5 that is 16 bands x 4 rows — the
   * planner derives the library default rather than asserting it.
   *
   * Data-independent (a planning table, not a corpus scan), so the
   * cross-engine float story is static: both engines evaluate the
   * same pow/floor chain over the same 7 literal rows, verified
   * bit-exact once at the gate = verified forever.
   */
  def minhashTune(spark: SparkSession, sfDir: String): DataFrame = {
    val _ = sfDir // analytic planner: no corpus input
    val H = 64
    val t = 0.5
    import spark.implicits._
    def f4(c: Column): Column = floor(c * 10000) / 10000
    def pAt(s: Double): Column =
      lit(1.0) - pow(lit(1.0) - pow(lit(s), col("r").cast("double")),
        col("b").cast("double"))
    val rows = (1 to H).filter(H % _ == 0).map(b => (b, H / b))
    val curved = rows.toDF("b", "r").select(col("b"), col("r"),
      f4(pow(lit(1.0) / col("b").cast("double"),
        lit(1.0) / col("r").cast("double"))).as("curve_threshold"),
      f4(pAt(t)).as("p_catch"),
      // 0.4/0.6 as EXPLICIT literals: `t - 0.1` computes a different
      // double than the SQL text '0.4' parses to (0.5 + 0.1 is
      // famously 0.6000000000000001) — the bases must be bit-equal
      // across engines before pow ever runs
      f4(pAt(0.4)).as("p_fp"),
      f4(pow(lit(1.0) - pow(lit(0.6), col("r").cast("double")),
        col("b").cast("double"))).as("p_fn"))
    // selection on the ROUNDED curve (engine-stable), 7-row window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(abs(col("curve_threshold") - lit(t)), col("b"))
    curved.withColumn("selected", (row_number().over(w) === 1).cast("int"))
  }

  def minhashTuneSql: String = {
    val H = 64
    val rows = (1 to H).filter(H % _ == 0).map(b => s"($b, ${H / b})").mkString(", ")
    s"""WITH g AS (SELECT * FROM (VALUES $rows) AS v(b, r)),
       |c AS (SELECT b, r,
       |  FLOOR(POWER(CAST(1.0 AS DOUBLE) / b, CAST(1.0 AS DOUBLE) / r) * 10000) / 10000 AS curve_threshold,
       |  FLOOR((1 - POWER(1 - POWER(CAST(0.5 AS DOUBLE), r), b)) * 10000) / 10000 AS p_catch,
       |  FLOOR((1 - POWER(1 - POWER(CAST(0.4 AS DOUBLE), r), b)) * 10000) / 10000 AS p_fp,
       |  FLOOR(POWER(1 - POWER(CAST(0.6 AS DOUBLE), r), b) * 10000) / 10000 AS p_fn
       |  FROM g)
       |SELECT b, r, curve_threshold, p_catch, p_fp, p_fn,
       |  CAST(ROW_NUMBER() OVER (ORDER BY ABS(curve_threshold - 0.5), b) = 1 AS INTEGER) AS selected
       |FROM c""".stripMargin
  }

  /** (id, band, band_hash) — bands of `rowsPerBand` signature slots;
    * every other column of `sigs` but `sig` rides along (the delta
    * tag of the pair kernel). */
  def minhashBands(sigs: DataFrame, numPerms: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = (0 until numPerms / rowsPerBand).map { b =>
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }
    sigs.select(sigs.columns.filter(_ != "sig").map(col) :+
      posexplode(array(bandHashes: _*)).as(Seq("band", "band_hash")): _*)
  }

  /**
   * Candidate pairs (a < b) sharing >= 1 band, verified with exact
   * shingle Jaccard. Buckets larger than `maxBucket` are dropped
   * before pairing: a bucket of b docs yields O(b^2) candidate pairs,
   * and at corpus scale a degenerate bucket (boilerplate, empty docs)
   * would otherwise dominate the join; near-dups lost this way still
   * collide in their other 15 bands. The full run is the
   * [[minhashPairsDelta]] kernel with every document delta (an empty
   * resident base — the optimizer drops its union branch).
   */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int = 64, rowsPerBand: Int = 4, shingleWidth: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    minhashPairsDelta(minhashSignatures(docs.limit(0), idCol, textCol, numPerms, shingleWidth),
        docs, docs, idCol, textCol, numPerms, rowsPerBand, shingleWidth, threshold, maxBucket)
      .select(col("a"), col("b"), col("jaccard"))

  /**
   * DELTA near-dedup for corpus merges — the batch twin of the index
   * side's staged/delta discipline ([[graft.index.IndexMaintenance]])
   * and the streaming gate's arrival-time semantics
   * ([[graft.streaming.StreamingNearDup]]): merging a new crawl into
   * an already-deduped base must NOT re-pair the whole corpus.
   *
   * `baseSigs` is the RESIDENT signature table (id, sig) — on disk in
   * production, written once when the base was deduped; only the
   * delta docs are signed here (one map-only pass over the crawl).
   * Candidates are the two delta-touching legs, delta×base and
   * delta×delta, from ONE collect per bucket over base∪delta: the
   * hot-bucket guard counts exactly the statistics the full run would
   * see, so the delta output equals the full-corpus [[minhashPairs]]
   * restricted to delta-touching pairs (DedupTextSpec asserts that
   * equality across several splits). Exact-Jaccard verify fetches
   * text only for candidate ids, same as the full path. `leg` labels
   * each surviving pair `delta_base` or `delta_delta` — the merge
   * report a pipeline owner acts on (drop the copy vs pick a keeper
   * inside the new crawl).
   *
   * PRECONDITION: `deltaDocs` must carry UNIQUE ids, disjoint from the
   * resident base's (one row per doc — every registry caller passes a
   * keyed crawl). Signatures are one row per input row and delta
   * membership rides the union's provenance tag, so a duplicated id
   * would duplicate bucket entries (folded by the candidate distinct)
   * and an id on BOTH sides would be treated as two distinct docs;
   * same contract as [[graft.dedup.SemDedup.semanticPairsDelta]].
   */
  def minhashPairsDelta(baseSigs: DataFrame, deltaDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      numPerms: Int = 64, rowsPerBand: Int = 4, shingleWidth: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    // materialize: the signature expression must run once per doc, not
    // once per band hash (projection collapse would inline it 16x). At
    // 100 TB this is a persisted signature table; here an in-memory
    // cache marks the same boundary. The spread unblocks map
    // parallelism on few-split sources (no-op at scale,
    // LshIndex.spread scaladoc).
    val deltaSigs = minhashSignatures(graft.index.LshIndex.spread(deltaDocs),
      idCol, textCol, numPerms, shingleWidth).cache()
    // delta membership rides the UNION's provenance as a 0/1 tag — the
    // base/delta sides are disjoint id sets by the resident-base
    // contract, so no id join is needed anywhere downstream
    val tagged = baseSigs.select(col("id"), col("sig"), lit(0).as("d"))
      .unionByName(deltaSigs.select(col("id"), col("sig"), lit(1).as("d")))
    val cands = DeltaMerge.bucketCandidates(minhashBands(tagged, numPerms, rowsPerBand),
      Seq("band", "band_hash"), Seq("d"), maxBucket, (x, y) => x("d") === 1 || y("d") === 1)
    // the semi-join runs BELOW the shingle projection by construction,
    // so re-tokenization tracks candidates, not documents
    val fetchSets = (ids: DataFrame) => graft.index.LshIndex.spread(
        corpus.select(col(idCol).as("id"), col(textCol).as("__text")))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"), array_distinct(shingles(tokens(col("__text")), shingleWidth)).as("v"))
    DeltaMerge.verifiedPairs(cands, fetchSets,
      (a, b) => size(array_intersect(a, b)).cast("double") / size(array_union(a, b)),
      _ >= threshold, j => (floor(j * 10000) / 10000).as("jaccard"), Seq(deltaSigs))
  }

  // ---- SimHash ----

  /**
   * 64-bit SimHash per doc, map-only via the codegen'd fused
   * [[SimHashShingleSig]] expression. Features are word 3-shingles, not unigrams: on
   * small-vocabulary corpora every document shares nearly the whole
   * token set, which collapses unigram SimHashes onto a few values;
   * shingles keep word order in the feature set and stay discriminative.
   */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      SignatureExprs.simhash_shingles(tokens(col(textCol)), 3).as("simhash"))

  /**
   * Near-dup pairs with Hamming(simhash) <= maxHamming, banded into
   * (maxHamming + 1) chunks (pigeonhole: <= maxHamming differing bits
   * leaves >= 1 chunk equal). Default 8 chunks of 8 bits / Hamming <= 7.
   *
   * Chunk buckets larger than `maxBucket` are dropped before pairing
   * (same guard as [[minhashPairs]]): short/degenerate docs collapse
   * onto few simhash values, and one hot (chunk, chunk_val) bucket of
   * b docs would otherwise yield O(b^2) join rows. Pigeonhole gives a
   * true near-dup pair (maxHamming + 1) chances to collide, so a
   * dropped hot chunk rarely loses it — and wholly-identical docs
   * belong to the exact-dedup pre-pass, not here.
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, maxBucket: Int = 1000): DataFrame = {
    val nChunks = maxHamming + 1
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    // same materialization boundary as minhashPairs: one SimHash64
    // eval per doc, shared across chunk projections; candidates via
    // the [[DeltaMerge.bucketCandidates]] kernel — simhash values ride
    // the bucket structs so the Hamming verify needs no extra join
    val sigs = simhash(graft.index.LshIndex.spread(docs), idCol, textCol).cache()
    val chunks = sigs.select(col("id"), col("simhash").as("s"),
      posexplode(array((0 until nChunks).map(c =>
        shiftrightunsigned(col("simhash"), c * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "chunk_val")))
    val result = DeltaMerge.bucketCandidates(chunks, Seq("chunk", "chunk_val"),
        Seq("s"), maxBucket, (_, _) => lit(true))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .cache()
    result.count() // materialize, then release intermediates
    sigs.unpersist()
    result
  }

  // ---- planted near-dup corpus (used by the SparkEntry queries) ----

  /** `text` with every 60th token replaced (the planted near-dup mutation). */
  private[graft] def mutatedText(text: Column): Column =
    concat_ws(" ", transform(tokens(text),
      (t, i) => when(i % 60 === 0, lit("xqzmut")).otherwise(t)))

  /** Docs with doc_id < `nPlanted` copied at id+PlantOffset with every 60th token mutated. */
  def withPlantedNearDups(docs: DataFrame, nPlanted: Int, mutate: Boolean): DataFrame = {
    val mutated = if (mutate) mutatedText(col("text")) else col("text")
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < nPlanted)
        .select((col("doc_id") + PlantOffset).as("doc_id"), mutated.as("text")))
  }

  // ---- SparkEntry queries ----

  /** Exact dedup by sha256(text): keeper id + copy count per content group. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    withPlantedNearDups(Tables.documents(spark, sfDir), 30, mutate = false)
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")

  val dedupExactSql: String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset, text FROM documents WHERE doc_id < 30)
       |SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
       |FROM all_docs GROUP BY sha256(text)""".stripMargin

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(signedCorpus(spark, sfDir), "doc_id", "text")

  /** The planted minhash demo corpus, with its signature fixture
    * exported (once per JVM per corpus). */
  private def signedCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true)
    exportFixture(s"minhash:$sfDir", MinhashSigExportPath) {
      minhashSignatures(corpus, "doc_id", "text", numPerms = 64, shingleWidth = 3)
    }
    corpus
  }

  /** Delta split for the demo merge: the planted recrawl copies plus
    * every 11th original form the NEW crawl (so delta×base pairs —
    * copy vs original — AND delta×delta pairs — originals whose copy
    * is also new, i ≡ 0 mod 11 — both occur); the rest is the
    * already-deduped resident base. */
  private[graft] def deltaSplit(id: Column): Column =
    graft.Carves.deltaSplit(id, PlantOffset)

  /** The staged copy of the delta pair report — what `_apply`/`_compact`
    * staged twins route off instead of re-running the chain (the
    * corpus_merge staged-diff discipline brought to the dedup
    * trilogy). */
  val MinhashDeltaPairsExportPath =
    graft.FixturePaths.fixture("minhash_delta_pairs.parquet")

  /** `dedup_minhash_delta`: merge-time near-dedup of a new crawl
    * against the resident base signature table — the signatures are
    * READ BACK from the exported store (never recomputed for base
    * docs) and only delta docs are signed ([[minhashPairsDelta]]).
    * Output = the delta-touching pair report with its
    * `leg` label; equals [[dedupMinhash]] restricted to delta-touching
    * pairs by construction (spec-checked across splits). */
  def dedupMinhashDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = signedCorpus(spark, sfDir)
    val baseSigs = spark.read.parquet(MinhashSigExportPath)
      .filter(!deltaSplit(col("id")))
    val delta = corpus.filter(deltaSplit(col("doc_id")))
    // stage the (already materialized) pair report ONCE per JVM: the
    // write is pair-report-sized, and it is what lets the staged
    // apply/compact twins price a merge's real marginal cost
    MinhashReport.stage(sfDir,
      minhashPairsDelta(baseSigs, delta, corpus, "doc_id", "text"))
  }

  private val MinhashReport = new DeltaMerge.PairReport("minhash-delta-pairs",
    MinhashDeltaPairsExportPath, dedupMinhashDelta)

  /** Oracle: the [[dedupMinhashSql]] chain restricted to delta-touching
    * candidate pairs, with the same signature fixture as the resident
    * table and the leg label replayed from the split predicate. */
  /** The delta band-join chain as shared CTEs (through `pairs`), so
    * the pair-report and apply oracles replay ONE chain and cannot
    * drift — the curate funnel-CTE discipline. */
  private def deltaChainCtes: String =
    s"""${mutatedCorpusSql(25)},
       |sigs AS (SELECT id, sig FROM read_parquet('$MinhashSigExportPath/*.parquet')),
       |d AS (SELECT id FROM sigs WHERE ${graft.Carves.deltaSplitSql("id", PlantOffset)}),
       |bands AS (
       |  SELECT id, t.band AS band, sig[t.band*4+1:t.band*4+4] AS bh
       |  FROM sigs, generate_series(0, 15) t(band)),
       |guarded AS (
       |  SELECT id, band, bh FROM bands
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= 1000),
       |cands AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM guarded x JOIN guarded y
       |    ON x.band = y.band AND x.bh = y.bh AND x.id < y.id
       |  WHERE x.id IN (SELECT id FROM d) OR y.id IN (SELECT id FROM d)),
       |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
       |sets AS (SELECT doc_id, $shingleSetSql AS sh FROM tok),
       |verify AS (
       |  SELECT c.a, c.b,
       |    CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(xa.sh, xb.sh))) AS j
       |  FROM cands c
       |  JOIN sets xa ON xa.doc_id = c.a
       |  JOIN sets xb ON xb.doc_id = c.b),
       |pairs AS (
       |  SELECT a, b, FLOOR(j * 10000) / 10000 AS jaccard,
       |    CASE WHEN a IN (SELECT id FROM d) AND b IN (SELECT id FROM d)
       |         THEN 'delta_delta' ELSE 'delta_base' END AS leg
       |  FROM verify WHERE j >= 0.5)""".stripMargin

  val dedupMinhashDeltaSql: String =
    s"""WITH $deltaChainCtes
       |SELECT a, b, jaccard, leg FROM pairs""".stripMargin

  /** `dedup_minhash_delta_apply`: the merge VERDICT — which delta
    * docs actually enter the corpus. Base always wins (a delta doc
    * matching any resident doc drops — the batch analogue of
    * [[graft.streaming.StreamingNearDup]]'s arrival gate), and inside
    * the new crawl the lowest id wins (the pairwise-greedy form of
    * [[dedupApply]]'s cluster keeper, right for the merge because
    * every pair already carries its verify). The base is NEVER
    * re-filtered: only delta docs are admitted or dropped, so the
    * entry's output is delta-sized. */
  def dedupMinhashDeltaApply(spark: SparkSession, sfDir: String): DataFrame =
    minhashApplyFrom(spark, sfDir, dedupMinhashDelta(spark, sfDir))

  /** `dedup_minhash_apply_staged`: the SAME merge verdict routed off
    * the STAGED pair report instead of re-running the
    * sign→band→verify chain — what a pipeline pays per merge once the
    * delta pass has run; the in-plan form stays as the recompute
    * cross-check (spec-asserted verdict-identical). */
  def dedupMinhashApplyStaged(spark: SparkSession, sfDir: String): DataFrame =
    minhashApplyFrom(spark, sfDir, MinhashReport.staged(spark, sfDir))

  /** The merge verdict over either pair source: the delta slice
    * anti-joined against the pair-bounded (broadcast) drop set. */
  private def minhashApplyFrom(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true)
    corpus.filter(deltaSplit(col("doc_id")))
      .join(broadcast(DeltaMerge.drops(pairs, deltaSplit, "doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
  }

  /** Oracle: the identical drop policy over the STAGED pair parquet —
    * no chain CTEs at all (that absence IS the point). */
  def dedupMinhashApplyStagedSql: String =
    s"""WITH ${mutatedCorpusSql(25)},
       |pairs AS (SELECT a, b, leg FROM read_parquet('$MinhashDeltaPairsExportPath/*.parquet')),
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN ${graft.Carves.deltaSplitSql("a", PlantOffset)} THEN a
       |                       ELSE b END AS id
       |  FROM pairs)
       |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
       |FROM corpus
       |WHERE (${graft.Carves.deltaSplitSql("doc_id", PlantOffset)})
       |  AND doc_id NOT IN (SELECT id FROM drops)""".stripMargin

  val dedupMinhashDeltaApplySql: String =
    s"""WITH $deltaChainCtes,
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN a IN (SELECT id FROM d) THEN a
       |                       ELSE b END AS id
       |  FROM pairs)
       |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars
       |FROM corpus
       |WHERE doc_id IN (SELECT id FROM d)
       |  AND doc_id NOT IN (SELECT id FROM drops)""".stripMargin

  /** `dedup_minhash_compact`: the COMPACT step completing the
    * staged/delta/compact discipline for dedup — the exact twin of
    * [[graft.index.IndexMaintenance.compact]] on the index side.
    * After the merge verdict ([[dedupMinhashDeltaApply]]) admits a
    * subset of the new crawl, their signatures fold into the resident
    * base table so the NEXT merge probes one table again: base rows
    * ride untouched from the resident store (never re-signed — at
    * 100 TB that is the whole point), admitted delta rows carry the
    * signatures the delta pass already computed. Dropped delta docs
    * never enter; removed-from-corpus cleanup is the
    * [[graft.operators.CorpusDiff]] `removed` feed, same as index
    * deletion.
    *
    * Output unnests to (id, slot, v) so the bit-strict gate checks
    * every 64-bit signature word. The oracle reads the fresh-signing
    * FIXTURE (the ground truth the resident table was built from)
    * restricted to base ∪ admitted ids — equality proves compacted ==
    * fresh full signing of the merged corpus, the invariant
    * [[graft.index.IndexMaintenance]]'s compact spec states
    * bit-for-bit. DedupTextSpec asserts the same in-engine.
    */
  def dedupMinhashCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true)
    // also ensures the fixture export
    val drops = DeltaMerge.drops(dedupMinhashDelta(spark, sfDir), deltaSplit, "id")
    val baseSigs = spark.read.parquet(MinhashSigExportPath)
      .filter(!deltaSplit(col("id")))
      .select(col("id"), col("sig"))
    // delta docs are signed fresh (the delta pass's map-only signing),
    // NOT read back from the fixture — so the oracle equality is a
    // real recompute check, not a parquet roundtrip
    val admittedSigs = minhashSignatures(
        graft.index.LshIndex.spread(corpus.filter(deltaSplit(col("doc_id")))),
        "doc_id", "text", numPerms = 64, shingleWidth = 3)
      .join(drops, Seq("id"), "left_anti")
    baseSigs.unionByName(admittedSigs)
      .select(col("id"), posexplode(col("sig")).as(Seq("slot", "v")))
  }

  val dedupMinhashCompactSql: String =
    s"""WITH $deltaChainCtes,
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN a IN (SELECT id FROM d) THEN a
       |                       ELSE b END AS id
       |  FROM pairs),
       |kept AS (
       |  SELECT id, sig FROM sigs
       |  WHERE id NOT IN (SELECT id FROM d)
       |     OR (id IN (SELECT id FROM d) AND id NOT IN (SELECT id FROM drops)))
       |SELECT id, CAST(t.i AS INTEGER) AS slot, sig[t.i + 1] AS v
       |FROM kept, generate_series(0, 63) t(i)""".stripMargin

  /**
   * `dedup_minhash_compact_staged`: fold the admitted delta into the
   * resident signature table off the STAGED artifacts — drops from
   * the staged pair report, admitted signatures carried from the
   * resident store the delta pass already wrote (in production the
   * delta pass stages its signatures; re-signing admitted docs is the
   * in-plan [[dedupMinhashCompact]]'s deliberate recompute
   * cross-check, not a cost a pipeline pays). Spec-asserted
   * bit-identical to the in-plan form. Scale posture: one signature
   * scan minus a broadcast pair-bounded drop set — zero text passes.
   */
  def dedupMinhashCompactStaged(spark: SparkSession, sfDir: String): DataFrame = {
    val drops = DeltaMerge.drops(MinhashReport.staged(spark, sfDir), deltaSplit, "id")
    // drops ⊆ delta ids by the policy, so all-minus-drops = base ∪ admitted
    spark.read.parquet(MinhashSigExportPath)
      .join(broadcast(drops), Seq("id"), "left_anti")
      .select(col("id"), posexplode(col("sig")).as(Seq("slot", "v")))
  }

  /** Oracle: the signature fixture minus the staged drop set. */
  def dedupMinhashCompactStagedSql: String =
    s"""WITH sigs AS (SELECT id, sig FROM read_parquet('$MinhashSigExportPath/*.parquet')),
       |pairs AS (SELECT a, b, leg FROM read_parquet('$MinhashDeltaPairsExportPath/*.parquet')),
       |drops AS (
       |  SELECT DISTINCT CASE WHEN leg = 'delta_delta' THEN b
       |                       WHEN ${graft.Carves.deltaSplitSql("a", PlantOffset)} THEN a
       |                       ELSE b END AS id
       |  FROM pairs)
       |SELECT id, CAST(t.i AS INTEGER) AS slot, sig[t.i + 1] AS v
       |FROM sigs, generate_series(0, 63) t(i)
       |WHERE id NOT IN (SELECT id FROM drops)""".stripMargin

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true)
    exportFixture(s"simhash:$sfDir", SimhashSigExportPath) {
      simhash(corpus, "doc_id", "text")
    }
    simhashPairs(corpus, "doc_id", "text")
  }

  /** The planted demo corpus (mutate=true) as a DuckDB CTE body. */
  private[graft] def mutatedCorpusSql(nPlanted: Int): String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset,
       |    array_to_string(list_transform(string_split(lower(text), ' '),
       |      (t, i) -> CASE WHEN (i - 1) % 60 = 0 THEN 'xqzmut' ELSE t END), ' ')
       |  FROM documents WHERE doc_id < $nPlanted)""".stripMargin

  /**
   * Full-chain oracle for [[dedupMinhash]] from the exported signature
   * fixture: bands are SIGNATURE SLICES (Spark buckets on
   * xxhash64(slice); slice equality is the same relation modulo a
   * 64-bit hash collision, which would only surface as a dropped
   * hot-bucket count diverging — vanishingly unlikely and loud), the
   * hot-bucket guard is the same count-over-(band, slice), and the
   * verify recomputes exact shingle Jaccard from the corpus text.
   * Constants mirror [[minhashPairs]] defaults: 64 perms / 4 rows per
   * band = 16 bands, maxBucket 1000, threshold 0.5.
   */
  val dedupMinhashSql: String =
    s"""WITH ${mutatedCorpusSql(25)},
       |sigs AS (SELECT id, sig FROM read_parquet('$MinhashSigExportPath/*.parquet')),
       |bands AS (
       |  SELECT id, t.band AS band, sig[t.band*4+1:t.band*4+4] AS bh
       |  FROM sigs, generate_series(0, 15) t(band)),
       |guarded AS (
       |  SELECT id, band, bh FROM bands
       |  QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= 1000),
       |cands AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b
       |  FROM guarded x JOIN guarded y
       |    ON x.band = y.band AND x.bh = y.bh AND x.id < y.id),
       |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
       |sets AS (SELECT doc_id, $shingleSetSql AS sh FROM tok),
       |verify AS (
       |  SELECT c.a, c.b,
       |    CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE) /
       |      len(list_distinct(list_concat(xa.sh, xb.sh))) AS j
       |  FROM cands c
       |  JOIN sets xa ON xa.doc_id = c.a
       |  JOIN sets xb ON xb.doc_id = c.b)
       |SELECT a, b, FLOOR(j * 10000) / 10000 AS jaccard
       |FROM verify WHERE j >= 0.5""".stripMargin

  /**
   * Full-chain oracle for [[dedupSimhash]] from the exported SimHash
   * fixture: 8 chunks of 8 bits ((sig >> 8c) & 255 — the mask strips
   * shift-fill bits, so arithmetic vs logical shift is immaterial),
   * hot-bucket guard, candidate join, Hamming <= 7 via
   * bit_count(xor). Constants mirror [[simhashPairs]] defaults.
   */
  val dedupSimhashSql: String =
    s"""WITH sigs AS (SELECT id, simhash FROM read_parquet('$SimhashSigExportPath/*.parquet')),
       |chunks AS (
       |  SELECT id, simhash, t.c AS chunk, (simhash >> (t.c*8)) & 255 AS cv
       |  FROM sigs, generate_series(0, 7) t(c)),
       |guarded AS (
       |  SELECT id, simhash, chunk, cv FROM chunks
       |  QUALIFY COUNT(*) OVER (PARTITION BY chunk, cv) <= 1000),
       |pairs AS (
       |  SELECT DISTINCT x.id AS a, y.id AS b, x.simhash AS sa, y.simhash AS sb
       |  FROM guarded x JOIN guarded y
       |    ON x.chunk = y.chunk AND x.cv = y.cv AND x.id < y.id)
       |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= 7""".stripMargin

  /** Exact n-gram Jaccard for all pairs among doc_id < 40 (SQL-checkable).
    * Ratio floor-truncated: int/int quotients can land on dyadic
    * half-ties where engine ROUNDs disagree (SURVEY §5). */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select(col("doc_id"), array_distinct(shingles(tokens(col("text")), 3)).as("sh"))
    sets.as("x").join(sets.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (floor(size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh"))) * 10000) / 10000).as("jaccard"))
  }

  val ngramJaccardSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS toks
       |  FROM documents WHERE doc_id < 40),
       |sets AS (SELECT doc_id, $shingleSetSql AS sh FROM tok)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  FLOOR(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |        len(list_distinct(list_concat(x.sh, y.sh))) * 10000) / 10000 AS jaccard
       |FROM sets x JOIN sets y ON x.doc_id < y.doc_id""".stripMargin

  // ---- embedding near-dup: IVF co-probe bucketing (no all-pairs) ----

  val NeardupCells: Int = graft.config.GraftConfig.active.neardup.cells
  val NeardupProbes: Int = graft.config.GraftConfig.active.neardup.probes

  /**
   * (vec_id, cell) — each vector's `nProbe` nearest IVF cells, map-only
   * ([[graft.query.IvfSearch.probeCellsRanked]] without the rank): the
   * centroid table rides along as a literal, so probe assignment costs
   * zero shuffle and zero join — one pass over the corpus emitting
   * nProbe rows per vector. (The literal is C x dim floats; for the
   * √N-scaled C of a 1e9 corpus that is a few MB — still a
   * task-constant.)
   */
  def probeCells(data: DataFrame, cents: Array[Array[Float]], nProbe: Int): DataFrame =
    graft.query.IvfSearch.probeCellsRanked(data, cents, nProbe)
      .select(col("query_id").as("vec_id"), col("cell"))

  /** The lazy plan behind [[neardupPairs]] (kept separate so specs can
    * assert its shape — no cartesian — before caching hides it).
    * Cells larger than `maxCell` drop before pairing (dedup's
    * `maxBucket` posture: a degenerate hot cell — near-identical
    * boilerplate embeddings — would contribute O(cell^2) join rows;
    * with `nProbe` probes per vector a pair dropped with one hot cell
    * still collides in any other shared cell). The drop is
    * [[dropHotBuckets]] on `cell` (r16 — was a count window). */
  private[graft] def neardupPlan(e: DataFrame, probes: DataFrame, topN: Int,
      maxCell: Int = graft.config.GraftConfig.active.neardup.maxCell): DataFrame = {
    val guarded = dropHotBuckets(probes, Seq("cell"), maxCell)
    val cands = guarded.as("x").join(guarded.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cands
      .join(e.select(col("vec_id").as("a"), col("embedding").as("va")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")), Seq("b"))
      .select(col("a"), col("b"), round(vec_cosine(col("va"), col("vb")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("a"), col("b"))
      .limit(topN)
  }

  /**
   * Top-`topN` cosine pairs among IVF co-probe candidates: two vectors
   * are a candidate pair iff they share >= 1 of their `nProbe` nearest
   * cells; exact cosine runs only inside buckets. The self-join on
   * `cell` is the only shuffle that grows with the corpus — candidate
   * volume ~ N^2 * nProbe^2 / (2C), so C (config-sized, see
   * `IvfSearch.scaledCells`) sets the quadratic-shrink factor; there
   * is no cross/cartesian anywhere in the plan.
   *
   * DedupTextSpec plants a true near-dup (cosine ~1) and asserts the
   * bucketed path surfaces it at rank 1 even with coarse cells; the
   * driver's DuckDB oracle checks exact parity with the all-pairs
   * top-20 at the test scales (verified empirically: every top-40 pair
   * co-probes at C=16, nProbe=4 on the sf0.001/0.01/0.1 embeddings, so
   * the bucketed top-20 — including the rounded-cosine tie group at
   * the sf0.1 cutoff — is identical to the exhaustive one).
   */
  def neardupPairs(data: DataFrame, cents: Array[Array[Float]],
      nProbe: Int, topN: Int, cacheSource: Boolean = false): DataFrame = {
    // `cacheSource` caches the source projection, which feeds the probe
    // pass AND both exact-verify endpoint joins — for callers whose
    // embedding column is a COMPUTED projection (multimodal_neardup's
    // sha256 stub features) leaving it uncached evaluates the
    // corpus-sized embed pass three times per run (guide §1.2). For
    // plain parquet readers (neardup_embedding) the re-scan is cheaper
    // than the cache fill — r15 measured the unconditional cache as
    // that entry's only touched-path regression (×0.87) — so the
    // default is off and only computed-source callers opt in.
    val src = data.select(col("vec_id"), col("embedding"))
    val e = if (cacheSource) src.cache() else src
    // materialization boundary: one probe-assignment pass per vector,
    // shared by both self-join sides (projection collapse would inline
    // the C-centroid scan into each side)
    val probes = probeCells(graft.index.LshIndex.spread(e), cents, nProbe).cache()
    val result = neardupPlan(e, probes, topN).cache()
    result.count() // materialize the (tiny) top list, then release the probe table
    probes.unpersist()
    if (cacheSource) e.unpersist()
    result
  }

  // ---- near-dup clusters: pairs -> dedup decisions ----

  /**
   * Connected components over a near-dup pair graph by iterative
   * min-label propagation: each iteration joins labels across the
   * symmetric edge list and keeps the per-vertex minimum — the
   * standard Spark CC shape (two equi-joins + a partial-agg min per
   * round, all shuffle-partitioned by vertex id; no driver-side graph).
   * Iterations are bounded by component DIAMETER, which for near-dup
   * clusters is tiny (a dup cluster is near-clique); `maxIters` is a
   * convergence backstop, not a budget that real data approaches.
   *
   * This is the step that turns pair lists (minhash/simhash/embedding
   * candidates) into dedup DECISIONS: every doc gets its component's
   * minimum id as `keeper`, exactly the keep-lowest-id policy of
   * [[dedupExact]] extended transitively to near-dups.
   */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      maxIters: Int = 25): DataFrame = {
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    var labels = vertices.select(col("id"), col("id").as("keeper")).cache()
    // convergence check: labels only ever DECREASE (least), so the
    // label sum strictly drops iff any vertex changed — one aggregate
    // per round instead of a join-and-count against the previous state
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("keeper").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty vertex set
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("keeper")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("keeper").as("nkeeper"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("keeper"), coalesce(col("nkeeper"), col("keeper"))).as("keeper"))
        .cache()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels.unpersist()
      labels = next
      iter += 1
    }
    sym.unpersist()
    // partial labels masquerading as components would silently corrupt
    // every downstream keeper — fail loudly instead (raise maxIters for
    // pathological >maxIters-diameter graphs)
    require(converged,
      s"connected components did not converge within $maxIters iterations")
    // the returned (id, keeper) frame IS the final cached label table:
    // callers can (and should) .unpersist() it once consumed
    labels
  }

  /**
   * Dedup cluster assignment over a deterministic, SQL-reproducible
   * edge set: docs < 40 plus TWO planted variants each for doc_id < 10
   * (so components span >= 3 nodes), edges = exact 3-shingle Jaccard
   * >= threshold. Output: every doc with its component keeper and the
   * cluster size — the table a pipeline actually filters on.
   */
  /** The deterministic cluster demo corpus: docs < 40 plus two planted
    * variants each for doc_id < 10 (components span >= 3 nodes). */
  private def clusterCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))
    base
      .unionByName(base.filter(col("doc_id") < 10)
        .select((col("doc_id") + PlantOffset).as("doc_id"), mutatedText(col("text")).as("text")))
      .unionByName(base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 2 * PlantOffset).as("doc_id"), col("text")))
  }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = clusterCorpus(spark, sfDir)
    val sets = corpus.select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), 3)).as("sh"))
    val edges = sets.as("x").join(sets.as("y"), col("x.doc_id") < col("y.doc_id"))
      .filter(size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
        size(array_union(col("x.sh"), col("y.sh"))) >= 0.5)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val cc = connectedComponents(edges, corpus.select(col("doc_id").as("id")))
    val sizes = cc.groupBy("keeper").agg(count(lit(1)).as("n_cluster"))
    val out = cc.join(sizes, Seq("keeper"))
      .select(col("id").as("doc_id"), col("keeper"), col("n_cluster"))
      .cache()
    out.count() // materialize the (tiny) cluster table, release the label cache
    cc.unpersist()
    out
  }

  /** Shared recursive-CTE prefix: demo corpus -> exact-Jaccard edges ->
    * transitive closure -> per-vertex min-label components. */
  private val clustersCte: String =
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 40
       |  UNION ALL
       |  SELECT doc_id + $PlantOffset,
       |    array_to_string(list_transform(string_split(lower(text), ' '),
       |      (t, i) -> CASE WHEN (i - 1) % 60 = 0 THEN 'xqzmut' ELSE t END), ' ')
       |  FROM documents WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id + ${2 * PlantOffset}, text FROM documents WHERE doc_id < 10),
       |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
       |sets AS (SELECT doc_id, $shingleSetSql AS sh FROM tok),
       |edges AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b FROM sets x JOIN sets y
       |  ON x.doc_id < y.doc_id
       |  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |        len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5),
       |sym AS (SELECT a AS src, b AS dst FROM edges
       |        UNION ALL SELECT b, a FROM edges),
       |walk(id, label) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT s.src, w.label FROM walk w JOIN sym s ON s.dst = w.id),
       |cc AS (SELECT id, MIN(label) AS keeper FROM walk GROUP BY id)""".stripMargin

  val dedupClustersSql: String =
    s"""$clustersCte
       |SELECT cc.id AS doc_id, cc.keeper,
       |  COUNT(*) OVER (PARTITION BY cc.keeper) AS n_cluster
       |FROM cc""".stripMargin

  /**
   * Apply dedup decisions: the corpus minus every non-keeper — the join
   * each dedup user runs right after clustering. 100 TB posture: the
   * non-keeper list is (dup_rate * corpus) rows of bare ids — far
   * smaller than the corpus — so the anti-join broadcasts at moderate
   * dup rates and degrades to a shuffle anti-join on the id key (never
   * a full-corpus comparison) when it doesn't fit.
   */
  def dedupApply(docs: DataFrame, decisions: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.join(
      decisions.filter(col(idCol) =!= col("keeper")).select(idCol),
      Seq(idCol), "left_anti")

  /** [[dedupApply]] over the cluster demo corpus; hash-checked against
    * the recursive-CTE closure extended one join further. */
  def dedupApplyQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = clusterCorpus(spark, sfDir)
    val decisions = dedupClusters(spark, sfDir)
    dedupApply(corpus, decisions)
      .select(col("doc_id"), length(col("text")).as("n_chars"))
  }

  val dedupApplySql: String =
    s"""$clustersCte
       |SELECT c.doc_id, CAST(length(c.text) AS INTEGER) AS n_chars
       |FROM corpus c JOIN cc ON cc.id = c.doc_id AND cc.id = cc.keeper""".stripMargin

  // ---- span-level exact-substring duplication ----

  /** Window length (tokens) for [[substringStats]] — the span size at
    * which a repeated run counts as duplicated text (the "min match
    * length" knob of suffix-array substring dedup, here in tokens). */
  val SubstringWindow: Int = 8

  /**
   * Per-document exact-substring duplication statistics — the span-level
   * signal behind "deduplicating training data" pipelines (Lee et al.
   * 2022): a document sharing a W-token run with ANY other occurrence
   * in the corpus (another document, or a second site in itself) has
   * that span counted as duplicated. Output per doc: total W-token
   * windows, windows whose content occurs >= 2 times corpus-wide, and
   * the duplicated-window fraction (floor-truncated, SURVEY §5; NULL
   * for docs shorter than W tokens).
   *
   * Plan shape (the [[TextAnalysis.lmScore]] discipline): one map-side
   * pass emits the sliding windows (O(tokens) rows, exactly the token
   * stream's cardinality), one partial-agg shuffle builds the window
   * frequency table, one equi-join + per-doc partial agg folds the
   * verdicts back. Windows shuffle as their `xxhash64` — the key drops
   * from ~W words to 8 bytes (this halved the sandbox wall time and is
   * the posture that matters at 100 TB, where the window keys dominate
   * shuffle bytes). The DuckDB oracle replays with the window STRINGS;
   * the two agree modulo a 64-bit hash collision merging two distinct
   * window contents — vanishingly unlikely and it would surface as a
   * count diff, never silently (the minhash band-oracle argument).
   * A left join restores sub-W docs (n_windows = 0).
   */
  def substringStats(docs: DataFrame, idCol: String, textCol: String,
      w: Int = SubstringWindow): DataFrame = {
    val toks = tokens(col(textCol))
    val wins = docs.select(col(idCol).as("doc_id"),
      explode(hashedWindows(toks, w)).as("win"))
    val freq = wins.groupBy("win").agg(count(lit(1)).as("c"))
    val perDoc = wins.join(freq, "win")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (floor(col("n_dup_windows").cast("double") / col("n_windows") * 10000) / 10000)
          .as("dup_win_frac"))
  }

  /** Sliding W-token windows as 8-byte `xxhash64` keys (no window
    * string is ever materialized; the [[shiftedSlices]] zip — each
    * slice evaluates once): the shuffle-size posture for the substring
    * family. NO short-doc fallback: a doc below w tokens contributes
    * zero windows (a whole short doc is not a duplicated SPAN). */
  private def hashedWindows(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(arrays_zip(shiftedSlices(toks, w): _*),
        z => xxhash64((0 until w).map(j => z.getField(s"w$j")): _*)))
      .otherwise(array().cast("array<bigint>"))

  /** [[substringStats]] over the planted demo corpus (the same
    * mutated-copy plant as minhash/simhash: unmutated spans between
    * mutation sites are exactly the shared runs substring dedup is
    * built to catch). */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    substringStats(
      withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true),
      "doc_id", "text")

  val dedupSubstringSql: String =
    s"""WITH ${mutatedCorpusSql(25)},
       |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
       |w AS (
       |  SELECT doc_id, array_to_string(toks[i:i+$SubstringWindow-1], ' ') AS win
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - $SubstringWindow + 2)) AS i) r
       |  WHERE len(toks) >= $SubstringWindow),
       |freq AS (SELECT win, COUNT(*) AS c FROM w GROUP BY win),
       |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |        CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |      FROM w JOIN freq USING (win) GROUP BY doc_id)
       |SELECT c.doc_id,
       |  CAST(COALESCE(d.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(COALESCE(d.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       |  FLOOR(CAST(d.n_dup_windows AS DOUBLE) / d.n_windows * 10000) / 10000 AS dup_win_frac
       |FROM corpus c LEFT JOIN d USING (doc_id)""".stripMargin

  /**
   * Span-level dedup APPLY — the actual Lee et al. 2022 output that
   * [[substringStats]] only reports on: every occurrence of a
   * duplicated W-token window EXCEPT the corpus-wide first one is
   * removed from its document, and the surviving tokens are re-joined.
   * "First" is the deterministic lexicographic-min (doc_id, pos)
   * occurrence of the window content, so the rewrite is a pure
   * function of the corpus (re-runs and engines agree byte-for-byte).
   * Overlapping dropped windows coalesce — a token is removed once no
   * matter how many dup windows cover it — and documents shorter than
   * W tokens pass through untouched (a whole short doc is not a
   * duplicated span). Output is over the lowercased token stream (the
   * same normalization the window keys use).
   *
   * Plan shape, all linear in the token stream: the [[substringStats]]
   * window pass with positions kept, a per-window partial agg
   * (count + min-struct owner — no corpus-sized window function), an
   * equi-join back marking non-owner occurrences, a bounded xW explode
   * of ONLY the dropped spans into covered token positions, and one
   * (doc_id, tpos) anti-join against the token stream before a per-doc
   * ordered re-join. At 100 TB the window string key shuffles as
   * `xxhash64(win)` exactly as in [[substringStats]].
   */
  def substringApply(docs: DataFrame, idCol: String, textCol: String,
      w: Int = SubstringWindow): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    // pos is the 0-based window start: the window covers 1-based token
    // positions pos+1 .. pos+w. Windows key as xxhash64 (the
    // substringStats shuffle posture; ownership per hashed content
    // equals ownership per content modulo a 64-bit collision)
    val wins = base.select(col("doc_id"),
      posexplode(hashedWindows(col("toks"), w)).as(Seq("pos", "win")))
    val freq = wins.groupBy("win").agg(count(lit(1)).as("c"),
      min(struct(col("doc_id"), col("pos"))).as("own"))
    val drops = wins.join(freq, "win")
      .filter(col("c") >= 2 &&
        !(col("doc_id") === col("own.doc_id") && col("pos") === col("own.pos")))
      .select(col("doc_id"), col("pos"))
    val covered = drops
      .select(col("doc_id"), explode(sequence(col("pos") + 1, col("pos") + w)).as("tpos"))
      .distinct()
    val tokpos = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("tpos"), col("tok"))
    val kept = tokpos.join(covered, Seq("doc_id", "tpos"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tpos"), col("tok")))).as("kt"))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("kt"), x => x("tok"))).as("text_clean"))
    val nDropped = covered.groupBy("doc_id").agg(count(lit(1)).as("n_dropped"))
    base.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .join(nDropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** [[substringApply]] over the same planted mutated-copy corpus as
    * [[dedupSubstring]] — the unmutated runs between mutation sites are
    * exactly the spans the rewrite removes from the copies. */
  def dedupSubstringApply(spark: SparkSession, sfDir: String): DataFrame =
    substringApply(
      withPlantedNearDups(Tables.documents(spark, sfDir), 25, mutate = true),
      "doc_id", "text")

  val dedupSubstringApplySql: String =
    s"""WITH ${mutatedCorpusSql(25)},
       |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
       |w AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    array_to_string(toks[i:i+$SubstringWindow-1], ' ') AS win
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - $SubstringWindow + 2)) AS i) r
       |  WHERE len(toks) >= $SubstringWindow),
       |rk AS (SELECT doc_id, pos,
       |         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
       |       FROM w),
       |cov AS (SELECT DISTINCT doc_id, pos + o + 1 AS tpos
       |        FROM rk, LATERAL (SELECT unnest(range(0, $SubstringWindow)) AS o) q
       |        WHERE rn >= 2),
       |tokpos AS (SELECT doc_id, i AS tpos, toks[i] AS tok
       |           FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) s),
       |kept AS (SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.tpos) AS text_clean
       |         FROM tokpos k LEFT JOIN cov ON cov.doc_id = k.doc_id AND cov.tpos = k.tpos
       |         WHERE cov.tpos IS NULL GROUP BY k.doc_id),
       |nd AS (SELECT doc_id, COUNT(*) AS n_dropped FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS INTEGER) AS n_tokens,
       |  CAST(COALESCE(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  COALESCE(kept.text_clean, '') AS text_clean
       |FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
       |LEFT JOIN nd ON nd.doc_id = t.doc_id""".stripMargin

  /** Top-20 cosine pairs via the bucketed path (SQL oracle: all-pairs). */
  def neardupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val cents = graft.query.IvfSearch.fitCentroids(e, NeardupCells, Some(s"neardup:$sfDir"))
    neardupPairs(e, cents, NeardupProbes, graft.config.GraftConfig.active.neardup.topN)
  }

  val neardupEmbeddingSql: String =
    """SELECT a, b, cosine FROM (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |    ROUND(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |                                 CAST(y.embedding AS DOUBLE[])), 4) + 0.0 AS cosine
      |  FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id)
      |ORDER BY cosine DESC, a, b LIMIT 20""".stripMargin

  // ---- line-level boilerplate removal ----

  /** A line is boilerplate once it occurs in >= this many DISTINCT
    * documents (C4/RefinedWeb-style line dedup: navigation chrome,
    * cookie banners, copyright footers repeat across pages; real
    * content does not). */
  val LineMinDocs: Int = 8

  /**
   * Line-level boilerplate removal (the line-dedup pass of C4 /
   * RefinedWeb-style curation): any line occurring in >= `minDocs`
   * distinct documents is stripped from EVERY document; per doc the
   * result is the surviving lines re-joined plus kept/removed counts.
   *
   * Plan shape: one map-side explode of the line arrays, a two-level
   * partial-agg shuffle on the line key — (line, doc) dedupe, then a
   * distinct-doc count per line, the [[Dedup.substringStats]]
   * frequency-table discipline — and a map-only finish: the lines
   * crossing the threshold are BY DEFINITION few (boilerplate is the
   * corpus's repeated chrome), so they come back as one broadcast
   * array row and each document filters its own line array in place —
   * no re-explode, no corpus-sized re-aggregation shuffle, no second
   * scan. At 100 TB: shuffle the frequency pass on `xxhash64(line)`
   * (8-byte keys; counts identical modulo 64-bit collisions) and cap
   * the broadcast set with a deterministic top-N on (n_docs, line) if
   * a degenerate corpus ever inflates it.
   */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = LineMinDocs): DataFrame = {
    val ls = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), "\n").as("ls"))
    val freq = ls.select(col("doc_id"), explode(col("ls")).as("line"))
      .groupBy("line", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("line").agg(count(lit(1)).as("n_docs"))
    val boiler = freq.filter(col("n_docs") >= minDocs)
      .agg(sort_array(collect_list(col("line"))).as("bl"))
    ls.crossJoin(broadcast(boiler))
      .withColumn("kept", filter(col("ls"), l => !array_contains(col("bl"), l)))
      .select(col("doc_id"),
        size(col("ls")).as("n_lines"),
        size(col("kept")).as("n_kept"),
        (size(col("ls")) - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), "\n").as("text_clean"))
  }

  /**
   * The synthetic corpus is single-line, so the query PLANTS the line
   * structure (mirrored verbatim in the oracle): two always-boilerplate
   * footers (doc_id%3, %4 — hundreds of docs at every SF), a rare
   * shared line (%100=37: 5 docs at 500-doc SFs, BELOW threshold ->
   * kept; 50 docs at sf0.1 -> crosses it), and a line repeated TWICE
   * within few docs (%97=3: 12 occurrences across 6 docs at 500-doc
   * SFs — kept, pinning the DISTINCT-doc count against a naive
   * occurrence count that would strip it).
   */
  def dedupLinesQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nsubscribe to our newsletter today")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nall rights reserved by the site owner")).otherwise(lit("")),
        when(col("doc_id") % 100 === 37,
          lit("\nref code alpha")).otherwise(lit("")),
        when(col("doc_id") % 97 === 3,
          lit("\nnote this page is a draft\nnote this page is a draft"))
          .otherwise(lit(""))).as("text"))
    dedupLines(planted, "doc_id", "text")
  }

  val dedupLinesSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved by the site owner' ELSE '' END
       |    || CASE WHEN doc_id % 100 = 37 THEN chr(10) || 'ref code alpha' ELSE '' END
       |    || CASE WHEN doc_id % 97 = 3 THEN chr(10) || 'note this page is a draft' || chr(10) || 'note this page is a draft' ELSE '' END
       |    AS text FROM documents),
       |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
       |ex AS (SELECT doc_id, unnest(ls) AS line FROM ls),
       |freq AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM ex GROUP BY line),
       |boiler AS (SELECT coalesce(list(line ORDER BY line), []) AS bl
       |           FROM freq WHERE n_docs >= $LineMinDocs)
       |SELECT l.doc_id,
       |  CAST(len(l.ls) AS INTEGER) AS n_lines,
       |  CAST(len(list_filter(l.ls, x -> NOT list_contains(b.bl, x))) AS INTEGER) AS n_kept,
       |  CAST(len(l.ls) - len(list_filter(l.ls, x -> NOT list_contains(b.bl, x))) AS INTEGER) AS n_removed,
       |  COALESCE(list_aggregate(list_filter(l.ls, x -> NOT list_contains(b.bl, x)),
       |    'string_agg', chr(10)), '') AS text_clean
       |FROM ls l, boiler b""".stripMargin
}
