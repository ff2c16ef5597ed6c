package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/**
 * SentencePiece-style UNIGRAM-LM subword tokenization (Kudo 2018,
 * "Subword Regularization"; the tokenizer family behind
 * Llama/T5/XLNet). Complements [[Bpe]]: BPE applies a learned MERGE
 * list greedily; unigram scores every segmentation of a word under a
 * piece log-probability table and keeps the Viterbi-best one. A
 * packer/fertility report parameterized by the wrong family can be
 * 10-30% off on token budgets for SentencePiece-tokenized models,
 * which is why the import path exists.
 *
 * Same architecture discipline as [[Bpe]] (reference Config.java /
 * the r5 verdict's "count with the trainer's tokenizer" item):
 *  - the model is fitted ONCE driver-side from a bounded,
 *    deterministic word-frequency table (never corpus-sized state),
 *    or IMPORTED from a published `spm_export_vocab` text file
 *    (`piece<TAB>logprob` per line — the public SentencePiece
 *    export format);
 *  - counting rides a codegen'd Catalyst expression
 *    ([[UnigramCountTokens]]) with a Zipf-friendly word->count
 *    cache — map-only, no token arrays materialized;
 *  - the DuckDB oracle replays a bounded distinct-word -> piece-count
 *    dictionary exported by the query (vocabulary-sized, not
 *    corpus-sized); the Viterbi DP itself is ground-truth-spec'd in
 *    UnigramSpec against hand-computed segmentations.
 *
 * Two pretokenization styles, fixed per model:
 *  - corpus-fit (default): [[TextAnalysis.BpeishPattern]] over
 *    lowercased text — the same pretokens as the BPE counter, so the
 *    two families are comparable on the same corpus;
 *  - SPM import (`spmStyle`): whitespace pretokens of the RAW text,
 *    each scored as `▁word` (SentencePiece's add_dummy_prefix +
 *    split_by_whitespace convention), no lowercasing — counts match
 *    the published tokenizer's own segmentation for vocab-internal
 *    text.
 *
 * The trainer is deterministic Viterbi-EM over the bounded word
 * table: seed = all substrings (length <= [[MaxPieceLen]]) of the
 * top words scored by occurrence-count x length (the suffix-array
 * seeding stand-in), then [[EmIters]] rounds of segment-with-current-
 * model / re-estimate / prune-to-vocab — single-char pieces are never
 * pruned, so every word stays segmentable. Hard-EM (Viterbi counts,
 * not forward-backward expectations) keeps it integer-deterministic.
 */
object Unigram {

  /** Target piece-vocabulary size for the corpus fit (beyond single
    * chars, which are always kept). */
  val DefaultVocabSize = 512

  /** Longest candidate piece the trainer seeds / the DP scans. */
  val MaxPieceLen = 8

  /** Hard-EM rounds (segment / re-estimate / prune). */
  val EmIters = 4

  /** Seed multi-char candidates kept = SeedFactor x vocabSize. */
  val SeedFactor = 4

  /** Same bounded word table as [[Bpe.MaxVocabWords]]. */
  val MaxVocabWords = 20000

  /** SPM-style whitespace pretokenization as an EXPLICIT character
    * class, shared verbatim by the Java pattern and the DuckDB
    * fragment: Java's `\s` includes U+000B (vertical tab) while
    * RE2/DuckDB's does not, so a bare `\S+` silently produces
    * different word lists for a document containing `\x0B` (the same
    * cross-engine class as [[TextAnalysis.BpeishPattern]]'s escape
    * hazard). Both regex engines read `\t \n \x0B \f \r` identically,
    * so the whitespace set is equal by construction. */
  val NonWsPattern = "[^ \\t\\n\\x0B\\f\\r]+"

  /** Distinct-word -> piece-count dictionary fixture for the DuckDB
    * oracle (the [[Bpe.VocabExportPath]] discipline; separate path so
    * the BPE and unigram oracles never clobber each other). */
  val VocabExportPath = graft.FixturePaths.fixture("unigram_vocab.parquet")

  /** Fitted or imported model: (piece, logprob) in deterministic
    * order, plus the pretokenization style it was built for.
    * `bytePieces` are SentencePiece byte-fallback entries
    * (`<0xNN>` -> score) from an imported vocab — empty for corpus
    * fits, where unknown chars take the flat unk penalty instead. */
  final case class UnigramModel(pieces: Array[(String, Double)], spmStyle: Boolean,
      bytePieces: Array[(Int, Double)] = Array.empty) {
    @transient lazy val runtime: UnigramRuntime = {
      val logp = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
      var maxLen = 1
      var minScore = 0.0
      var i = 0
      while (i < pieces.length) {
        val (p, lp) = pieces(i)
        logp.put(p, lp)
        if (p.length > maxLen) maxLen = p.length
        if (lp < minScore) minScore = lp
        i += 1
      }
      bytePieces.foreach { case (_, s) => if (s < minScore) minScore = s }
      val unk = minScore - 10.0
      // full 256-entry table so every byte scores; a vocab missing some
      // <0xNN> rows (unusual — real byte_fallback exports all 256)
      // falls back to the unk floor for just those bytes
      val byteScores: Array[Double] =
        if (bytePieces.isEmpty) null
        else {
          val arr = Array.fill(256)(unk)
          bytePieces.foreach { case (b, s) => arr(b) = s }
          arr
        }
      new UnigramRuntime(logp, maxLen, unk, spmStyle, byteScores)
    }
  }

  /**
   * Deterministic hard-EM fit over the bounded word-frequency table.
   * Driver-side work is O(words x len x MaxPieceLen) per iteration —
   * bounded by [[MaxVocabWords]], independent of corpus size; the
   * only distributed step is the word-frequency partial agg (one
   * shuffle over words, the [[Bpe.fit]] plan).
   */
  def fit(docs: DataFrame, textCol: String,
      vocabSize: Int = DefaultVocabSize): UnigramModel = {
    // Pattern as lit(), NOT through expr(): the SQL parser unescapes
    // '\s' to 's' inside string literals, silently turning the
    // whitespace class into a letter and admitting space "words".
    val freqs: Array[(String, Long)] = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit(TextAnalysis.BpeishPattern), lit(0))).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .limit(MaxVocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(freqs.nonEmpty,
      "unigram fit needs a non-empty corpus (no pretokens found)")

    // Seed: every substring occurrence of every vocab word, weighted
    // by word frequency; score = count x length (longer pieces earn
    // their slot by covering more text).
    val candCount = new java.util.HashMap[String, java.lang.Long]()
    for ((w, c) <- freqs; i <- 0 until w.length;
         len <- 1 to math.min(MaxPieceLen, w.length - i)) {
      val p = w.substring(i, i + len)
      val prev = candCount.get(p)
      candCount.put(p, if (prev == null) c else prev + c)
    }
    import scala.jdk.CollectionConverters._
    val all = candCount.asScala.toArray.map { case (p, c) => (p, c.longValue) }
    val chars = all.filter(_._1.length == 1)
    val multi = all.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c * p.length, p) }
      .take(vocabSize * SeedFactor)

    def toModel(counts: Array[(String, Long)]): UnigramModel = {
      val total = counts.map(_._2).sum.toDouble
      UnigramModel(
        counts.sortBy(_._1).map { case (p, c) => (p, math.log(c / total)) },
        spmStyle = false)
    }

    var model = toModel(chars ++ multi)
    var iter = 0
    while (iter < EmIters) {
      val rt = model.runtime
      val usage = new java.util.HashMap[String, java.lang.Long]()
      for ((w, c) <- freqs; p <- UnigramKernels.segmentWord(w, rt)) {
        val prev = usage.get(p)
        usage.put(p, if (prev == null) c else prev + c)
      }
      val used = usage.asScala.toArray.map { case (p, c) => (p, c.longValue) }
      // Chars are the segmentability floor: never pruned, smoothed to
      // count >= 1 even if this round's Viterbi paths skipped them.
      val charRows = chars.map { case (p, _) =>
        (p, math.max(1L, Option(usage.get(p)).map(_.longValue).getOrElse(0L))) }
      val multiRows = used.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - charRows.length))
      model = toModel(charRows ++ multiRows)
      iter += 1
    }
    model
  }

  /** The only angle-bracket pieces that are genuinely control tokens
    * in `spm_export_vocab` output. Everything else in brackets is
    * either a byte-fallback piece (`<0xNN>`, scored per raw byte) or
    * a user-defined symbol that matches literal text. */
  val ControlPieces: Set[String] = Set("<unk>", "<s>", "</s>", "<pad>")

  private val BytePieceRe = "^<0x([0-9A-Fa-f]{2})>$".r

  /**
   * Import a published SentencePiece vocab (`spm_export_vocab`
   * format: `piece<TAB>logprob` per line, rank order). Only the true
   * control tokens ([[ControlPieces]]) are kept out of the DP table;
   * `<0xNN>` byte-fallback pieces — present in real Llama-family
   * exports — become the per-byte fallback scores the Viterbi DP
   * charges for vocab-external characters (one piece per UTF-8 byte,
   * SentencePiece's byte_fallback semantics), and any other
   * bracketed piece scores as literal text. The resulting model is
   * [[UnigramModel.spmStyle]]: whitespace pretokens scored as `▁word`.
   */
  def loadVocab(path: String): UnigramModel = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val bytePieces = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    lines.forEach { raw =>
      val line = raw.stripLineEnd
      if (line.nonEmpty) {
        val tab = line.indexOf('\t')
        require(tab > 0, s"malformed vocab line (want 'piece<TAB>logprob'): '$line'")
        val piece = line.substring(0, tab)
        val score = java.lang.Double.parseDouble(line.substring(tab + 1))
        piece match {
          case p if ControlPieces(p) => ()
          case BytePieceRe(hex) => bytePieces += ((Integer.parseInt(hex, 16), score))
          case p => pieces += ((p, score))
        }
      }
    }
    require(pieces.nonEmpty, s"no usable pieces in vocab file: $path")
    UnigramModel(pieces.toArray, spmStyle = true, bytePieces.toArray)
  }

  // corpus fits keyed by corpus dir, imported vocabs by "file:" + path
  private val models = new graft.util.SessionMemo[String, UnigramModel]

  /** Memoized corpus fit over a directory's `documents` table. */
  def fitFor(spark: SparkSession, sfDir: String): UnigramModel =
    models(spark, sfDir)(fit(Tables.documents(spark, sfDir), "text"))

  /** The model the counters use: the imported SPM vocab when
    * `bpe.unigramVocabPath` is configured, else the memoized corpus
    * fit (the [[Bpe.modelFor]] contract). */
  def modelFor(spark: SparkSession, sfDir: String,
      cfg: graft.config.GraftConfig = graft.config.GraftConfig.active): UnigramModel =
    if (cfg.bpe.unigramVocabPath.nonEmpty)
      models(spark, "file:" + cfg.bpe.unigramVocabPath)(loadVocab(cfg.bpe.unigramVocabPath))
    else fitFor(spark, sfDir)

  /** Viterbi piece count of `text` under `model` — map-only, codegen'd. */
  def unigram_count(text: Column, model: UnigramModel): Column =
    ColumnBridge.column(UnigramCountTokens(
      ColumnBridge.expression(text.cast(StringType)), model.runtime))

  /** The pretokenization the active model's dictionary oracle must
    * replay: SPM-style models split raw text on whitespace; corpus
    * fits share the BPE pretokens. */
  def wordsSqlFragment(spmStyle: Boolean): String =
    if (spmStyle)
      s"""w AS (SELECT doc_id, unnest(regexp_extract_all(text, '$NonWsPattern')) AS word
         |      FROM documents)""".stripMargin
    else
      s"""w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '${TextAnalysis.BpeishPattern}')) AS word
         |      FROM documents)""".stripMargin

  /** Export the distinct-word -> piece-count dictionary fixture (the
    * [[Bpe.ensureVocabExported]] discipline, keyed on corpus + vocab
    * source so a config flip mid-JVM re-exports). */
  def ensureVocabExported(spark: SparkSession, sfDir: String,
      cfg: graft.config.GraftConfig = graft.config.GraftConfig.active): UnigramModel = {
    val model = modelFor(spark, sfDir, cfg)
    val vocabKey = cfg.bpe.unigramVocabPath match {
      case "" => sfDir
      case p => s"$sfDir|$p"
    }
    graft.FixtureExport.ensure(vocabKey, VocabExportPath) {
      val words =
        if (model.spmStyle)
          Tables.documents(spark, sfDir).select(
            explode(regexp_extract_all(col("text"), lit(NonWsPattern), lit(0))).as("word"))
        else
          Tables.documents(spark, sfDir).select(
            explode(regexp_extract_all(lower(col("text")),
              lit(TextAnalysis.BpeishPattern), lit(0))).as("word"))
      words.distinct()
        .select(col("word"), unigram_count(col("word"), model).as("n_sub"))
        .coalesce(1).write.mode("overwrite").parquet(VocabExportPath)
    }
    model
  }

  /** `token_count_unigram`: per-doc Viterbi piece counts under the
    * active unigram model (corpus-fit by default). Plan: one codegen'd
    * expression over the documents scan — no shuffle, no join. */
  def tokenCountUnigram(spark: SparkSession, sfDir: String): DataFrame = {
    val model = ensureVocabExported(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), unigram_count(col("text"), model).as("unigram_tokens"))
  }

  /** DuckDB twin: dictionary replay over the active pretokenization
    * (a def — the fragment follows the configured vocab source). */
  def tokenCountUnigramSql: String = {
    val spm = graft.config.GraftConfig.active.bpe.unigramVocabPath.nonEmpty
    s"""WITH v AS (SELECT * FROM read_parquet('$VocabExportPath/*.parquet')),
       |${wordsSqlFragment(spm)},
       |s AS (SELECT w.doc_id, SUM(v.n_sub) AS t FROM w JOIN v USING (word) GROUP BY w.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(s.t, 0) AS INTEGER) AS unigram_tokens
       |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin
  }

  // ---- vocab coverage report ----

  def unigram_coverage(text: Column, model: UnigramModel): Column =
    ColumnBridge.column(UnigramCoverageTokens(
      ColumnBridge.expression(text.cast(StringType)), model.runtime))

  /** word → (n_sub, n_fb) dictionary for the coverage oracle. */
  val CoverageDictExportPath =
    graft.FixturePaths.fixture("unigram_coverage_dict.parquet")

  /** Vocab-external probe documents appended under their own lang so
    * the coverage report always carries a deterministic nonzero-
    * fallback row (the synthetic corpus itself is ASCII-covered by
    * the corpus fit). BMP-only non-ASCII: identical code-point
    * semantics for Java regex and RE2, and `lower()` is identity on
    * every planted char in both engines. */
  val OovProbes: Seq[(Long, String, String)] = Seq(
    (900001L, "xx", "café résumé naïve words the model never saw"),
    (900002L, "xx", "tokyo 東京 stream ストリーム tokens"),
    (900003L, "xx", "snowman ☃ mixed with plain ascii words"))

  private def probesSqlValues: String =
    OovProbes.map { case (_, l, t) => s"('$l', '$t')" }.mkString(", ")

  private def withProbes(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("lang"), col("text"))
      .unionByName(OovProbes.map { case (_, l, t) => (l, t) }.toDF("lang", "text"))
  }

  /** Export the distinct-word → (pieces, fallback) dictionary over
    * corpus ∪ probes (the [[ensureVocabExported]] discipline). */
  def ensureCoverageExported(spark: SparkSession, sfDir: String,
      cfg: graft.config.GraftConfig = graft.config.GraftConfig.active): UnigramModel = {
    val model = modelFor(spark, sfDir, cfg)
    val vocabKey = cfg.bpe.unigramVocabPath match {
      case "" => s"cov|$sfDir"
      case p => s"cov|$sfDir|$p"
    }
    graft.FixtureExport.ensure(vocabKey, CoverageDictExportPath) {
      val pat = if (model.spmStyle) NonWsPattern else TextAnalysis.BpeishPattern
      val src = if (model.spmStyle) col("text") else lower(col("text"))
      withProbes(Tables.documents(spark, sfDir))
        .select(explode(regexp_extract_all(src, lit(pat), lit(0))).as("word"))
        .distinct()
        .select(col("word"), unigram_coverage(col("word"), model).as("c"))
        .select(col("word"),
          shiftright(col("c"), 32).as("n_sub"),
          col("c").bitwiseAND(lit(0xffffffffL)).as("n_fb"))
        .coalesce(1).write.mode("overwrite").parquet(CoverageDictExportPath)
    }
    model
  }

  /**
   * `tokenizer_coverage`: per-language vocab-coverage report under
   * the active unigram model — total pieces, FALLBACK pieces (flat
   * unk, or per-UTF-8-byte under an SPM byte-fallback import), and
   * the fallback share. This is the fidelity number the byte-fallback
   * import path exists to surface: a nonzero share means token
   * budgets for that language are partly priced by fallback, so
   * packing and cost estimates drift from the trainer tokenizer
   * exactly there. The `xx` probe row (vocab-external chars planted
   * in-query) pins a deterministic nonzero-fallback witness at every
   * SF; real languages report their true share.
   *
   * Plan: one map-only pass with the packed coverage expression
   * (pieces<<32|fallback per doc), then a langs-sized partial agg —
   * the `token_count_unigram` shape with a second counter riding the
   * same kernel DP (same scan order and tie-breaks, so the piece
   * total agrees with `unigram_count` bit-for-bit; spec-asserted).
   */
  def tokenizerCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val model = ensureCoverageExported(spark, sfDir)
    withProbes(Tables.documents(spark, sfDir))
      .select(col("lang"), unigram_coverage(col("text"), model).as("c"))
      .select(col("lang"),
        shiftright(col("c"), 32).as("p"),
        col("c").bitwiseAND(lit(0xffffffffL)).as("f"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum("p").as("pieces_sum"),
        sum("f").as("fallback_sum"))
      .withColumn("fallback_share",
        floor(col("fallback_sum").cast("double") /
          greatest(col("pieces_sum"), lit(1L)) * 10000) / 10000)
  }

  /** Oracle: dictionary replay over corpus ∪ probes — the word join
    * checks pretokenization + routing cross-engine, the Viterbi
    * coverage itself is fixture-anchored (KernelPropertySpec /
    * UnigramSpec discipline). */
  def tokenizerCoverageSql: String = {
    val spm = graft.config.GraftConfig.active.bpe.unigramVocabPath.nonEmpty
    val pat = if (spm) NonWsPattern else TextAnalysis.BpeishPattern
    val src = if (spm) "text" else "lower(text)"
    s"""WITH v AS (SELECT * FROM read_parquet('$CoverageDictExportPath/*.parquet')),
       |docs AS (SELECT lang, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES $probesSqlValues) t(lang, text)),
       |w AS (SELECT lang, unnest(regexp_extract_all($src, '$pat')) AS word FROM docs),
       |g AS (SELECT w.lang, SUM(v.n_sub) AS p, SUM(v.n_fb) AS f
       |      FROM w JOIN v USING (word) GROUP BY w.lang),
       |d AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs FROM docs GROUP BY lang)
       |SELECT d.lang, d.docs,
       |  CAST(COALESCE(g.p, 0) AS BIGINT) AS pieces_sum,
       |  CAST(COALESCE(g.f, 0) AS BIGINT) AS fallback_sum,
       |  FLOOR(CAST(COALESCE(g.f, 0) AS DOUBLE)
       |        / GREATEST(COALESCE(g.p, 0), 1) * 10000) / 10000 AS fallback_share
       |FROM d LEFT JOIN g ON d.lang = g.lang""".stripMargin
  }
}

/** Executor-side piece table + Viterbi scratch + the capped
  * concurrent word->count cache (the [[BpeRuntime]] shape). */
final class UnigramRuntime(
    val logp: java.util.HashMap[String, java.lang.Double],
    val maxLen: Int,
    val unkScore: Double,
    val spmStyle: Boolean,
    /** 256-entry per-byte fallback scores (SentencePiece `<0xNN>`
      * pieces), or null when the model has no byte fallback. */
    val byteScores: Array[Double] = null) extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer](1 << 12)
  private val CacheCap = 1 << 17

  @transient lazy val pattern: java.util.regex.Pattern =
    if (spmStyle) java.util.regex.Pattern.compile(Unigram.NonWsPattern)
    else java.util.regex.Pattern.compile(TextAnalysis.BpeishPattern)

  def countCached(word: String): Int = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val key = if (spmStyle) UnigramKernels.SpmSpace + word else word
    val n = UnigramKernels.countWord(key, this)
    if (cache.size < CacheCap) cache.put(word, n)
    n
  }

  @transient private lazy val covCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long](1 << 10)

  /** Packed (pieces << 32 | fallback) per pretoken, cached like
    * [[countCached]] (the coverage report's kernel — off the
    * token-count hot path). */
  def coverageCached(word: String): Long = {
    val hit = covCache.get(word)
    if (hit != null) return hit
    val key = if (spmStyle) UnigramKernels.SpmSpace + word else word
    val v = UnigramKernels.coverageWord(key, this)
    if (covCache.size < CacheCap) covCache.put(word, v)
    v
  }
}

object UnigramKernels {
  /** SentencePiece word-boundary marker (U+2581 LOWER ONE EIGHTH
    * BLOCK), prepended to each whitespace pretoken in SPM style. */
  val SpmSpace = "▁"

  private val NegInf = java.lang.Double.NEGATIVE_INFINITY

  /**
   * Viterbi piece count of one pretoken: best[i] = max over pieces p
   * ending at i of best[i-|p|] + logp(p); a position no piece reaches
   * falls back to `unkScore` for one character — or, when the model
   * carries byte-fallback scores (`<0xNN>` pieces of an SPM import),
   * to one piece PER UTF-8 BYTE of that character, scored through the
   * byte table (SentencePiece byte_fallback: "é" = 2 pieces, not 1).
   * Ties keep the first (shortest-piece) path — fixed scan order makes
   * the count deterministic. O(len x maxLen) table lookups, zero
   * allocation beyond the two DP arrays (byte fallback allocates only
   * on vocab-external chars, off the hot path by construction).
   */
  def countWord(word: String, rt: UnigramRuntime): Int = {
    val n = word.length
    if (n == 0) return 0
    val best = new Array[Double](n + 1)
    val cnt = new Array[Int](n + 1)
    var i = 1
    while (i <= n) { best(i) = NegInf; i += 1 }
    var end = 1
    while (end <= n) {
      var len = 1
      val lo = math.min(rt.maxLen, end)
      while (len <= lo) {
        if (best(end - len) != NegInf) {
          val lp = rt.logp.get(word.substring(end - len, end))
          if (lp != null) {
            val cand = best(end - len) + lp.doubleValue
            if (cand > best(end)) { best(end) = cand; cnt(end) = cnt(end - len) + 1 }
          }
        }
        len += 1
      }
      if (best(end) == NegInf) { // unknown char: penalized fallback
        // step by CODE POINT: a low surrogate closing a pair falls
        // back over both UTF-16 units, so a supplementary-plane char
        // encodes its real 4 UTF-8 bytes (not a lone surrogate's '?')
        // — SentencePiece byte_fallback operates on code points
        val st = fallbackStart(word, end)
        if (rt.byteScores == null) { // one flat-penalty piece
          best(end) = best(st) + rt.unkScore
          cnt(end) = cnt(st) + 1
        } else { // one byte piece per UTF-8 byte of the code point
          val bytes = word.substring(st, end)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var pen = 0.0
          var j = 0
          while (j < bytes.length) { pen += rt.byteScores(bytes(j) & 0xff); j += 1 }
          best(end) = best(st) + pen
          cnt(end) = cnt(st) + bytes.length
        }
      }
      end += 1
    }
    cnt(n)
  }

  /** Start index of the code point whose fallback closes at `end`:
    * `end-2` when positions end-2..end hold a surrogate pair, else
    * `end-1`. (Positions inside a pair still get DP values — via the
    * lone-surrogate fallback — but no well-formed vocab piece can
    * start mid-pair, so the final path never routes through them.) */
  private def fallbackStart(word: String, end: Int): Int =
    if (end >= 2 && Character.isLowSurrogate(word.charAt(end - 1))
        && Character.isHighSurrogate(word.charAt(end - 2))) end - 2
    else end - 1

  /**
   * Packed (total pieces << 32 | fallback pieces) of one pretoken's
   * best path — the SAME DP, scan order, and tie-breaks as
   * [[countWord]] (so the total always agrees with it bit-for-bit),
   * with the fallback emissions (flat-unk pieces, or per-byte pieces
   * under an SPM byte-fallback model) counted in lockstep. The
   * coverage report exists to surface exactly these: a fallback piece
   * means the serving vocab never saw that character, the token-budget
   * fidelity the import path is for.
   */
  def coverageWord(word: String, rt: UnigramRuntime): Long = {
    val n = word.length
    if (n == 0) return 0L
    val best = new Array[Double](n + 1)
    val cnt = new Array[Int](n + 1)
    val fb = new Array[Int](n + 1)
    var i = 1
    while (i <= n) { best(i) = NegInf; i += 1 }
    var end = 1
    while (end <= n) {
      var len = 1
      val lo = math.min(rt.maxLen, end)
      while (len <= lo) {
        if (best(end - len) != NegInf) {
          val lp = rt.logp.get(word.substring(end - len, end))
          if (lp != null) {
            val cand = best(end - len) + lp.doubleValue
            if (cand > best(end)) {
              best(end) = cand
              cnt(end) = cnt(end - len) + 1
              fb(end) = fb(end - len)
            }
          }
        }
        len += 1
      }
      if (best(end) == NegInf) {
        val st = fallbackStart(word, end) // code-point step, as countWord
        if (rt.byteScores == null) {
          best(end) = best(st) + rt.unkScore
          cnt(end) = cnt(st) + 1
          fb(end) = fb(st) + 1
        } else {
          val bytes = word.substring(st, end)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var pen = 0.0
          var j = 0
          while (j < bytes.length) { pen += rt.byteScores(bytes(j) & 0xff); j += 1 }
          best(end) = best(st) + pen
          cnt(end) = cnt(st) + bytes.length
          fb(end) = fb(st) + bytes.length
        }
      }
      end += 1
    }
    (cnt(n).toLong << 32) | fb(n).toLong
  }

  /** Packed (pieces << 32 | fallback) summed over `text`'s pretokens
    * (doc-level sums stay far below 2^31 for any real document). */
  def coverageTokens(s: UTF8String, rt: UnigramRuntime): Long = {
    val str = if (rt.spmStyle) s.toString
              else s.toString.toLowerCase(java.util.Locale.ROOT)
    val m = rt.pattern.matcher(str)
    var tot = 0L
    var f = 0L
    while (m.find()) {
      val p = rt.coverageCached(m.group())
      tot += (p >>> 32)
      f += (p & 0xffffffffL)
    }
    (tot << 32) | f
  }

  /** Best-path pieces of one word (trainer-side EM counts; not hot). */
  def segmentWord(word: String, rt: UnigramRuntime): List[String] = {
    val n = word.length
    if (n == 0) return Nil
    val best = Array.fill(n + 1)(NegInf)
    val back = new Array[Int](n + 1) // piece length ending here; 0 = unk char
    best(0) = 0.0
    var end = 1
    while (end <= n) {
      var len = 1
      val lo = math.min(rt.maxLen, end)
      while (len <= lo) {
        if (best(end - len) != NegInf) {
          val lp = rt.logp.get(word.substring(end - len, end))
          if (lp != null) {
            val cand = best(end - len) + lp.doubleValue
            if (cand > best(end)) { best(end) = cand; back(end) = len }
          }
        }
        len += 1
      }
      if (best(end) == NegInf) { best(end) = best(end - 1) + rt.unkScore; back(end) = 0 }
      end += 1
    }
    var out = List.empty[String]
    var pos = n
    while (pos > 0) {
      val len = math.max(1, back(pos))
      if (back(pos) > 0) out = word.substring(pos - len, pos) :: out
      pos -= len
    }
    out
  }

  /** Sum of per-pretoken Viterbi counts over `text` (lowercased for
    * corpus-fit models, raw + `▁` prefix for SPM imports). */
  def countTokens(s: UTF8String, rt: UnigramRuntime): Int = {
    val str = if (rt.spmStyle) s.toString
              else s.toString.toLowerCase(java.util.Locale.ROOT)
    val m = rt.pattern.matcher(str)
    var total = 0
    while (m.find()) total += rt.countCached(m.group())
    total
  }
}

/** Codegen'd Viterbi token counter (the [[BpeCountTokens]] shape). */
case class UnigramCountTokens(child: Expression, runtime: UnigramRuntime)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"unigram_count expects STRING, got ${child.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    UnigramKernels.countTokens(s.asInstanceOf[UTF8String], runtime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rtRef = ctx.addReferenceObj("unigramRuntime", runtime,
      classOf[UnigramRuntime].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.text.UnigramKernels.countTokens($s, $rtRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd packed (pieces << 32 | fallback) per text — the coverage
  * report's per-doc kernel ([[UnigramKernels.coverageTokens]]). */
case class UnigramCoverageTokens(child: Expression, runtime: UnigramRuntime)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"unigram_coverage expects STRING, got ${child.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    UnigramKernels.coverageTokens(s.asInstanceOf[UTF8String], runtime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rtRef = ctx.addReferenceObj("unigramRuntime", runtime,
      classOf[UnigramRuntime].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.text.UnigramKernels.coverageTokens($s, $rtRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
