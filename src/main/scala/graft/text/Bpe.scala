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
 * BPE-style subword token counting (Sennrich et al. 2016 merge
 * learning; GPT-2-style greedy lowest-rank application). A whitespace
 * count mispacks real text by 2-4x against tokenizer tokens — the
 * corpus budget/packing operators ([[graft.operators.Corpus]]) can be
 * parameterized by this counter instead.
 *
 * Shape mirrors the LSH model ([[graft.lsh.Lsh]]): the merge table is
 * fitted ONCE from a bounded, deterministic word-frequency table (the
 * only driver-side step — capped at [[Bpe.MaxVocabWords]] distinct
 * words regardless of corpus size), then shipped to executors inside a
 * codegen'd Catalyst expression ([[BpeCountTokens]]) that counts
 * merges per word WITHOUT materializing token arrays (the
 * `regexp_count_fast` discipline), with a Zipf-friendly concurrent
 * word->count cache.
 *
 * Pretokenization is [[TextAnalysis.BpeishPattern]] over lowercased
 * text: runs of letters, runs of digits, or single other non-space
 * chars — so merges only ever apply within letter/digit runs, and any
 * non-ASCII char counts as one token per char.
 */
object Bpe {

  /** Merge-table size (vocab growth beyond characters). */
  val DefaultMerges = 256

  /** Word-frequency table bound for the fit: top-N by frequency,
    * lexicographic tie-break — the same table on every engine/rerun. */
  val MaxVocabWords = 20000

  /** Where [[tokenCountBpe]] exports the distinct-word dictionary for
    * the DuckDB oracle (a VERIFY fixture, not part of the operator:
    * the per-doc count path never materializes it). */
  val VocabExportPath = graft.FixturePaths.fixture("bpe_vocab.parquet")

  private val Sep = '\u0001'

  /** Fitted model: merge pairs in learned-rank order. */
  final case class BpeModel(merges: Array[(String, String)]) {
    @transient lazy val runtime: BpeRuntime = {
      val ranks = new java.util.HashMap[String, Integer](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        ranks.put(merges(i)._1 + Sep + merges(i)._2, i)
        i += 1
      }
      new BpeRuntime(ranks)
    }
  }

  /**
   * Learn `nMerges` merges from a corpus: a distributed word-frequency
   * aggregation (one partial-agg shuffle over words), a bounded
   * deterministic collect, then the classic merge loop driver-side —
   * each round merges the highest-count adjacent symbol pair
   * (lexicographic tie-break) across the weighted vocabulary.
   */
  def fit(docs: DataFrame, textCol: String, nMerges: Int = DefaultMerges): BpeModel = {
    // Pattern as lit(), NOT expr(): SQL literals unescape '\s' to 's',
    // which would admit whitespace chars as "other"-class matches.
    // (Output here was unaffected — those are length-1 words, filtered
    // below — but the form is the [[Unigram.fit]] discipline.)
    val freqs: Array[(String, Long)] = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit(TextAnalysis.BpeishPattern), lit(0))).as("w"))
      .filter(length(col("w")) >= 2) // single-symbol words carry no pairs
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .limit(MaxVocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val vocab: Array[java.util.ArrayList[String]] = freqs.map { case (w, _) =>
      val parts = new java.util.ArrayList[String](w.length)
      var i = 0
      while (i < w.length) { parts.add(String.valueOf(w.charAt(i))); i += 1 }
      parts
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = new java.util.HashMap[String, java.lang.Long]()
      var wi = 0
      while (wi < vocab.length) {
        val parts = vocab(wi)
        val f = freqs(wi)._2
        var j = 0
        while (j < parts.size - 1) {
          val key = parts.get(j) + Sep + parts.get(j + 1)
          val prev = counts.get(key)
          counts.put(key, if (prev == null) f else prev + f)
          j += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestKey: String = null
        var bestCount = -1L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c: Long = e.getValue
          if (c > bestCount || (c == bestCount && e.getKey.compareTo(bestKey) < 0)) {
            bestKey = e.getKey; bestCount = c
          }
        }
        val sep = bestKey.indexOf(Sep.toInt)
        val l = bestKey.substring(0, sep)
        val r = bestKey.substring(sep + 1)
        merges += ((l, r))
        wi = 0
        while (wi < vocab.length) { BpeKernels.mergePair(vocab(wi), l, r); wi += 1 }
        round += 1
      }
    }
    BpeModel(merges.toArray)
  }

  // corpus fits keyed by corpus dir, imported vocabs by "file:" + path
  private val models = new graft.util.SessionMemo[String, BpeModel]

  /** Memoized fit over a corpus directory's `documents` table. */
  def fitFor(spark: SparkSession, sfDir: String): BpeModel =
    models(spark, sfDir)(fit(Tables.documents(spark, sfDir), "text"))

  /**
   * Import a PUBLISHED tokenizer's merge table (HF `merges.txt`
   * format: optional `#version` header, then one space-separated
   * symbol pair per line in rank order — the format tiktoken/HF BPE
   * tokenizers publish). Real packers budget sequences by the
   * TRAINER'S tokenizer, not a corpus re-fit; with `bpe.vocabPath`
   * set in [[graft.config.GraftConfig]] every BPE counter in the
   * library applies the imported vocab through the identical greedy
   * lowest-rank kernel, so counts match the published tokenizer's
   * merge application for vocab-internal text.
   */
  def loadMerges(path: String): BpeModel = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    lines.forEach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val sp = line.indexOf(' ')
        require(sp > 0 && line.indexOf(' ', sp + 1) < 0,
          s"malformed merges line (want 'left right'): '$line'")
        merges += ((line.substring(0, sp), line.substring(sp + 1)))
      }
    }
    BpeModel(merges.toArray)
  }

  /** The model the counters use: the imported vocab when
    * `bpe.vocabPath` is configured, else the memoized corpus fit. */
  def modelFor(spark: SparkSession, sfDir: String,
      cfg: graft.config.GraftConfig = graft.config.GraftConfig.active): BpeModel =
    if (cfg.bpe.vocabPath.nonEmpty)
      models(spark, "file:" + cfg.bpe.vocabPath)(loadMerges(cfg.bpe.vocabPath))
    else fitFor(spark, sfDir)

  /** Subword token count of `text` under `model` — map-only, codegen'd. */
  def bpe_count(text: Column, model: BpeModel): Column =
    ColumnBridge.column(BpeCountTokens(
      ColumnBridge.expression(text.cast(StringType)), model.runtime))

  /**
   * Per-document subword token counts; hash-checked against
   * [[tokenCountBpeSql]]: the query also exports the corpus's
   * distinct-word -> subword-count dictionary (bounded by vocabulary,
   * not corpus size), and DuckDB re-derives every doc count by
   * pretokenizing with the same regex and summing dictionary lookups —
   * verifying the pretokenization, the join, and the aggregation; the
   * merge APPLICATION inside the dictionary is ground-truth-spec'd in
   * BpeSpec against an independent reimplementation and hand-computed
   * merges.
   */
  /** Export the distinct-word -> subword-count dictionary fixture for
    * this corpus (shared by every oracle that replays BPE counts). The
    * guard keys on corpus AND vocab source, so flipping `bpe.vocabPath`
    * mid-JVM re-exports the dictionary the oracle replays. */
  def ensureVocabExported(spark: SparkSession, sfDir: String): BpeModel = {
    val model = modelFor(spark, sfDir)
    val vocabKey = graft.config.GraftConfig.active.bpe.vocabPath match {
      case "" => sfDir
      case p => s"$sfDir|$p"
    }
    graft.FixtureExport.ensure(vocabKey, VocabExportPath) {
      Tables.documents(spark, sfDir).select(explode(
          regexp_extract_all(lower(col("text")),
            lit(TextAnalysis.BpeishPattern), lit(0))).as("word"))
        .distinct()
        .select(col("word"), bpe_count(col("word"), model).as("n_sub"))
        .coalesce(1).write.mode("overwrite").parquet(VocabExportPath)
    }
    model
  }

  def tokenCountBpe(spark: SparkSession, sfDir: String): DataFrame = {
    val model = ensureVocabExported(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), bpe_count(col("text"), model).as("bpe_tokens"))
  }

  def tokenCountBpeSql: String =
    s"""WITH v AS (SELECT * FROM read_parquet('$VocabExportPath/*.parquet')),
       |w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '${TextAnalysis.BpeishPattern}')) AS word
       |      FROM documents),
       |s AS (SELECT w.doc_id, SUM(v.n_sub) AS t FROM w JOIN v USING (word) GROUP BY w.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(s.t, 0) AS INTEGER) AS bpe_tokens
       |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin

  /**
   * Per-language tokenizer FERTILITY report: subwords per whitespace
   * word and characters per subword, by `lang` — the
   * tokenizer-equity/compression signal (a tokenizer fitted on
   * English-heavy data segments other languages into more, shorter
   * pieces, inflating their effective training cost and context use;
   * the standard multilingual-pipeline diagnostic). Complements
   * `corpus_stats` (volume shares) with HOW MANY MODEL TOKENS each
   * language's text actually turns into under the active tokenizer
   * ([[modelFor]]: corpus-fit by default, published vocab via
   * `bpe.vocabPath`).
   *
   * Scale: one map-only pass computing the three per-doc counts (the
   * codegen'd [[bpe_count]] expression + two length arithmetics —
   * no token arrays materialized) into a partial agg over the
   * langs-sized cell table. Sums are BIGINT on both engines (SURVEY
   * §5 count doctrine); ratios derive from the summed BIGINTs with
   * identical literal order, floored 4dp.
   */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    // Dispatches to the ACTIVE trainer tokenizer (unigram import >
    // BPE): fertility is a report about the trainer's tokenizer, not
    // about BPE per se. Column names stay `bpe_tokens_sum` for schema
    // stability across configs ("subword tokens" is the semantic).
    val tok = Tokenizers.active(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        length(col("text")).cast("long").as("nc"),
        (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
          .cast("long").as("ws"),
        tok.count(col("text")).cast("long").as("bt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
        sum("nc").as("chars_sum"),
        sum("ws").as("ws_tokens_sum"),
        sum("bt").as("bpe_tokens_sum"))
      .select(col("lang"), col("docs"), col("chars_sum"),
        col("ws_tokens_sum"), col("bpe_tokens_sum"),
        (floor(col("bpe_tokens_sum") / col("ws_tokens_sum") * 10000) / 10000)
          .as("fertility"),
        (floor(col("chars_sum") / col("bpe_tokens_sum") * 10000) / 10000)
          .as("chars_per_token"))
  }

  def tokenizerFertilitySql: String =
    s"""WITH v AS (SELECT * FROM read_parquet('${Tokenizers.activeDictPath()}/*.parquet')),
       |${Tokenizers.activeWordsSql()},
       |bt AS (SELECT w.doc_id, SUM(v.n_sub) AS t FROM w JOIN v USING (word) GROUP BY w.doc_id),
       |d AS (SELECT doc_id, lang,
       |        CAST(len(text) AS BIGINT) AS nc,
       |        CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS ws
       |      FROM documents),
       |g AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
       |    CAST(SUM(d.nc) AS BIGINT) AS chars_sum,
       |    CAST(SUM(d.ws) AS BIGINT) AS ws_tokens_sum,
       |    CAST(SUM(COALESCE(bt.t, 0)) AS BIGINT) AS bpe_tokens_sum
       |  FROM d LEFT JOIN bt ON d.doc_id = bt.doc_id
       |  GROUP BY lang)
       |SELECT lang, docs, chars_sum, ws_tokens_sum, bpe_tokens_sum,
       |  FLOOR(bpe_tokens_sum / ws_tokens_sum * 10000) / 10000 AS fertility,
       |  FLOOR(chars_sum / bpe_tokens_sum * 10000) / 10000 AS chars_per_token
       |FROM g""".stripMargin
}

/** Executor-side merge table: rank lookup, the per-word merge loop's
  * scratch, and a capped concurrent word->count cache (word frequency
  * is Zipfian — the cache turns the per-doc cost into ~one lookup per
  * word occurrence). */
final class BpeRuntime(val ranks: java.util.HashMap[String, Integer]) extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer](1 << 12)
  private val CacheCap = 1 << 17

  @transient lazy val pattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(TextAnalysis.BpeishPattern)

  def countCached(word: String): Int = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val n = BpeKernels.countWord(word, ranks)
    if (cache.size < CacheCap) cache.put(word, n)
    n
  }
}

object BpeKernels {
  private val Sep = '\u0001'

  /** Replace every adjacent (l, r) occurrence left-to-right in place —
    * the SAME application order in fit and count, so learned merges
    * reproduce exactly. */
  def mergePair(parts: java.util.ArrayList[String], l: String, r: String): Unit = {
    var k = 0
    while (k < parts.size - 1) {
      if (parts.get(k) == l && parts.get(k + 1) == r) {
        parts.set(k, l + r)
        parts.remove(k + 1)
      } else k += 1
    }
  }

  /** Token count of one pretoken: greedy lowest-rank merging until no
    * learned pair remains; returns the surviving symbol count. */
  def countWord(word: String, ranks: java.util.HashMap[String, Integer]): Int = {
    val n = word.length
    if (n < 2) return n
    val parts = new java.util.ArrayList[String](n)
    var i = 0
    while (i < n) { parts.add(String.valueOf(word.charAt(i))); i += 1 }
    var done = false
    while (!done && parts.size > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < parts.size - 1) {
        val r = ranks.get(parts.get(j) + Sep + parts.get(j + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) done = true
      else mergePair(parts, parts.get(bestIdx), parts.get(bestIdx + 1))
    }
    parts.size
  }

  /** Sum of per-pretoken counts over lowercased `text`; nothing per
    * match is materialized beyond the matcher's own group. */
  def countTokens(s: UTF8String, rt: BpeRuntime): Int = {
    val m = rt.pattern.matcher(s.toString.toLowerCase(java.util.Locale.ROOT))
    var total = 0
    while (m.find()) total += rt.countCached(m.group())
    total
  }
}

case class BpeCountTokens(child: Expression, runtime: BpeRuntime)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bpe_count expects STRING, got ${child.dataType.simpleString}")
  }
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    BpeKernels.countTokens(s.asInstanceOf[UTF8String], runtime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rtRef = ctx.addReferenceObj("bpeRuntime", runtime, classOf[BpeRuntime].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.text.BpeKernels.countTokens($s, $rtRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
