package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * TRAINED language identification — the model-based upgrade over the
 * [[TextAnalysis.langId]] stopword heuristic, closing the last text
 * signal below production grade: a hashed character-3-gram multinomial
 * Naive Bayes (the classic langid baseline; fastText-style hashed
 * features + a linear decision in log space) fitted on labeled text,
 * served with [[QualityClassifier]]'s integer-exact discipline.
 *
 * Why a model: the heuristic only knows the languages someone wrote a
 * stopword list for — the corpus's `zh` documents have NO profile and
 * can never be predicted. The trained model learns every class in the
 * training labels from text alone; the planted corpus makes exactly
 * that difference measurable (spec: trained accuracy >= heuristic,
 * strictly better on zh).
 *
 * The synthetic corpus's `lang` column does not correlate with its
 * text (one shared vocabulary), so the entry PLANTS the language
 * signal deterministically (the `pii_scrub` discipline): each doc
 * gets a tail of its language's characteristic words — the stopword
 * profiles for de/en/es/fr, a romanized function-word list for zh —
 * mirrored verbatim in the oracle SQL.
 *
 * Fit is ONE aggregation pass (not epoch-wise GD — NB's sufficient
 * statistics are just counts): (lang, bucket) gram counts + class
 * priors, collected driver-side (<= classes x buckets rows regardless
 * of corpus size). Serving is map-only and float-free: per-class
 * weights ride the plan as micro-scaled (1e6) LONG array literals,
 * a doc's class score is an exact integer sum over `element_at`
 * lookups plus the prior, and argmax ties break to the first class in
 * sorted order — bit-identical on any engine, replayed by DuckDB from
 * the exported (gram -> bucket, (lang, bucket) -> weight) fixtures.
 *
 * Scale posture: fit on a hash-sample at 100 TB, serve map-only over
 * everything; the only fit shuffle outputs classes x buckets rows.
 */
object LangIdTrained {

  val NumBuckets = 1024
  val GramLen = 3

  val GramBucketsExportPath = graft.FixturePaths.fixture("langid_gram_buckets.parquet")
  val WeightsExportPath = graft.FixturePaths.fixture("langid_weights.parquet")

  /** Romanized zh function words for the plant — the class the
    * stopword heuristic structurally cannot predict (no profile). */
  val ZhWords: Seq[String] =
    Seq("zhe", "shi", "bu", "wo", "ni", "ta", "hao", "ma", "ne", "ba")

  /** Per-language planted tails: profile words x3 for profile
    * languages, [[ZhWords]] x3 for zh — enough mass that both the
    * heuristic (where a profile exists) and the model see the class. */
  val LangTails: Seq[(String, String)] = {
    val profiles = TextAnalysis.StopwordProfiles.toMap
    Seq("de", "en", "es", "fr").map(l =>
      l -> Seq.fill(3)(profiles(l).mkString(" ")).mkString(" ")) :+
      ("zh" -> Seq.fill(3)(ZhWords.mkString(" ")).mkString(" "))
  }

  /** (doc_id, lang, text + tail): the deterministic multilingual plant. */
  def plantedDocs(docs: DataFrame): DataFrame = {
    val tail = LangTails.foldLeft(lit(""): Column) { case (acc, (l, t)) =>
      when(col("lang") === l, lit(t)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "), tail).as("text"))
  }

  /** Character 3-grams of a text column as strings, one per start
    * position (a text shorter than the gram yields its whole self as
    * the single gram). Built by zipping GramLen SHIFTED SLICES of the
    * char array — each slice evaluates once, O(len) total. The naive
    * `transform(sequence(...), i -> substr(text, i, 3))` form is
    * O(len²): UTF8String.substring seeks from the string start on
    * every call (measured 0.9→5.8 s on a 10× doc step before this
    * rewrite — the Dedup.shingles lesson replayed at char level). */
  private[graft] def charGrams(text: Column): Column = {
    // defensive ""-filter: regex-"" split semantics differ across
    // engines and versions on boundary empties; dropping empties is
    // correct under all of them
    val chars = filter(split(text, ""), c => c =!= lit(""))
    val n = size(chars)
    val slices = (0 until GramLen).map(j =>
      slice(chars, lit(j + 1), n - (GramLen - 1)).as(s"c$j"))
    when(n >= GramLen,
      transform(arrays_zip(slices: _*),
        z => concat((0 until GramLen).map(j => z.getField(s"c$j")): _*)))
      .otherwise(array(text))
  }

  /** Hashed bucket per character 3-gram. Pure codegen'd built-ins. */
  def gramBuckets(text: Column): Column =
    transform(charGrams(text),
      g => pmod(xxhash64(g), lit(NumBuckets)).cast("int"))

  /** Fitted model: classes in sorted order (= argmax tie-break order),
    * per-class micro-scaled bucket weights + priors. */
  final case class LangIdModel(classes: Seq[String],
      weightsMicro: Array[Array[Long]], priorsMicro: Array[Long])

  /**
   * One-pass multinomial-NB fit: per-(lang, bucket) gram counts and
   * class priors, Laplace-smoothed, log-micro-scaled driver-side.
   * The aggregation output is <= classes x NumBuckets rows — bounded
   * by construction, never corpus-sized.
   */
  def fit(planted: DataFrame): LangIdModel = {
    val counts = planted
      .select(col("lang"), explode(gramBuckets(col("text"))).as("b"))
      .groupBy("lang", "b").count()
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val priors = planted.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(priors.nonEmpty, "langid fit: empty training corpus")
    val classes = priors.keys.toSeq.sorted
    val nDocs = priors.values.sum.toDouble
    val totals = classes.map(c =>
      c -> (0 until NumBuckets).map(b => counts.getOrElse((c, b), 0L)).sum).toMap
    def micro(x: Double): Long = math.floor(x * 1e6).toLong
    val w = classes.map { c =>
      val tot = totals(c).toDouble + NumBuckets
      Array.tabulate(NumBuckets)(b =>
        micro(math.log((counts.getOrElse((c, b), 0L) + 1.0) / tot)))
    }.toArray
    val pr = classes.map(c => micro(math.log(priors(c) / nDocs))).toArray
    LangIdModel(classes, w, pr)
  }

  private val fits = new graft.util.SessionMemo[String, LangIdModel]

  def fitFor(spark: SparkSession, sfDir: String): LangIdModel =
    fits(spark, sfDir)(fit(plantedDocs(Tables.documents(spark, sfDir))))

  /** Map-only scoring: integer class scores, argmax with first-class
    * tie-break (classes are sorted, so ties resolve to the
    * alphabetically first — the ORDER BY score DESC, lang rank-1 of
    * the oracle). */
  def score(planted: DataFrame, model: LangIdModel): DataFrame = {
    val base = planted.select(col("doc_id"), col("lang"),
      gramBuckets(col("text")).as("f"))
    val scoreCols = model.classes.zipWithIndex.map { case (c, i) =>
      val wLit = typedLit(model.weightsMicro(i))
      (aggregate(col("f"), lit(0L), (acc, b) => acc + element_at(wLit, b + 1)) +
        lit(model.priorsMicro(i))).as(s"s_$c")
    }
    val scored = base.select(col("doc_id") +: col("lang") +: scoreCols: _*)
    val best = greatest(model.classes.map(c => col(s"s_$c")): _*)
    val pred = model.classes.foldRight(lit("und"): Column) { case (c, acc) =>
      when(col(s"s_$c") === best, lit(c)).otherwise(acc)
    }
    // foldRight builds when(c0).when(c1)... in class order, so the
    // FIRST class at the max wins — matching sorted-order tie-break
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"),
      best.as("score_micro"))
      .withColumn("correct", (col("pred_lang") === col("lang")).cast("int"))
  }

  def langIdTrainedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val model = fitFor(spark, sfDir)
    val planted = plantedDocs(Tables.documents(spark, sfDir))
    graft.FixtureExport.ensure(sfDir, GramBucketsExportPath) {
      planted.select(explode(charGrams(col("text"))).as("gram"))
        .distinct()
        .select(col("gram"),
          pmod(xxhash64(col("gram")), lit(NumBuckets)).cast("int").as("bucket"))
        .coalesce(1).write.mode("overwrite").parquet(GramBucketsExportPath)
    }
    graft.FixtureExport.ensure(sfDir, WeightsExportPath) {
      import spark.implicits._
      val rows = model.classes.zipWithIndex.flatMap { case (c, i) =>
        model.weightsMicro(i).zipWithIndex.map { case (wm, b) => (c, b, wm) } :+
          ((c, -1, model.priorsMicro(i)))
      }
      rows.toDF("lang", "bucket", "w_micro")
        .coalesce(1).write.mode("overwrite").parquet(WeightsExportPath)
    }
    // r15: spread the serving scan — documents.parquet is one split at
    // test SFs, so the map-only scoring fold (|text| × classes lookups
    // per row) ran single-task (profiled: 2 tasks / 2.4 s task time on
    // 32 cores). LshIndex.spread is a no-op at scale (real corpora
    // split); map-only, so the row set is partitioning-independent.
    score(graft.index.LshIndex.spread(planted), model)
  }

  def langIdTrainedSql: String = {
    val tails = LangTails.map { case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"""WITH planted AS (
       |  SELECT doc_id, lang,
       |    text || ' ' || (CASE lang $tails ELSE '' END) AS text
       |  FROM documents),
       |gb AS (SELECT * FROM read_parquet('$GramBucketsExportPath/*.parquet')),
       |wt AS (SELECT * FROM read_parquet('$WeightsExportPath/*.parquet')),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, GREATEST(len(text) - ${GramLen - 1}, 1) + 1),
       |    i -> substr(text, i, $GramLen))) AS gram
       |  FROM planted),
       |j AS (
       |  SELECT g.doc_id, w.lang, w.w_micro
       |  FROM grams g JOIN gb USING (gram) JOIN wt w USING (bucket)
       |  WHERE w.bucket >= 0),
       |s AS (SELECT doc_id, lang, SUM(w_micro) AS ws FROM j GROUP BY doc_id, lang),
       |p AS (
       |  SELECT s.doc_id, s.lang, s.ws + pr.w_micro AS score
       |  FROM s JOIN (SELECT lang, w_micro FROM wt WHERE bucket = -1) pr USING (lang)),
       |pick AS (
       |  SELECT doc_id, lang AS pred_lang, score FROM (
       |    SELECT p.*, ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lang) AS rn FROM p)
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.lang, k.pred_lang, CAST(k.score AS BIGINT) AS score_micro,
       |  CAST(k.pred_lang = d.lang AS INTEGER) AS correct
       |FROM planted d JOIN pick k ON d.doc_id = k.doc_id""".stripMargin
  }
}
