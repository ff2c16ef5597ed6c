package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Model-based quality classification (the fastText-style filter of
 * CCNet / LLaMA data pipelines: a linear classifier over hashed
 * bag-of-words features separates "target distribution" text from the
 * rest). The synthetic corpus draws every language/source from ONE
 * vocabulary — no real class signal exists in it — so the query PLANTS
 * the low-quality class deterministically (the `pii_scrub`
 * discipline): docs with doc_id % 3 == 0 get a spam tail appended,
 * label = "clean", and the classifier must learn the separation from
 * text alone. The oracle plants the identical tail in SQL.
 *
 * Training is full-batch logistic-regression gradient descent run AS
 * SPARK JOBS — one exploded partial-agg shuffle per epoch whose output
 * is exactly [[NumBuckets]] rows, collected and updated driver-side
 * (the same bounded-collect discipline as [[Bpe.fit]]'s vocab table).
 * Features are mean-pooled hashed unigrams (xxhash64 mod
 * [[NumBuckets]]), so the feature extraction is codegen'd built-ins.
 *
 * Serving is MAP-ONLY and float-free: the fitted weights ride the plan
 * as a micro-scaled (1e6) LONG array literal, each doc's score is an
 * exact integer sum over `element_at` lookups, and the keep decision
 * `mean logit >= 0` is the integer compare
 * `w_sum_micro + bias_micro * n_feats >= 0` — bit-identical on any
 * engine, which is what lets DuckDB replay it from the exported
 * (token -> bucket, bucket -> weight) fixtures.
 *
 * Scale posture: an epoch is one map + one 512-row shuffle over the
 * fit sample; at 100 TB you fit on a deterministic hash-sample of
 * ~1M docs (`fitFilter`) and serve map-only over everything.
 */
object QualityClassifier {

  val NumBuckets = 512
  val Epochs = 30
  val LearningRate = 30.0

  val TokenBucketsExportPath = graft.FixturePaths.fixture("qc_token_buckets.parquet")
  val WeightsExportPath = graft.FixturePaths.fixture("qc_weights.parquet")

  /** Hashed feature-bucket array of a text column (1-based buckets are
    * applied at lookup; stored 0-based). */
  def featureBuckets(text: Column): Column =
    transform(split(lower(text), " "),
      t => pmod(xxhash64(t), lit(NumBuckets)).cast("int"))

  final case class QcModel(weights: Array[Double], bias: Double,
                           lossHistory: Array[Double]) {
    def weightsMicro: Array[Long] = weights.map(x => math.floor(x * 1e6).toLong)
    def biasMicro: Long = math.floor(bias * 1e6).toLong
  }

  /**
   * Full-batch GD fit. `fitFilter` bounds the training sample (pass a
   * deterministic hash predicate for huge corpora; default keeps all).
   * Per epoch: score every doc map-side with the current weights as an
   * array literal, explode its buckets, and aggregate gradient (and
   * loss, spread per-token so ONE agg carries both) per bucket —
   * NumBuckets result rows regardless of corpus size.
   */
  def fit(docs: DataFrame, textCol: String, labelCol: Column,
          epochs: Int = Epochs, lr: Double = LearningRate,
          fitFilter: Column = lit(true)): QcModel = {
    val base = docs.where(fitFilter)
      .select(featureBuckets(col(textCol)).as("f"),
        labelCol.cast("double").as("y"))
      .where(size(col("f")) > 0)
      .cache()
    val nDocs = base.count().toDouble
    require(nDocs > 0, "quality classifier fit: empty training sample")
    val w = new Array[Double](NumBuckets)
    var bias = 0.0
    // Adagrad accumulators: per-coordinate adaptive steps — bucket
    // gradients span orders of magnitude (token frequency is Zipfian),
    // a single global rate either crawls or diverges
    val gAcc = new Array[Double](NumBuckets)
    var gAccBias = 0.0
    val Eps = 1e-8
    val losses = new Array[Double](epochs)
    var e = 0
    while (e < epochs) {
      val wLit = typedLit(w)
      val n = size(col("f")).cast("double")
      val score = lit(bias) +
        aggregate(col("f"), lit(0.0), (acc, b) => acc + element_at(wLit, b + 1)) / n
      val p = lit(1.0) / (lit(1.0) + exp(-score))
      val logloss = -(col("y") * log(greatest(p, lit(1e-12))) +
        (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(1e-12))))
      val perBucket = base
        .select(((p - col("y")) / n).as("g"), (logloss / n).as("l"),
          explode(col("f")).as("b"))
        .groupBy(col("b"))
        .agg(sum(col("g")).as("g"), sum(col("l")).as("l"))
        .collect()
      var gBias = 0.0
      var loss = 0.0
      perBucket.foreach { r =>
        val b = r.getInt(0); val g = r.getDouble(1) / nDocs
        // occurrences of bucket b summed (p-y)/n -> dLoss/dw_b; the
        // grand total over buckets telescopes to sum(p-y) = dLoss/dbias
        gAcc(b) += g * g
        w(b) -= lr * g / (math.sqrt(gAcc(b)) + Eps)
        gBias += g
        loss += r.getDouble(2)
      }
      gAccBias += gBias * gBias
      bias -= lr * gBias / (math.sqrt(gAccBias) + Eps)
      losses(e) = loss / nDocs
      e += 1
    }
    base.unpersist()
    QcModel(w, bias, losses)
  }

  /** Planted low-quality tail (see object doc). */
  val SpamTail = " click here free offer buy now winner prize claim instant bonus"

  /** Deterministic planted-class corpus: doc_id % 3 == 0 -> spam. */
  def plantedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(SpamTail)))
        .otherwise(col("text")).as("text"))

  /** Label: 1 = clean (keep), 0 = planted spam. */
  def plantedLabel: Column = col("doc_id") % 3 =!= 0

  // fitted once per (session, corpus) — bench reps time serving, not refits
  private val fits = new graft.util.SessionMemo[String, QcModel]

  def fitFor(spark: SparkSession, sfDir: String): QcModel =
    fits(spark, sfDir)(fit(plantedDocs(Tables.documents(spark, sfDir)), "text", plantedLabel))

  /** Map-only scoring with an already-fitted model: integer-exact
    * columns only (see object doc). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            labelCol: Column, model: QcModel): DataFrame = {
    val wLit = typedLit(model.weightsMicro)
    val f = featureBuckets(col(textCol))
    docs.select(col(idCol).as("doc_id"), labelCol.cast("int").as("label"),
      f.as("f"))
      .select(col("doc_id"), col("label"), size(col("f")).as("n_feats"),
        aggregate(col("f"), lit(0L), (acc, b) => acc + element_at(wLit, b + 1))
          .as("w_sum_micro"))
      .withColumn("pred",
        (col("w_sum_micro") + lit(model.biasMicro) * col("n_feats") >= 0).cast("int"))
  }

  def qualityClassifierQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val model = fitFor(spark, sfDir)
    val planted = plantedDocs(Tables.documents(spark, sfDir))
    graft.FixtureExport.ensure(sfDir, TokenBucketsExportPath) {
      planted.select(explode(split(lower(col("text")), " ")).as("tok"))
        .distinct()
        .select(col("tok"),
          pmod(xxhash64(col("tok")), lit(NumBuckets)).cast("int").as("bucket"))
        .coalesce(1).write.mode("overwrite").parquet(TokenBucketsExportPath)
    }
    graft.FixtureExport.ensure(sfDir, WeightsExportPath) {
      import spark.implicits._
      (model.weightsMicro.zipWithIndex
        .map { case (wm, b) => (b, wm) } :+ ((-1, model.biasMicro)))
        .toSeq.toDF("bucket", "w_micro")
        .coalesce(1).write.mode("overwrite").parquet(WeightsExportPath)
    }
    score(planted, "doc_id", "text", plantedLabel, model)
  }

  val qualityClassifierSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || '$SpamTail' ELSE text END AS text
       |  FROM documents),
       |tb AS (SELECT * FROM read_parquet('$TokenBucketsExportPath/*.parquet')),
       |wt AS (SELECT * FROM read_parquet('$WeightsExportPath/*.parquet')),
       |bi AS (SELECT w_micro AS bias_micro FROM wt WHERE bucket = -1),
       |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |         FROM planted),
       |j AS (SELECT t.doc_id, w.w_micro
       |      FROM toks t JOIN tb USING (tok) JOIN wt w USING (bucket)
       |      WHERE w.bucket >= 0),
       |s AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(w_micro) AS w_sum_micro
       |      FROM j GROUP BY doc_id)
       |SELECT d.doc_id, CAST(d.doc_id % 3 <> 0 AS INTEGER) AS label,
       |  CAST(COALESCE(s.n_feats, 0) AS INTEGER) AS n_feats,
       |  CAST(COALESCE(s.w_sum_micro, 0) AS BIGINT) AS w_sum_micro,
       |  CAST(COALESCE(s.w_sum_micro, 0) + bi.bias_micro * COALESCE(s.n_feats, 0) >= 0
       |    AS INTEGER) AS pred
       |FROM planted d CROSS JOIN bi LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin
}
