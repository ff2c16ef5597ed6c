package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Corpus-assembly scale probe (diagnostic main, like PlanDump):
 * 500k docs x 5 strata in /tmp, scalable paths vs windowed twins.
 * Measured (local[32], warm): the bounded data_mix BEATS the full
 * window (1.6s vs 2.7s); bounded sampling and bucketed seq_pack pay
 * ~0.7-1.0s of extra stages/scans at this toy scale — the constant
 * factor that buys unbounded reducer parallelism when a stratum
 * outgrows one executor.
 */
object StressCorpus {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val path = "/tmp/stress_docs.parquet"
    if (!new java.io.File(path).exists()) {
      // 500k docs, 5 strata, 10-200 tokens each (~50M tokens)
      spark.range(500000).select(
        col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 5)).as("lang"),
        concat_ws(" ", transform(sequence(lit(1), (pmod(hash(col("id")), lit(191)) + 10)),
          i => concat(lit("w"), pmod(i * col("id"), lit(997))))).as("text"))
        .repartition(32).write.mode("overwrite").parquet(path)
    }
    val docs = spark.read.parquet(path)
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    import graft.operators.Corpus
    val weights = (0 until 5).map(s => s"s$s" -> 0.2).toMap
    for (rep <- 1 to 2) {
      println(s"--- rep $rep")
      time("seq_pack bucketed  ")(Corpus.seqPack(docs, "lang", 2048).count())
      time("seq_pack windowed  ")(Corpus.seqPackWindowed(docs, "lang", 2048).count())
      time("sample bounded     ")(Corpus.sampleStratified(docs, "lang", 50).count())
      time("sample windowed    ")(Corpus.sampleStratifiedWindowed(docs, "lang", 50).count())
      time("data_mix bounded   ")(Corpus.dataMix(docs, "lang", weights, 100000L).count())
      time("data_mix windowed  ")(Corpus.dataMixWindowed(docs, "lang", weights, 100000L).count())
    }
    spark.stop()
  }
}
