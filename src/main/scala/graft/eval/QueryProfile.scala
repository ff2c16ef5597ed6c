package graft.eval

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.LshIndex
import graft.query.AnnQuery

/**
 * Per-query work profiles and eval artifact export (re-expression of
 * fspann `common/Profiler`, `query/core/TopKProfiler.java:199`,
 * `EvaluationSummaryPrinter`).
 *
 * A batch engine profiles WORK per query, not wall time — per-query
 * wall latency has no meaning when 10k queries share one plan (Bench
 * reports batch timings; SURVEY §6a). What the reference's per-query
 * CSV rows carry — candidates surfaced, refinement utilization,
 * result distances — are all set-valued facts, so the profile is
 * itself a DataFrame computed from the same probe pass the query
 * ran, and the CSV artifact is a driver-side export of that (one row
 * per query — KBs, like the reference's results dir).
 */
object QueryProfile {

  /**
   * (query_id, n_probes, n_candidates, fanout_per_table, n_results,
   * best_dist, worst_dist): probe fan-out, candidate surface, per-table
   * contribution, and top-k distance envelope per query.
   * `fanout_per_table` is the reference's `SearchDiagnostics
   * .fanoutPerTable` record (common/SearchDiagnostics.java:5-9:
   * tableId -> #unique ids contributed) as a map column — entries
   * sorted by table id so the artifact is deterministic.
   */
  def profile(probed: DataFrame, built: LshIndex.Built, result: DataFrame): DataFrame = {
    val probes = probed.groupBy(col("qid").as("query_id"))
      .agg(count(lit(1)).as("n_probes"))
    val cands = AnnQuery.candidateCounts(probed, built)
    val fanout = AnnQuery.probedMembers(probed, built)
      .groupBy(col("qid").as("query_id"), col("t"))
      .agg(countDistinct("id").as("n"))
      .groupBy("query_id")
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("t"), col("n"))))).as("fanout_per_table"))
    val res = result.groupBy("query_id").agg(
      count(lit(1)).as("n_results"),
      min("dist").as("best_dist"),
      max("dist").as("worst_dist"))
    probes
      .join(cands, Seq("query_id"), "left")
      .join(fanout, Seq("query_id"), "left")
      .join(res, Seq("query_id"), "left")
      .na.fill(0, Seq("n_candidates", "n_results"))
      .orderBy("query_id")
  }

  /** Export a (small) eval DataFrame as a single CSV artifact
    * (EvaluationSummaryPrinter / results-dir export). Driver-side by
    * design: profiles and recall tables are one row per query / per k.
    * Values whose rendering contains a comma, quote, or newline (e.g.
    * the fanout map column) are RFC-4180-quoted. */
  def exportCsv(df: DataFrame, file: String): Unit = {
    val p = Paths.get(file)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    def cell(v: Any): String = {
      if (v == null) return ""
      val s = v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val cols = df.columns
    val sb = new StringBuilder(cols.mkString(",")).append('\n')
    df.collect().foreach { r =>
      sb.append((0 until r.length).map(i => cell(r.get(i))).mkString(",")).append('\n')
    }
    Files.write(p, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Full eval artifact set for a corpus: per-query profile +
    * recall/ratio summary, exported under `outDir`. */
  def exportEvalArtifacts(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val (model, built) = AnnQuery.setupIndex(spark, sfDir)
    val data = graft.Tables.embeddings(spark, sfDir)
    val queries = data.filter(col("vec_id") < AnnQuery.NumQueries)
    val probed = AnnQuery.probeBlocks(spark, queries, model, built)
    val result = AnnQuery.refineFromProbes(probed, data, queries, AnnQuery.DefaultK, model, built)
    // per-query row carries the PAPER METRIC at the serving k, like the
    // reference's profiler.recordQueryRow(distanceRatioAtK, ...) (:710)
    val gt = AnnQuery.groundTruth(spark, sfDir, AnnQuery.DefaultK)
    val ratios = AnnQuery.distRatioByQuery(result, gt, Seq(AnnQuery.DefaultK))
      .select(col("query_id"), round(col("dist_ratio"), 4).as("dist_ratio"))
    exportCsv(profile(probed, built, result).join(ratios, Seq("query_id"), "left")
      .orderBy("query_id"), s"$outDir/per_query_profile.csv")
    exportCsv(AnnQuery.annRecallEval(spark, sfDir), s"$outDir/recall_summary.csv")
  }
}
