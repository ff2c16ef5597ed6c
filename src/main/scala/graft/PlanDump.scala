package graft
import org.apache.spark.sql.SparkSession

/** Round-15 measurement aid: write `.explain("formatted")` for the
  * named registry entries to `<outDir>/<name>_<suffix>.txt` — the
  * before/after plan evidence the optimization round commits under
  * `plans/r15/`. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> name1,name2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_AQE", "true"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // the localized eval entries return LocalTableScans; their lazy
    // plan twins show the shape the production pass actually executes
    val planOverrides: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "ann_recall_eval" -> (graft.query.AnnQuery.annRecallEvalPlan _),
      "ann_diagnostics" -> (graft.eval.QueryDiagnostics.annDiagnosticsPlan _))
    for (name <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = planOverrides.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.println(txt) finally w.close()
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
