package graft.perfbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

/** One run's session, clock and results. */
final class Ctx(val spark: SparkSession, val probe: Probe, val seed: Long,
    val seconds: Double, val work: String, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  private var shown = 0
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, Double]

  /** Count one checked operation; any error message fails it. */
  def attempt(what: String, errs: Seq[String]): Unit = {
    attempted += 1
    if (errs.nonEmpty) {
      failed += 1
      errs.take(3).foreach(e => if (shown < 20) { shown += 1; System.err.println(s"[perfbench] FAIL $what: $e") })
    }
  }

  def e2e(name: String, v: Double, unit: String, n: Int): Unit = {
    e2eMetrics(name) = (v, unit)
    details(s"$name.n") = n
  }
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def detail(name: String, v: Double): Unit = details(name) = v

  /** Closed loop: run `op(1)`, `op(2)`, … until [[seconds]] have
    * passed and at least `minOps` ran; each returns its sample's wall
    * time. An operation that throws counts as attempted and failed. */
  def window(minOps: Int = 1)(op: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    var i = 1
    while (i <= minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      try walls += op(i)
      catch {
        case NonFatal(e) =>
          attempt(s"operation $i", Seq(e.toString))
          if (walls.isEmpty && i >= 3) throw e
      }
      i += 1
    }
    walls.toSeq
  }

  /** Storage memory held by cached data, in MB. */
  def residentMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}

object Ctx {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def digest(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/**
 * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
 *
 * Prints a detail line, then the result line
 * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`: end-to-end
 * metrics with `--trace 0`; per-layer metrics, and the traced run's
 * own end-to-end numbers as `traced.*`, with `--trace 1`.
 */
object Main {
  val Workloads = Seq("ann_serve", "ann_lifecycle", "corpus_pipeline")
  val EndToEnd = Seq("setup_s", "op_p50_s", "items_per_s", "quality")
  /** Set-ups per run; `setup_s` is their median. Two keep the gated runs
    * inside their time budget. */
  val SetupReps = 2

  /** Every per-layer metric with its unit, in output order. A traced
    * run reports all of them; a layer its workload does not call
    * reports 0. */
  val PerLayer: Seq[(String, String)] = {
    def verb(v: String, planned: Boolean) =
      Seq(s"$v.eager_s" -> "s") ++
        (if (planned) Seq(s"$v.plan_s" -> "s", s"$v.exec_s" -> "s", s"$v.bhj" -> "count",
          s"$v.smj" -> "count") else Nil) ++
        Seq(s"$v.jobs" -> "count", s"$v.tasks" -> "count", s"$v.task_s" -> "s",
          s"$v.shuffle_write_mb" -> "MB")
    verb("GraftSystem.query", planned = true) ++ verb("GraftSystem.insert", planned = false) ++
      verb("GraftSystem.rotate", planned = true) ++ verb("GraftSystem.compact", planned = false) ++
      Seq("GraftSystem.resident_mb" -> "MB",
        "lsh.fit_s" -> "s", "lsh.query_codes_s" -> "s",
        "index.build_s" -> "s", "index.build.eager_jobs" -> "count", "index.delta_build_s" -> "s",
        "query.probe_s" -> "s", "query.candidates_per_query" -> "count", "query.refine_s" -> "s",
        "query.refined_per_result" -> "ratio",
        "crypto.encrypt_s" -> "s", "crypto.rotate_s" -> "s", "crypto.key_usage_s" -> "s",
        "crypto.rotate_records_per_touched" -> "ratio",
        "text.normalize_s" -> "s", "text.pii_scrub_s" -> "s", "text.rules_s" -> "s",
        "text.lm_score_s" -> "s",
        "operators.curate_s" -> "s", "operators.curate.eager_jobs" -> "count",
        "operators.curate.exec_jobs" -> "count", "operators.curate.task_s" -> "s",
        "operators.curate.bhj" -> "count", "operators.curate.smj" -> "count",
        "operators.curate_overhead" -> "ratio", "operators.decontaminate_s" -> "s",
        "operators.pack_s" -> "s", "operators.pack_fill" -> "fraction",
        "dedup.minhash_pairs_s" -> "s", "dedup.candidate_pairs" -> "count",
        "dedup.verified_frac" -> "fraction", "dedup.hot_buckets_dropped" -> "count",
        "dedup.cc_s" -> "s", "dedup.cc_jobs" -> "count", "dedup.apply_s" -> "s",
        "dedup.apply.bhj" -> "count", "dedup.apply.smj" -> "count",
        "spark.gc_s" -> "s", "spark.spill_mb" -> "MB", "spark.cached_rdds_end" -> "count",
        "host.calibration_s" -> "s") ++
      Seq("traced.setup_s" -> "s", "traced.op_p50_s" -> "s", "traced.items_per_s" -> "1/s",
        "traced.quality" -> "fraction")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors
    // graft.Bench's session: cached-plan AQE, shuffle partitions = cores, UI off, UTC
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ctx = new Ctx(spark, new Probe(spark, traced), opts("seed").toLong,
        opts("seconds").toDouble, work, cores)
      val gc0 = gcSeconds()
      workload match {
        case "ann_serve" => new Ann(ctx).serve()
        case "ann_lifecycle" => new Ann(ctx).lifecycle()
        case "corpus_pipeline" => new Pipeline(ctx).run()
      }
      ctx.detail("calibration_s", calibration(spark))
      ctx.detail("cores", cores)
      val missing = EndToEnd.filterNot(ctx.e2eMetrics.contains)
      require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(",")}")
      val metrics =
        if (!traced) ctx.e2eMetrics.toSeq
        else {
          ctx.probe.drain()
          val all = ctx.probe.groups.all
          ctx.layer("spark.gc_s", gcSeconds() - gc0, "s")
          ctx.layer("spark.spill_mb", all.spillBytes / 1e6, "MB")
          ctx.layer("spark.cached_rdds_end", spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
          ctx.layer("host.calibration_s", ctx.details("calibration_s"), "s")
          ctx.e2eMetrics.foreach { case (k, v) => ctx.layerMetrics(s"traced.$k") = v }
          val unknown = ctx.layerMetrics.keySet -- PerLayer.map(_._1)
          require(unknown.isEmpty, s"per-layer metrics missing from the list: ${unknown.mkString(",")}")
          PerLayer.map { case (k, u) => k -> (ctx.layerMetrics.get(k).fold(0.0)(_._1), u) }
        }
      val finite = metrics.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
      val correct = ctx.failed == 0 && ctx.attempted > 0 && finite && ctx.probe.nonFinalPlans == 0
      if (ctx.probe.nonFinalPlans > 0)
        System.err.println(s"[perfbench] ${ctx.probe.nonFinalPlans} plans were read before they were final")
      println(obj(Seq("workload" -> s"\"$workload\"",
        "detail" -> obj(ctx.details.toSeq.map { case (k, v) => k -> num(v) }))))
      println(obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> ctx.attempted.toString,
        "failed" -> ctx.failed.toString,
        "metrics" -> obj(metrics.map { case (k, (v, u)) =>
          k -> obj(Seq("value" -> num(v), "unit" -> s"\"$u\"")) }))))
    } finally spark.stop()
  }

  /** graft.Bench's `_calibration` kernel (64M-row range → 9973-key
    * hash aggregate), timed once after the workload, when the JVM is
    * warm: divides out host drift between runs. */
  private def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64L << 20, 1L, 32).selectExpr("id % 9973 AS k", "id")
      .groupBy("k").agg(sum("id"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
}
