package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/**
 * `ann_tier_report`: the compression-tier selection matrix — ONE
 * side-by-side answer to the question a serving owner actually asks:
 * "which index representation do I deploy?" For each tier the library
 * ships (LSH partitions + exact refine at 1x, IVF+SQ8 at 4x, the
 * IVF+rotated-prefix MRL tier at the same 4x with a covariance-only
 * fit, IVF+PQ at ~32x, PCA-rotated PQ, 1-bit binary quantization +
 * Hamming rerank), the report gives recall@{1,10} and the
 * mean distance ratio against brute-force ground truth (the
 * reference's Aggregates.java:14-21 evaluation posture: recallAtK /
 * avgRatio / avgDistanceRatio, applied across tiers instead of to one
 * mode), plus the cost side of the trade: candidate rows scored,
 * rows exactly refined, and the bytes the candidate scan reads
 * (`cand_rows x code_bytes + refine_rows x dim x 4` — code bytes are
 * 8 per LSH membership row, dim per SQ8 code, M per PQ code, dim/8
 * per packed BQ code).
 *
 * Scale posture: every tier's top-k is the tier's OWN serving entry
 * (each individually hash-verified), ground truth is the brute-force
 * entry, the six tier evaluations run as CONCURRENT Spark jobs
 * (wall-clock ~ the slowest tier, not the sum — on a cluster the
 * jobs' stages share executors), and the metric aggregation runs
 * driver-side over bounded rows (numQueries x k per tier — the
 * reference's client-side
 * Evaluator posture, [[AnnQuery.evalMetricsLocal]] discipline, spec'd
 * there and replayed end-to-end by this entry's DuckDB oracle). The
 * candidate counters come from each tier's real pruning structure:
 * the LSH probe set's surfaced candidates + refinement bound
 * ([[AnnQuery.lshTierCounts]]), the shared IVF cells-x-probes join
 * both celled tiers route through, and the exhaustive N x queries
 * scan the rotated-PQ isolation twin deliberately pays.
 */
object TierReport {

  private def cfg = graft.config.GraftConfig.active
  def K: Int = cfg.query.k
  def NumQueries: Int = cfg.query.numQueries

  /** Bytes scored per candidate row in the LSH tier: the membership
    * row's 64-bit key (rep-Hamming is computed per block, amortized;
    * the id+key row is what the candidate union materializes). */
  val LshCandBytes = 8

  /** THE published tier-row registry — the report's row set in report
    * order. Every consumer of the report's shape (cross-suite specs,
    * the byte-budget autotune's expectations) must read THIS list, not
    * a hand-copied literal: [[annTierReport]] asserts its built rows
    * match it exactly, so adding a tier without updating the registry
    * fails the producer loudly instead of silently widening the report
    * under a stale consumer (the round-11 SqSpec miss). */
  val TierNames: Seq[String] =
    Seq("lsh_refine", "ivf_sq8", "ivf_pq", "opq_pq", "bq_hamming", "ivf_mrl_rot")

  def annTierReport(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    // corpus size/dim memoized per (session, corpus) — the sqrt-N
    // sizing-count rule; repeated report/autotune invocations should
    // not pay a count job + head job each (r16)
    val nVecs = AnnQuery.corpusCount(spark, sfDir)
    val dim = embDim(spark, sfDir, data)
    val nq = NumQueries.toLong

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    // the three prelude collects (ground truth, IVF routing counts,
    // LSH chain counts) are independent Spark jobs — run concurrently
    // like the tier evaluations below
    val gtF = Future(AnnQuery.annBruteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))
    // IVF routing shared by the SQ8 and PQ tiers: per-query candidate
    // counts from the same cells + probe lists both serving forms use
    val ivfPerQF = Future {
      val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
      val cells = IvfSearch.assignCells(data, cents)
      val probes = IvfSearch.probeCellsRanked(data.filter(col("vec_id") < NumQueries),
        cents, PqSearch.NumProbes)
      cells.join(probes, Seq("cell"))
        .groupBy("query_id").agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1))
    }
    val lshF = Future(AnnQuery.lshTierCounts(spark, sfDir))

    // the six tier top-k collects launch IMMEDIATELY, concurrent with
    // the three prelude collects above (r16 — the r15 shape awaited
    // the preludes first, so the report ran as two sequential waves:
    // wall ~ max(prelude) + max(tier) instead of ~ max(all nine);
    // guide §2.6). Thunks, not frames: each tier's build+collect runs
    // as its own concurrent Spark job (actions are thread-safe;
    // local[32] — and a real cluster — schedules the jobs' tasks
    // together). The model fits behind the thunks are one-time per
    // corpus and synchronized, so concurrent first-calls compute once
    // and everyone else waits. The candidate/byte counters join each
    // tier's metric row AFTER the awaits — driver-side arithmetic,
    // not part of the Spark jobs.
    val tierThunks = Seq[(String, () => DataFrame)](
      ("lsh_refine", () => AnnQuery.annLshTopK(spark, sfDir)),
      ("ivf_sq8", () => SqSearch.annIvfsqTopK(spark, sfDir)),
      ("ivf_pq", () => PqSearch.annIvfpqTopK(spark, sfDir)),
      ("opq_pq", () => PqSearch.annPcapqTopK(spark, sfDir)),
      ("bq_hamming", () => BqSearch.annBqTopK(spark, sfDir)),
      ("ivf_mrl_rot", () => MrlSearch.annIvfmrlTopK(spark, sfDir)))
    require(tierThunks.map(_._1) == TierNames,
      s"tier rows ${tierThunks.map(_._1)} drifted from the TierNames registry $TierNames")
    val annF = tierThunks.map { case (tier, mkDf) => tier -> Future(mkDf().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))) }.toMap

    val gt = Await.result(gtF, Duration.Inf)
    val ivfPerQ = Await.result(ivfPerQF, Duration.Inf)
    val adcKeep = PqSearch.AdcKeep.toLong
    val ivfCand = ivfPerQ.sum
    val ivfRefine = ivfPerQ.map(n => math.min(n, adcKeep)).sum
    val (lshCand, lshRefine) = Await.result(lshF, Duration.Inf)

    // (tier, candidates scored, rows exactly refined, bytes per scored
    // candidate) — the cost side of each metric row, in report order
    val tiers = Seq(
      ("lsh_refine", lshCand, lshRefine, LshCandBytes.toLong),
      ("ivf_sq8", ivfCand, ivfRefine, dim.toLong),
      ("ivf_pq", ivfCand, ivfRefine, PqSearch.M.toLong),
      ("opq_pq", nVecs * nq, math.min(nVecs, adcKeep) * nq, PqSearch.M.toLong),
      ("bq_hamming", nVecs * nq, math.min(nVecs, BqSearch.HamKeep.toLong) * nq,
        ((dim + 7) / 8).toLong),
      // rotated-prefix MRL over the same IVF routing as SQ8/PQ:
      // dim/4 float prefix = dim bytes per candidate row
      ("ivf_mrl_rot", ivfCand, ivfRefine, dim.toLong))

    import AnnQuery.{recallAt, roundAt}
    val gtRnkByPair = gt.map(t => (t._1, t._2) -> t._4).toMap
    val gtDistByRnk = gt.map(t => (t._1, t._4) -> t._3).toMap
    val queries = gt.map(_._1).distinct.sorted
    val rows = tiers.map { case (tier, cand, refine, codeBytes) =>
      val ann = Await.result(annF(tier), Duration.Inf)
      // rank-aligned distance ratio: per-query mean over gt-dist>0
      // pairs, only for queries with the full k pairs; then the mean
      // over those queries (-1.0 when no query qualifies)
      val perQueryRatio = ann.filter(_._4 <= K).groupBy(_._1).flatMap { case (_, ps) =>
        val used = ps.flatMap { case (q, _, d, rnk) =>
          gtDistByRnk.get((q, rnk)).filter(_ > 0).map(dGt => d / dGt)
        }
        if (ps.size == K && used.nonEmpty) Some(used.sum / used.size) else None
      }.toSeq
      val distRatio =
        if (perQueryRatio.isEmpty) -1.0
        else roundAt(perQueryRatio.sum / perQueryRatio.size, 4)
      // recall@K (column named recall_at_10 for the shipped k=10
      // default; the VALUE tracks query.k like the oracle's recallSql(k),
      // so a k override keeps both sides parameter-aligned)
      Row(tier, recallAt(ann, gtRnkByPair, queries, 1), recallAt(ann, gtRnkByPair, queries, K),
        distRatio, cand, refine,
        cand * codeBytes + refine * dim * 4L)
    }
    val schema = StructType(Seq(
      StructField("tier", StringType), StructField("recall_at_1", DoubleType),
      StructField("recall_at_10", DoubleType), StructField("dist_ratio", DoubleType),
      StructField("cand_rows", LongType), StructField("refine_rows", LongType),
      StructField("scan_bytes", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** One tier's metric row in the oracle: recall grids + rank-aligned
    * ratio replayed exactly as the driver-side aggregation above. */
  private def tierMetricsSql(tier: String, tk: String,
      candExpr: String, refineExpr: String, codeBytesExpr: String): String = {
    val k = K
    def recallSql(kk: Int): String =
      s"""(SELECT ROUND(AVG(CAST(h AS DOUBLE) / $kk), 4) FROM (
         |   SELECT g.query_id, COUNT(j.query_id) AS h
         |   FROM (SELECT DISTINCT query_id FROM gt) g LEFT JOIN (
         |     SELECT a.query_id FROM $tk a JOIN gt g2
         |       ON a.query_id = g2.query_id AND a.vec_id = g2.vec_id
         |     WHERE a.rnk <= $kk AND g2.rnk <= $kk) j ON j.query_id = g.query_id
         |   GROUP BY g.query_id))""".stripMargin
    s"""SELECT '$tier' AS tier,
       |  ${recallSql(1)} AS recall_at_1,
       |  ${recallSql(k)} AS recall_at_10,
       |  (SELECT COALESCE(ROUND(AVG(pr), 4), -1.0) FROM (
       |     SELECT p.query_id,
       |       SUM(CASE WHEN p.d_gt > 0 THEN p.d_ann / p.d_gt END) /
       |         COUNT(CASE WHEN p.d_gt > 0 THEN 1 END) AS pr
       |     FROM (SELECT a.query_id, a.dist AS d_ann, g.dist AS d_gt
       |           FROM $tk a LEFT JOIN gt g ON a.query_id = g.query_id AND a.rnk = g.rnk
       |           WHERE a.rnk <= $k) p
       |     GROUP BY p.query_id
       |     HAVING COUNT(*) = $k AND COUNT(CASE WHEN p.d_gt > 0 THEN 1 END) > 0)) AS dist_ratio,
       |  CAST($candExpr AS BIGINT) AS cand_rows,
       |  CAST($refineExpr AS BIGINT) AS refine_rows,
       |  CAST(($candExpr) * ($codeBytesExpr) + ($refineExpr) * (SELECT dim FROM meta) * 4
       |       AS BIGINT) AS scan_bytes""".stripMargin
  }

  /** Full oracle: every tier's own hash-verified top-k SQL nested as
    * a CTE, ground truth the brute-force SQL, candidate counters from
    * the LSH chain replay + the shared IVF routing. Conditional on
    * the LSH chain being SQL-expressible (one code word), like every
    * other LSH-chain oracle. */
  def annTierReportSqlOpt: Option[String] =
    for {
      lshSql <- AnnQuery.annLshTopKSqlOpt
      lshCountSql <- AnnQuery.lshTierCountsSqlOpt
    } yield {
      val nq = NumQueries
      val adcKeep = PqSearch.AdcKeep
      s"""WITH gt AS MATERIALIZED (${AnnQuery.annBruteTopKSql}),
         |lsh AS MATERIALIZED ($lshSql),
         |lshc AS MATERIALIZED ($lshCountSql),
         |sq AS MATERIALIZED (${SqSearch.annIvfsqTopKSql}),
         |pq AS MATERIALIZED (${PqSearch.annIvfpqTopKSql}),
         |opq AS MATERIALIZED (${PqSearch.annPcapqTopKSql}),
         |bq AS MATERIALIZED (${BqSearch.annBqTopKSql}),
         |mrl AS MATERIALIZED (${MrlSearch.annIvfmrlTopKSql}),
         |cc AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
         |iassign AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, cc.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS r
         |    FROM embeddings e CROSS JOIN cc)
         |  WHERE r = 1),
         |iprobes AS (
         |  SELECT query_id, cell FROM (
         |    SELECT q.vec_id AS query_id, cc.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(cc.cv AS DOUBLE[])), cc.cell) AS crnk
         |    FROM embeddings q CROSS JOIN cc WHERE q.vec_id < $nq)
         |  WHERE crnk <= ${PqSearch.NumProbes}),
         |ivfq AS (
         |  SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM iprobes p JOIN iassign a ON a.cell = p.cell
         |  GROUP BY p.query_id),
         |ivfc AS (
         |  SELECT CAST(SUM(n) AS BIGINT) AS cand_rows,
         |    CAST(SUM(LEAST(n, $adcKeep)) AS BIGINT) AS refine_rows
         |  FROM ivfq),
         |meta AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n,
         |                (SELECT CAST(len(embedding) AS BIGINT) FROM embeddings LIMIT 1) AS dim)
         |${tierMetricsSql("lsh_refine", "lsh",
              "(SELECT cand_rows FROM lshc)", "(SELECT refine_rows FROM lshc)",
              LshCandBytes.toString)}
         |UNION ALL
         |${tierMetricsSql("ivf_sq8", "sq",
              "(SELECT cand_rows FROM ivfc)", "(SELECT refine_rows FROM ivfc)",
              "(SELECT dim FROM meta)")}
         |UNION ALL
         |${tierMetricsSql("ivf_pq", "pq",
              "(SELECT cand_rows FROM ivfc)", "(SELECT refine_rows FROM ivfc)",
              PqSearch.M.toString)}
         |UNION ALL
         |${tierMetricsSql("opq_pq", "opq",
              s"(SELECT n * $nq FROM meta)", s"(SELECT LEAST(n, $adcKeep) * $nq FROM meta)",
              PqSearch.M.toString)}
         |UNION ALL
         |${tierMetricsSql("bq_hamming", "bq",
              s"(SELECT n * $nq FROM meta)",
              s"(SELECT LEAST(n, ${BqSearch.HamKeep}) * $nq FROM meta)",
              "(SELECT (dim + 7) // 8 FROM meta)")}
         |UNION ALL
         |${tierMetricsSql("ivf_mrl_rot", "mrl",
              "(SELECT cand_rows FROM ivfc)", "(SELECT refine_rows FROM ivfc)",
              "(SELECT dim FROM meta)")}""".stripMargin
    }

  // ---- the probe-budget curve (the OTHER serving knob) ----

  /** nProbe grid the curve sweeps (the FAISS bench's nprobe axis;
    * the library default `ivf.probes = 4` sits inside it so the
    * report grades the shipped setting against its neighbors). */
  val ProbeGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /**
   * `ann_probe_curve`: recall@{1,k} and candidate cost as a function
   * of the IVF probe budget — the knob curve a serving owner reads
   * NEXT TO [[annTierReport]]: the tier report fixes nProbe and
   * varies the representation, this fixes the representation (the
   * plain IVF serving plan every celled tier routes through) and
   * varies nProbe. Together they are the two axes of the FAISS bench
   * table.
   *
   * Scale posture: the four probe evaluations run as CONCURRENT
   * Spark jobs over the SAME resident centroids and cell assignment
   * (the fits are per-corpus memos), each a cells×probes equi-join
   * bounded by the candidate cap; metric aggregation is driver-side
   * over numQueries×k rows (the evalMetricsLocal discipline).
   * `cand_rows` = Σ_q min(candidates(q), maxCandidates) — the real
   * capped scan the plan pays; `scan_share` = cand_rows / (N×queries)
   * is the fraction of brute-force work the probe budget buys back.
   */
  def annProbeCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val nVecs = AnnQuery.corpusCount(spark, sfDir)
    val nq = NumQueries.toLong
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val queries = data.filter(col("vec_id") < NumQueries)
    val maxCand = cfg.ivf.maxCandidates

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration

    val gtF = Future(graft.query.AnnQuery.annBruteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))
    val cells = IvfSearch.assignCells(data, cents)
    val perProbe = ProbeGrid.map { p => p -> Future {
      val topk = IvfSearch.ivfTopK(spark, data, queries, K, p, cents).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      // candidate rows the capped scan reads at this budget
      val cand = IvfSearch.probeCellsRanked(queries, cents, p)
        .join(cells, "cell")
        .groupBy("query_id").agg(count(lit(1)).as("n"))
        .agg(sum(least(col("n"), lit(maxCand.toLong))).as("c"))
        .head().getLong(0)
      (topk, cand)
    }}
    val gt = Await.result(gtF, Duration.Inf)
    val gtRnkByPair = gt.map(t => (t._1, t._2) -> t._4).toMap
    val queryIds = gt.map(_._1).distinct.sorted
    val rows = perProbe.map { case (p, f) =>
      val (ann, cand) = Await.result(f, Duration.Inf)
      Row(p, AnnQuery.recallAt(ann, gtRnkByPair, queryIds, 1),
        AnnQuery.recallAt(ann, gtRnkByPair, queryIds, K), cand,
        math.floor(cand.toDouble / (nVecs * nq) * 10000) / 10000)
    }
    val schema = StructType(Seq(
      StructField("n_probe", IntegerType), StructField("recall_at_1", DoubleType),
      StructField("recall_at_10", DoubleType), StructField("cand_rows", LongType),
      StructField("scan_share", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Oracle: ground truth + one IVF chain per grid probe budget (the
    * `simsearchIvfSql` shape parameterized by nProbe), recall replayed
    * with the shared grid fragment, candidate counts as
    * Σ min(per-query candidates, cap). */
  def annProbeCurveSql: String = {
    val k = K
    val maxCand = cfg.ivf.maxCandidates
    def chain(p: Int): String =
      s"""probes_$p AS MATERIALIZED (
         |  SELECT query_id, cell, crnk FROM (
         |    SELECT q.vec_id AS query_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS crnk
         |    FROM embeddings q CROSS JOIN c WHERE q.vec_id < $NumQueries)
         |  WHERE crnk <= $p),
         |cnt_$p AS (
         |  SELECT CAST(SUM(LEAST(n, $maxCand)) AS BIGINT) AS cand_rows FROM (
         |    SELECT p.query_id, COUNT(*) AS n
         |    FROM probes_$p p JOIN assign a ON a.cell = p.cell
         |    GROUP BY p.query_id)),
         |topk_$p AS MATERIALIZED (
         |  SELECT query_id, vec_id, rnk FROM (
         |    SELECT cand.query_id, cand.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY cand.query_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                               CAST(q.embedding AS DOUBLE[])), cand.vec_id) AS rnk
         |    FROM (
         |      SELECT query_id, vec_id FROM (
         |        SELECT p.query_id, a.vec_id,
         |          ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY p.crnk, a.vec_id) AS cap_rank
         |        FROM probes_$p p JOIN assign a ON a.cell = p.cell)
         |      WHERE cap_rank <= $maxCand) cand
         |    JOIN embeddings e ON e.vec_id = cand.vec_id
         |    JOIN embeddings q ON q.vec_id = cand.query_id)
         |  WHERE rnk <= $k)""".stripMargin
    def recallSql(p: Int, kk: Int): String =
      s"""(SELECT ROUND(AVG(CAST(h AS DOUBLE) / $kk), 4) FROM (
         |   SELECT g.query_id, COUNT(j.query_id) AS h
         |   FROM (SELECT DISTINCT query_id FROM gt) g LEFT JOIN (
         |     SELECT a.query_id FROM topk_$p a JOIN gt g2
         |       ON a.query_id = g2.query_id AND a.vec_id = g2.vec_id
         |     WHERE a.rnk <= $kk AND g2.rnk <= $kk) j ON j.query_id = g.query_id
         |   GROUP BY g.query_id))""".stripMargin
    def leg(p: Int): String =
      s"""SELECT $p AS n_probe,
         |  ${recallSql(p, 1)} AS recall_at_1,
         |  ${recallSql(p, k)} AS recall_at_10,
         |  (SELECT cand_rows FROM cnt_$p) AS cand_rows,
         |  FLOOR(CAST((SELECT cand_rows FROM cnt_$p) AS DOUBLE)
         |        / (SELECT n * $NumQueries FROM meta) * 10000) / 10000 AS scan_share""".stripMargin
    s"""WITH gt AS MATERIALIZED (${graft.query.AnnQuery.annBruteTopKSql}),
       |c AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])), c.cell) AS r
       |    FROM embeddings e CROSS JOIN c)
       |  WHERE r = 1),
       |meta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |${ProbeGrid.map(chain).mkString(",\n")}
       |${ProbeGrid.map(leg).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Recall targets `ann_probe_autotune` provisions for — the SLO
    * ladder a serving owner actually negotiates (80/90/95/99). */
  val RecallTargets: Seq[Double] = Seq(0.80, 0.90, 0.95, 0.99)

  /**
   * `ann_probe_autotune`: close the loop on [[annProbeCurve]] — given
   * a recall SLO, CHOOSE the probe budget instead of printing the
   * curve and making the operator read it. One row per target in
   * [[RecallTargets]]: the minimal grid `n_probe` whose measured
   * recall@k meets the target (`met = 1`), or the maximal grid budget
   * with `met = 0` when even full probing misses the SLO — the
   * honest "this index cannot serve that target; re-train or change
   * tier" answer, with the chosen point's measured recall, capped
   * candidate rows, and brute-force scan share carried so the cost of
   * the SLO is priced in the same row.
   *
   * Scale posture: identical to the curve's — the selection itself is
   * driver-side arithmetic over the |ProbeGrid| == 4 measured points
   * (bounded by construction); all corpus-sized work is the curve's
   * concurrent capped cell scans.
   */
  def annProbeAutotune(spark: SparkSession, sfDir: String): DataFrame =
    probePickRows(spark, annProbeCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getDouble(2), r.getLong(3), r.getDouble(4))))

  /** The pick itself over measured (n_probe, recall@k, cand_rows,
    * scan_share) curve rows — shared by the in-plan and staged
    * autotunes so the policy cannot drift between them. */
  private def probePickRows(spark: SparkSession,
      curveRows: Array[(Int, Double, Long, Double)]): DataFrame = {
    val curve = curveRows.sortBy(_._1)
    val rows = RecallTargets.map { t =>
      // first (= minimal, curve sorted by n_probe) meeting budget;
      // fallback = the max-grid leg, flagged unmet
      val chosen = curve.find(_._2 >= t).getOrElse(curve.last)
      Row(t, chosen._1, if (chosen._2 >= t) 1 else 0, chosen._2, chosen._3, chosen._4)
    }
    val schema = StructType(Seq(
      StructField("target", DoubleType), StructField("n_probe", IntegerType),
      StructField("met", IntegerType), StructField("recall_at_10", DoubleType),
      StructField("cand_rows", LongType), StructField("scan_share", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Where [[probeCurveExport]] stages the measured probe board —
    * the third decision board staged this round (tier, rung, probe):
    * the four-chain curve measurement runs once per corpus
    * generation; every re-tune re-reads the resident rows. */
  val ProbeCurveExportPath: String =
    graft.FixturePaths.fixture("probe_curve.parquet")

  private def ensureProbeCurveExport(spark: SparkSession, sfDir: String): Unit =
    graft.FixtureExport.ensure(s"probecurve:$sfDir", ProbeCurveExportPath) {
      annProbeCurve(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(ProbeCurveExportPath)
    }

  /**
   * `probe_curve_export`: stage the measured probe-budget curve once
   * per (JVM, corpus) and read it back. Oracle = [[annProbeCurveSql]]
   * VERBATIM — the staged rows must hash-match the full four-chain
   * measurement, so the fixture's content is value-checked.
   */
  def probeCurveExport(spark: SparkSession, sfDir: String): DataFrame = {
    ensureProbeCurveExport(spark, sfDir)
    spark.read.parquet(ProbeCurveExportPath)
  }

  /**
   * `ann_probe_autotune_staged`: the recall-SLO probe pick at its
   * real MARGINAL cost — the identical [[annProbeAutotune]] policy
   * over the RESIDENT staged curve (4 rows) instead of re-measuring
   * all four probe budgets per invocation. The in-plan form stays as
   * the measure-and-pick cross-check.
   */
  def annProbeAutotuneStaged(spark: SparkSession, sfDir: String): DataFrame = {
    ensureProbeCurveExport(spark, sfDir)
    probePickRows(spark, spark.read.parquet(ProbeCurveExportPath).collect()
      .map(r => (r.getInt(0), r.getDouble(2), r.getLong(3), r.getDouble(4))))
  }

  /** Oracle: the full probe-curve query as a CTE referenced exactly
    * ONCE (referencing it twice doubles the curve's 4-chain work in
    * the replay engine — it spilled past temp disk at sf0.1), targets
    * as DOUBLE literals (not DECIMAL — the cross-engine literal-type
    * hazard). Selection = one window over targets × the 4 curve rows:
    * met legs first, minimal budget among met, maximal among unmet
    * (the max-grid fallback). */
  /** The pick as a CTE chain over a `curve` CTE already in scope,
    * parameterized by the target grid — shared verbatim by both
    * autotune oracles (full [[RecallTargets]] grid) and by
    * `ann_search_probe_autotuned`'s (the one [[ServeRecallTarget]]
    * leg). Ends with the `ppicked` CTE. */
  private def probeAutotunePickCtes(targetGrid: Seq[Double]): String = {
    val targets = targetGrid.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""targets(target) AS (VALUES $targets),
       |ranked AS (
       |  SELECT t.target, c.n_probe,
       |    CASE WHEN c.recall_at_10 >= t.target THEN 1 ELSE 0 END AS met,
       |    c.recall_at_10, c.cand_rows, c.scan_share
       |  FROM targets t CROSS JOIN curve c),
       |ppicked AS (
       |  SELECT target, n_probe, met, recall_at_10, cand_rows, scan_share FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY target
       |      ORDER BY met DESC,
       |               CASE WHEN met = 1 THEN n_probe ELSE -n_probe END) AS pick
       |    FROM ranked)
       |  WHERE pick = 1)""".stripMargin
  }

  def annProbeAutotuneSql: String =
    s"""WITH curve AS (
       |${annProbeCurveSql}
       |),
       |${probeAutotunePickCtes(RecallTargets)}
       |SELECT target, n_probe, met, recall_at_10, cand_rows, scan_share
       |FROM ppicked""".stripMargin

  /** Oracle for the staged probe pick: the STAGED curve parquet + the
    * identical pick SQL — no measurement chain (that absence is the
    * point). */
  def annProbeAutotuneStagedSql: String =
    s"""WITH curve AS (SELECT * FROM read_parquet('$ProbeCurveExportPath/*.parquet')),
       |${probeAutotunePickCtes(RecallTargets)}
       |SELECT target, n_probe, met, recall_at_10, cand_rows, scan_share
       |FROM ppicked""".stripMargin

  /** The recall SLO `ann_search_probe_autotuned` provisions for: the
    * 0.90 leg of [[RecallTargets]] — the middle of the SLO ladder,
    * where the probe budgets genuinely differentiate. */
  val ServeRecallTarget: Double = 0.90

  /**
   * `ann_search_probe_autotuned`: the probe loop's measure → decide →
   * EXECUTE capstone (the `ann_search_autotuned` discipline on the
   * OTHER FAISS-bench knob) — serve the query batch at the probe
   * budget the RESIDENT staged curve picks for the
   * [[ServeRecallTarget]] SLO ([[annProbeAutotuneStaged]]'s decision
   * row verbatim), through the plain IVF serving plan the curve
   * measured ([[IvfSearch.ivfTopK]]). Output = the uniform
   * (query_id, vec_id, dist, rnk) surface tagged with the chosen
   * budget and the board's `met` flag (an unreachable SLO serves the
   * max-grid budget FLAGGED — the honest degraded mode).
   *
   * Scale posture: the decision is driver-side arithmetic over the
   * 4-row resident curve; the corpus work is exactly one capped
   * probe-join serving plan at the chosen budget.
   */
  def annSearchProbeAutotuned(spark: SparkSession, sfDir: String): DataFrame = {
    val pick = annProbeAutotuneStaged(spark, sfDir)
      .filter(col("target") === ServeRecallTarget).head()
    val nProbe = pick.getInt(1)
    val data = Tables.embeddings(spark, sfDir)
    val cents = IvfSearch.fittedCorpusCentroids(spark, sfDir, data)
    val queries = data.filter(col("vec_id") < NumQueries)
    IvfSearch.ivfTopK(spark, data, queries, K, nProbe, cents)
      .withColumn("n_probe", lit(nProbe))
      .withColumn("met", lit(pick.getInt(2)))
  }

  /** Oracle: the staged curve + the shared pick CTEs at the one SLO,
    * then one IVF serving chain per grid budget (the
    * [[IvfSearch.simsearchIvfSql]] shape parameterized by nProbe,
    * sharing one centroid read + one cell assignment) behind a
    * cross-joined pick filter — whichever budget the board picks, the
    * served rows must match that budget's full chain. */
  def annSearchProbeAutotunedSql: String = {
    val maxCand = cfg.ivf.maxCandidates
    def serveCtes(np: Int): String =
      s"""sprobes_$np AS (
         |  SELECT query_id, cell, crnk FROM (
         |    SELECT q.vec_id AS query_id, sc.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), CAST(sc.cv AS DOUBLE[])), sc.cell) AS crnk
         |    FROM embeddings q CROSS JOIN sc WHERE q.vec_id < $NumQueries)
         |  WHERE crnk <= $np),
         |serve_$np AS (
         |  SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
         |    SELECT query_id, vec_id, dist,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INTEGER) AS rnk
         |    FROM (
         |      SELECT cand.query_id, cand.vec_id,
         |        list_distance(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS dist
         |      FROM (
         |        SELECT query_id, vec_id FROM (
         |          SELECT pb.query_id, a.vec_id,
         |            ROW_NUMBER() OVER (PARTITION BY pb.query_id ORDER BY pb.crnk, a.vec_id) AS cap_rank
         |          FROM sprobes_$np pb JOIN sassign a ON a.cell = pb.cell)
         |        WHERE cap_rank <= $maxCand) cand
         |      JOIN embeddings e ON e.vec_id = cand.vec_id
         |      JOIN embeddings q ON q.vec_id = cand.query_id))
         |  WHERE rnk <= $K)""".stripMargin
    def leg(np: Int): String =
      s"""SELECT s.query_id, s.vec_id, s.dist, s.rnk, pk.n_probe, pk.met
         |FROM serve_$np s CROSS JOIN pk WHERE pk.n_probe = $np""".stripMargin
    s"""WITH curve AS (SELECT * FROM read_parquet('$ProbeCurveExportPath/*.parquet')),
       |${probeAutotunePickCtes(Seq(ServeRecallTarget))},
       |pk AS MATERIALIZED (SELECT n_probe, met FROM ppicked),
       |sc AS (SELECT cell, cv FROM read_parquet('${IvfSearch.CentroidExportPath}/*.parquet')),
       |sassign AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, sc.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), CAST(sc.cv AS DOUBLE[])), sc.cell) AS r
       |    FROM embeddings e CROSS JOIN sc)
       |  WHERE r = 1),
       |${ProbeGrid.map(serveCtes).mkString(",\n")}
       |${ProbeGrid.map(leg).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** Scan-byte budget ladder for [[annTierAutotune]], as shares of
    * the brute-force scan (N × queries × dim × 4 bytes). 1.0 is the
    * everything-fits leg (pure max-recall pick); the small legs are
    * where the compressed tiers differentiate. */
  val ByteBudgets: Seq[Double] = Seq(0.02, 0.05, 0.20, 1.0)

  /** Where [[tierReportExport]] stages the measured tier board — the
    * `lm_model_export` fixture discipline applied to the DECISION
    * BOARDS: in production the expensive measurement runs once per
    * corpus generation and every re-tune re-reads the resident rows. */
  val TierReportExportPath: String =
    graft.FixturePaths.fixture("tier_report.parquet")

  private def ensureTierReportExport(spark: SparkSession, sfDir: String): Unit =
    graft.FixtureExport.ensure(s"tierreport:$sfDir", TierReportExportPath) {
      annTierReport(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(TierReportExportPath)
    }

  /**
   * `tier_report_export`: stage the measured tier-selection board once
   * per (JVM, corpus) and read it back — what the staged autotune
   * re-tunes against. Oracle = [[annTierReportSqlOpt]] VERBATIM (the
   * staged rows must hash-match the full measured chain — the
   * `knn_join_sharded_staged` discipline), so the fixture's content is
   * value-checked, not just its shape.
   */
  def tierReportExport(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTierReportExport(spark, sfDir)
    spark.read.parquet(TierReportExportPath)
  }

  /**
   * `ann_tier_autotune_staged`: the byte-budget tier pick at its real
   * MARGINAL cost — the identical [[annTierAutotune]] policy over the
   * RESIDENT staged board (6 rows) instead of re-measuring all six
   * tiers per invocation (the r14 verdict's missing #2: the in-plan
   * autotune re-runs the 3.7 s report inside a 4.7 s pick). The only
   * corpus-touching work left is the brute-scan denominator (one
   * parquet COUNT + one head row for dim). The in-plan form stays as
   * the measure-and-pick cross-check.
   */
  def annTierAutotuneStaged(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTierReportExport(spark, sfDir)
    val tiers = spark.read.parquet(TierReportExportPath).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getLong(6)))
    tierPickRows(spark, sfDir, tiers)
  }

  /** Embedding width memoized per (session, corpus) — one head() job
    * per session instead of one per board invocation. */
  private val dims = new graft.util.SessionMemo[String, Int]
  private def embDim(spark: SparkSession, sfDir: String, data: DataFrame): Int =
    dims(spark, sfDir)(data.select(size(col("embedding"))).head().getInt(0))

  /** The pick itself over measured (tier, recall@k, scan_bytes) rows —
    * shared by the in-plan and staged autotunes so the policy cannot
    * drift between them. */
  private def tierPickRows(spark: SparkSession, sfDir: String,
      tiers: Array[(String, Double, Long)]): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val nVecs = AnnQuery.corpusCount(spark, sfDir)
    val dim = embDim(spark, sfDir, data)
    val brute = nVecs * NumQueries.toLong * dim * 4L
    def share(b: Long): Double = math.floor(b.toDouble / brute * 10000) / 10000
    val rows = ByteBudgets.map { bud =>
      val chosen = tiers.sortBy { case (tier, r10, bytes) =>
        val fit = share(bytes) <= bud
        (if (fit) 0 else 1, if (fit) -r10 else 0.0, bytes, tier)
      }.head
      Row(bud, chosen._1, if (share(chosen._3) <= bud) 1 else 0,
        chosen._2, chosen._3, share(chosen._3))
    }
    val schema = StructType(Seq(
      StructField("budget_share", DoubleType), StructField("tier", StringType),
      StructField("met", IntegerType), StructField("recall_at_10", DoubleType),
      StructField("scan_bytes", LongType), StructField("byte_share", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /**
   * `ann_tier_autotune`: the REPRESENTATION-axis twin of
   * [[annProbeAutotune]] — together they close both FAISS-bench knobs
   * into decisions: given a scan-byte budget (as a share of the
   * brute-force scan), CHOOSE the tier. One row per budget in
   * [[ByteBudgets]]: among tiers whose measured `scan_bytes` share
   * fits, the one with max recall@k (ties → fewer bytes, then tier
   * name); when NOTHING fits (`met = 0`) the cheapest tier is served
   * flagged — the honest "no representation meets that budget; shrink
   * k, the probe count, or the corpus slice" answer.
   *
   * Scale posture: the selection is driver-side arithmetic over the
   * 6 measured tier rows; all corpus-sized work is the tier report's
   * concurrent evaluations.
   */
  def annTierAutotune(spark: SparkSession, sfDir: String): DataFrame =
    tierPickRows(spark, sfDir, annTierReport(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getLong(6))))

  /** The pick SQL over a `report` CTE already in scope — one window
    * pick per budget (fit DESC, max recall among fitting, cheapest
    * among non-fitting — the same composite key as the driver sort).
    * Shared verbatim by the in-plan and staged autotune oracles. */
  /** The pick as a CTE chain over a `report` CTE already in scope,
    * parameterized by the budget grid — shared verbatim by both
    * autotune oracles (full [[ByteBudgets]] grid) and by
    * `ann_search_autotuned`'s (the one [[ServeBudgetShare]] leg), so
    * the decision SQL cannot drift between the pick and its
    * execution. Ends with the `picked` CTE. */
  private def tierAutotunePickCtes(budgets: Seq[Double]): String = {
    val vals = budgets.map(b => s"(CAST($b AS DOUBLE))").mkString(", ")
    s"""m2 AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n,
       |              (SELECT CAST(len(embedding) AS BIGINT) FROM embeddings LIMIT 1) AS dim),
       |budgets(budget_share) AS (VALUES $vals),
       |shared AS (
       |  SELECT b.budget_share, r.tier, r.recall_at_10, r.scan_bytes,
       |    FLOOR(CAST(r.scan_bytes AS DOUBLE)
       |          / (SELECT n * $NumQueries * dim * 4 FROM m2) * 10000) / 10000 AS byte_share
       |  FROM budgets b CROSS JOIN report r),
       |picked AS (
       |  SELECT budget_share, tier, met, recall_at_10, scan_bytes, byte_share FROM (
       |    SELECT *, CASE WHEN byte_share <= budget_share THEN 1 ELSE 0 END AS met,
       |      ROW_NUMBER() OVER (PARTITION BY budget_share ORDER BY
       |        CASE WHEN byte_share <= budget_share THEN 0 ELSE 1 END,
       |        CASE WHEN byte_share <= budget_share THEN -recall_at_10 ELSE 0 END,
       |        scan_bytes, tier) AS pick
       |    FROM shared)
       |  WHERE pick = 1)""".stripMargin
  }

  private def tierAutotunePickSql: String =
    s"""${tierAutotunePickCtes(ByteBudgets)}
       |SELECT budget_share, tier, met, recall_at_10, scan_bytes, byte_share
       |FROM picked""".stripMargin

  /** Oracle: the tier report as a single-reference CTE + the shared
    * pick SQL. Conditional on the report's own SQL-expressibility. */
  def annTierAutotuneSqlOpt: Option[String] =
    annTierReportSqlOpt.map { reportSql =>
      s"""WITH report AS MATERIALIZED (
         |$reportSql
         |),
         |$tierAutotunePickSql""".stripMargin
    }

  /** Oracle for the staged autotune: the STAGED board parquet + the
    * identical pick SQL — no measurement chain (that absence is the
    * point), and unconditional (the fixture needs no SQL replay). */
  def annTierAutotuneStagedSql: String =
    s"""WITH report AS (SELECT * FROM read_parquet('$TierReportExportPath/*.parquet')),
       |$tierAutotunePickSql""".stripMargin

  /** The production serving budget `ann_search_autotuned` executes at:
    * 5% of the brute-force scan — the [[ByteBudgets]] leg where the
    * compressed tiers genuinely differentiate (1.0 is the
    * everything-fits pure-recall pick; 0.02 usually forces the
    * fallback). */
  val ServeBudgetShare: Double = 0.05

  /**
   * `ann_search_autotuned`: the tier loop's measure → decide →
   * EXECUTE capstone — serve the query batch with the tier the
   * RESIDENT staged board picked at [[ServeBudgetShare]]
   * ([[annTierAutotuneStaged]]'s decision row verbatim, so the pick
   * policy is shared code, not a copy). The dispatch covers all six
   * measured representations; output is each tier's uniform
   * (query_id, vec_id, dist, rnk) surface tagged with the serving
   * tier and the board's `met` flag (an unmet budget serves the
   * cheapest tier FLAGGED — the honest degraded mode, never a silent
   * one).
   *
   * Scale posture: the decision is driver-side arithmetic over the
   * 6-row resident board (plus the brute-scan denominator: one COUNT
   * + one head row); the corpus work is exactly the chosen tier's
   * serving plan — the expensive measurement never re-runs on the
   * serving path.
   */
  def annSearchAutotuned(spark: SparkSession, sfDir: String): DataFrame = {
    val pick = annTierAutotuneStaged(spark, sfDir)
      .filter(col("budget_share") === ServeBudgetShare).head()
    val tier = pick.getAs[String]("tier")
    val served = tier match {
      case "lsh_refine"  => AnnQuery.annLshTopK(spark, sfDir)
      case "ivf_sq8"     => SqSearch.annIvfsqTopK(spark, sfDir)
      case "ivf_pq"      => PqSearch.annIvfpqTopK(spark, sfDir)
      case "opq_pq"      => PqSearch.annPcapqTopK(spark, sfDir)
      case "bq_hamming"  => BqSearch.annBqTopK(spark, sfDir)
      case "ivf_mrl_rot" => MrlSearch.annIvfmrlTopK(spark, sfDir)
      case other => throw new IllegalStateException(
        s"tier board row names unknown tier '$other' — TierNames drifted")
    }
    served.withColumn("tier", lit(tier))
      .withColumn("met", lit(pick.getAs[Int]("met")))
  }

  /** Oracle: the staged board + the shared pick CTEs at the one
    * serving budget, then all six tier chains nested once each with a
    * cross-joined pick filter — the engine-side dispatch re-expressed
    * as data-dependent SQL, so whichever tier the board picks, the
    * served rows must match that tier's full chain. Conditional on
    * the LSH chain's SQL-expressibility (like the report's). */
  def annSearchAutotunedSqlOpt: Option[String] =
    AnnQuery.annLshTopKSqlOpt.map { lshSql =>
      // NOTE: the pick row's CTE name must not collide with any name
      // the nested tier chains define for themselves (sq's/bq's `p`
      // param rows bind against the outer `p` otherwise)
      def leg(cte: String, tierName: String): String =
        s"""SELECT t.query_id, t.vec_id, t.dist, t.rnk, pickrow.tier, pickrow.met
           |FROM $cte t CROSS JOIN pickrow WHERE pickrow.tier = '$tierName'""".stripMargin
      s"""WITH report AS (SELECT * FROM read_parquet('$TierReportExportPath/*.parquet')),
         |${tierAutotunePickCtes(Seq(ServeBudgetShare))},
         |pickrow AS MATERIALIZED (SELECT tier, met FROM picked),
         |lsh AS (SELECT query_id, vec_id, dist, rnk FROM (
         |$lshSql
         |)),
         |sq AS (SELECT query_id, vec_id, dist, rnk FROM (
         |${SqSearch.annIvfsqTopKSql}
         |)),
         |pq AS (SELECT query_id, vec_id, dist, rnk FROM (
         |${PqSearch.annIvfpqTopKSql}
         |)),
         |opq AS (SELECT query_id, vec_id, dist, rnk FROM (
         |${PqSearch.annPcapqTopKSql}
         |)),
         |bq AS (SELECT query_id, vec_id, dist, rnk FROM (
         |${BqSearch.annBqTopKSql}
         |)),
         |mrl AS (SELECT query_id, vec_id, dist, rnk FROM (
         |${MrlSearch.annIvfmrlTopKSql}
         |))
         |${leg("lsh", "lsh_refine")}
         |UNION ALL
         |${leg("sq", "ivf_sq8")}
         |UNION ALL
         |${leg("pq", "ivf_pq")}
         |UNION ALL
         |${leg("opq", "opq_pq")}
         |UNION ALL
         |${leg("bq", "bq_hamming")}
         |UNION ALL
         |${leg("mrl", "ivf_mrl_rot")}""".stripMargin
    }
}
