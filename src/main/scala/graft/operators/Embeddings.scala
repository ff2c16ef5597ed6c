package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/**
 * Embedding-pipeline operators beyond the reference surface:
 * symmetric int8 quantization (the standard storage/serving compression
 * for ANN corpora — 4x smaller vectors, distance error bounded by
 * scale). Pure built-ins (`transform`/`aggregate` are codegen'd), no
 * UDF; floor-based so the DuckDB oracle reproduces it exactly.
 */
object Embeddings {

  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val amax = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / greatest(amax, lit(1e-30))
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), v.as("e"), scale.as("scale"))
      .select(
        col("vec_id"),
        (floor(col("scale") * 1e6) / 1e6).as("scale_t"),
        transform(col("e"), x => floor(x * col("scale")).cast("int")).as("qv"))
      .select(
        col("vec_id"),
        col("scale_t"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("sum_q"),
        array_min(col("qv")).as("min_q"),
        array_max(col("qv")).as("max_q"))
  }

  // ---- random-projection (JL) dimensionality reduction ----

  /** Target dimension and seed of the demo projection. */
  val ProjTargetDim = 16
  val ProjSeed = 926L

  /** Fixture: the projection matrix (tgtDim x srcDim doubles — KBs),
    * so the DuckDB oracle replays the exact dot products. */
  val ProjExportPath = graft.FixturePaths.fixture("proj_matrix.parquet")

  /** Deterministic N(0,1)/sqrt(tgtDim) rows (the polar-Box-Muller +
    * SplittableRandom recipe of `Lsh.fitG` — reproducible across JVMs
    * by spec, no engine-portability burden because the matrix ships as
    * a fixture, not a formula). */
  private[graft] def projMatrix(srcDim: Int, tgtDim: Int): Array[Array[Double]] = {
    val rnd = new java.util.SplittableRandom(ProjSeed)
    var spare = Double.NaN
    def gaussian(): Double =
      if (!spare.isNaN) { val s = spare; spare = Double.NaN; s }
      else {
        var u = 0.0; var v = 0.0; var s2 = 0.0
        while ({ u = rnd.nextDouble() * 2 - 1; v = rnd.nextDouble() * 2 - 1; s2 = u * u + v * v; s2 >= 1.0 || s2 == 0.0 }) ()
        val mul = math.sqrt(-2.0 * math.log(s2) / s2)
        spare = v * mul
        u * mul
      }
    val inv = 1.0 / math.sqrt(tgtDim)
    Array.fill(tgtDim)(Array.fill(srcDim)(gaussian() * inv))
  }

  /**
   * Johnson–Lindenstrauss random projection: srcDim floats -> tgtDim
   * doubles via a seeded Gaussian matrix scaled by 1/sqrt(tgtDim)
   * (expected-norm-preserving), the standard cheap transform before
   * brute/IVF search when the raw dimension is wasteful. Map-only: the
   * matrix rides the plan as a literal (tgtDim x srcDim doubles — KBs;
   * broadcast() it if a deployment's matrix outgrows plan literals),
   * each output coordinate one in-order `aggregate(zip_with(...))` —
   * the SAME operation order as DuckDB's list_dot_product over the
   * exported fixture, so the doubles match bit-for-bit (rounded 4 for
   * artifact hygiene). Output exploded to (vec_id, r, v): scalar rows
   * for the gate; [[projectEmbedding]] is the array-column form
   * downstream pipelines compose.
   */
  def projectEmbedding(data: DataFrame, vecCol: String,
      matrix: Array[Array[Double]]): DataFrame = {
    val rows = typedLit(matrix.zipWithIndex.map { case (w, r) => (r, w.toSeq) }.toSeq)
    data.withColumn("proj",
      transform(rows, row => struct(row.getField("_1").as("r"),
        round(aggregate(
          zip_with(col(vecCol).cast("array<double>"), row.getField("_2"), (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x), 4).as("v"))))
  }

  def embedProject(spark: SparkSession, sfDir: String): DataFrame = {
    val data = Tables.embeddings(spark, sfDir)
    val srcDim = data.select(size(col("embedding"))).head().getInt(0)
    val m = projMatrix(srcDim, ProjTargetDim)
    graft.FixtureExport.ensure(s"$srcDim", ProjExportPath) {
      import spark.implicits._
      m.zipWithIndex.map { case (w, r) => (r, w.toSeq) }.toSeq.toDF("r", "w")
        .coalesce(1).write.mode("overwrite").parquet(ProjExportPath)
    }
    projectEmbedding(data, "embedding", m)
      .select(col("vec_id"), explode(col("proj")).as("p"))
      .select(col("vec_id"), col("p.r").as("r"), col("p.v").as("v"))
  }

  // ---- PCA whitening (data-fit rotation) ----

  /** Components kept (same target dim as the JL projection, so the
    * two reductions are directly comparable downstream). */
  val PcaDim = 16

  /** Fit-sample bound: PCA needs O(d²) statistics, not the corpus —
    * a few thousand vectors pin a 64-dim covariance; FAISS trains
    * OPQ/PCA matrices the same way. Deterministic: first N by vec_id. */
  val PcaSampleN = 2048

  /** Whitening ridge (keeps near-null directions finite). */
  val PcaEps = 1e-9

  /** Fixture: folded rows (r, w, b) with whitening and mean-centering
    * baked in — y_r = dot(x, w_r) + b_r — so the DuckDB oracle replays
    * the transform with one list_dot_product, exactly like the JL
    * fixture above. */
  val PcaExportPath = graft.FixturePaths.fixture("pca_matrix.parquet")

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic (fixed sweep order, no pivoting on magnitude), so
    * the fit reproduces bit-identically across JVMs. Returns
    * (eigenvalues, eigenvectors-as-rows). */
  private[graft] def jacobiEigen(aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case x => x
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val vals = Array.tabulate(d)(i => a(i)(i))
    val rows = Array.tabulate(d, d)((i, j) => v(j)(i))
    (vals, rows)
  }

  /** Fit principal components on a sample: returns `r` folded rows
    * (w, b) ordered by descending eigenvalue, each with a
    * deterministic sign (largest-|coord| positive) and
    * b = -dot(w, mean). `whiten` additionally scales each row by
    * 1/sqrt(λ+ε) (unit output variance — for feature pipelines;
    * DISTORTS L2, so ANN chains use the unwhitened isometry). */
  /** Shared covariance eigendecomposition of a sample: (eigenvalues,
    * eigenvectors-as-rows, mean). */
  private def covEigen(sample: Array[Array[Double]]): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val n = sample.length
    val d = sample(0).length
    require(n > 1, s"PCA fit needs > 1 vector, got $n")
    val mean = new Array[Double](d)
    sample.foreach { x => var j = 0; while (j < d) { mean(j) += x(j); j += 1 } }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { x =>
      var i = 0
      while (i < d) {
        var k = i
        while (k < d) { cov(i)(k) += (x(i) - mean(i)) * (x(k) - mean(k)); k += 1 }
        i += 1
      }
    }
    var i = 0
    while (i < d) {
      var k = i
      while (k < d) { cov(i)(k) /= (n - 1); cov(k)(i) = cov(i)(k); k += 1 }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    (vals, vecs, mean)
  }

  /** Fold an eigenvector into an output row: deterministic sign
    * (largest-|coord| positive), optional whitening scale, bias
    * b = -dot(w, mean). */
  private def foldRow(vec: Array[Double], ev: Double, mean: Array[Double],
      whiten: Boolean): (Array[Double], Double) = {
    val mi = vec.indices.maxBy(c => (math.abs(vec(c)), -c))
    val sign = if (vec(mi) < 0) -1.0 else 1.0
    val scale =
      if (whiten) sign / math.sqrt(math.max(ev, 0.0) + PcaEps) else sign
    val w = vec.map(_ * scale)
    val b = -w.zip(mean).map { case (wj, mj) => wj * mj }.sum
    (w, b)
  }

  private[graft] def fitPca(sample: Array[Array[Double]], r: Int,
      whiten: Boolean = true): Array[(Array[Double], Double)] = {
    val (vals, vecs, mean) = covEigen(sample)
    vals.zipWithIndex.sortBy { case (ev, idx) => (-ev, idx) }
      .take(math.min(r, vals.length))
      .map { case (ev, idx) => foldRow(vecs(idx), ev, mean, whiten) }
  }

  /**
   * Full-dimension unwhitened rotation with OPQ eigenvalue allocation
   * (Ge et al., "Optimized Product Quantization", CVPR 2013 §4's
   * non-parametric init): principal components are PERMUTED so each of
   * the `m` subspaces receives a balanced variance product — greedy:
   * components in descending-λ order each go to the subspace with the
   * smallest current Σ log λ that still has capacity. A plain
   * descending-λ order would pile all variance into subspace 0, which
   * a Kc-codeword sub-quantizer then cannot represent — balancing is
   * the whole point of rotating before PQ.
   */
  private[graft] def fitPcaOpq(sample: Array[Array[Double]],
      m: Int): Array[(Array[Double], Double)] = {
    val (vals, vecs, mean) = covEigen(sample)
    val d = vals.length
    require(d % m == 0, s"dim=$d not divisible into $m subspaces")
    val cap = d / m
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val logSum = new Array[Double](m)
    vals.zipWithIndex.sortBy { case (ev, idx) => (-ev, idx) }.foreach {
      case (ev, idx) =>
        val open = (0 until m).filter(buckets(_).length < cap)
        val tgt = open.minBy(b => (logSum(b), b))
        buckets(tgt) += idx
        logSum(tgt) += math.log(math.max(ev, 0.0) + PcaEps)
    }
    buckets.flatMap(_.iterator.map { idx =>
      foldRow(vecs(idx), vals(idx), mean, whiten = false)
    })
  }

  /** Map-only transform: the folded component rows ride the plan as a
    * literal; each output coordinate is one in-order
    * `aggregate(zip_with(...)) + b` — the same operation order as
    * DuckDB's `list_dot_product(...) + b` over the fixture, so the
    * doubles match bit-for-bit (rounded 4). */
  def pcaTransform(data: DataFrame, vecCol: String,
      comps: Array[(Array[Double], Double)]): DataFrame = {
    val rows = typedLit(comps.zipWithIndex.map { case ((w, b), r) => (r, w.toSeq, b) }.toSeq)
    data.withColumn("proj",
      transform(rows, row => struct(row.getField("_1").as("r"),
        round(aggregate(
          zip_with(col(vecCol).cast("array<double>"), row.getField("_2"), (x, w) => x * w),
          lit(0.0), (acc, x) => acc + x) + row.getField("_3"), 4).as("v"))))
  }

  /**
   * PCA whitening: the data-FIT counterpart of [[embedProject]]'s
   * data-free JL matrix — mean-center, rotate onto the top
   * [[PcaDim]] principal axes, scale to unit variance. The standard
   * preconditioner before PQ (whitened space makes sub-quantizer
   * budgets uniform; FAISS's OPQ/PCAW matrices) and the basis for
   * variance-ordered truncation. Fit is a driver-side O(sample·d²)
   * pass over a bounded deterministic sample; the transform is
   * map-only with the folded matrix as a plan literal.
   */
  private val comps = new graft.util.SessionMemo[String, Array[(Array[Double], Double)]]

  /** Fit once per (session, `key`), then fixture-export under `key` as
    * (r, w, b) rows — outside the memo, so a memo hit still restores
    * this fit after another corpus overwrote the shared path. */
  private def fittedComps(spark: SparkSession, key: String, path: String)(
      fit: => Array[(Array[Double], Double)]): Array[(Array[Double], Double)] = {
    val c = comps(spark, key)(fit)
    graft.FixtureExport.ensure(key, path) {
      import spark.implicits._
      c.zipWithIndex.map { case ((w, b), r) => (r, w.toSeq, b) }.toSeq
        .toDF("r", "w", "b")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    c
  }

  // the bounded, vec_id-pinned fit sample every PCA-family fit uses
  private def pcaSample(data: DataFrame): Array[Array[Double]] =
    data
      .orderBy(col("vec_id")).limit(PcaSampleN)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Fit (memoized per session+corpus) + fixture export — shared by
    * the `embed_pca` entry and the PQ-in-whitened-space chain
    * ([[graft.query.PqSearch.annPcapqTopK]]). */
  private[graft] def fittedPca(spark: SparkSession, sfDir: String): Array[(Array[Double], Double)] =
    fittedComps(spark, s"pca:$sfDir", PcaExportPath)(
      fitPca(pcaSample(Tables.embeddings(spark, sfDir)), PcaDim))

  /** Fixture for the FULL-dimension unwhitened rotation (the ANN
    * chain's isometry — distinct from the whitened [[PcaExportPath]]). */
  val PcaRotExportPath = graft.FixturePaths.fixture("pca_rotation.parquet")

  /** Full-d, unwhitened (isometric) OPQ-allocated rotation — memoized
    * + exported like [[fittedPca]]. Rotation preserves every pairwise
    * L2 exactly while [[fitPcaOpq]]'s allocation balances variance
    * across the `m` PQ subspaces
    * ([[graft.query.PqSearch.annPcapqTopK]]). */
  private[graft] def fittedPcaRotation(spark: SparkSession, sfDir: String,
      m: Int): Array[(Array[Double], Double)] =
    fittedComps(spark, s"pcarot:$m:$sfDir", PcaRotExportPath)(
      fitPcaOpq(pcaSample(Tables.embeddings(spark, sfDir)), m))

  /** Fixture for the MRL prefix rotation: the TOP dim/[[graft.query.MrlSearch.PrefixShare]]
    * principal components, unwhitened (isometric on the subspace),
    * in PLAIN descending-eigenvalue order — the variance-front-loading
    * order the Matryoshka prefix trick needs (deliberately NOT the
    * OPQ allocation of [[PcaRotExportPath]], which spreads variance
    * across subspaces; the prefix tier wants it CONCENTRATED in the
    * leading coordinates). */
  val MrlRotExportPath = graft.FixturePaths.fixture("mrl_rotation.parquet")

  /** Top-`r` unwhitened components for the rotated-prefix MRL tier
    * ([[graft.query.MrlSearch.annIvfmrlTopK]]), memoized + exported
    * like [[fittedPca]]. Projecting onto the top-r principal axes is
    * the best rank-r L2 approximation of the centered corpus, so the
    * prefix distance under this rotation dominates the raw-coordinate
    * prefix on anything with correlated dimensions — the fit that
    * buys the published MRL recall curves without an MRL-trained
    * encoder. */
  /** Sample-bounded rotation fit over an ARBITRARY embedding frame —
    * the encoder-swap recovery fit: the ONLY corpus-touching work is
    * the `limit(PcaSampleN)` sample collect (2048 rows regardless of
    * corpus size; the eigendecomposition is driver-side), in contrast
    * to SQ8's full-corpus per-dim parameter pass and PQ's multi-pass
    * codebook k-means. No fixture export — serving-side refits
    * ([[graft.streaming.MrlLifecycle.reRotate]]) own their state. */
  private[graft] def mrlRotationOf(data: DataFrame, r: Int): Array[(Array[Double], Double)] =
    fitPca(pcaSample(data), r, whiten = false)

  private[graft] def fittedMrlRotation(spark: SparkSession, sfDir: String,
      r: Int): Array[(Array[Double], Double)] =
    fittedComps(spark, s"mrlrot:$r:$sfDir", MrlRotExportPath)(
      mrlRotationOf(Tables.embeddings(spark, sfDir), r))

  def embedPca(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = fittedPca(spark, sfDir)
    pcaTransform(Tables.embeddings(spark, sfDir), "embedding", comps)
      .select(col("vec_id"), explode(col("proj")).as("p"))
      .select(col("vec_id"), col("p.r").as("r"), col("p.v").as("v"))
  }

  // `+ 0.0` after ROUND: DuckDB's ROUND preserves the IEEE sign bit
  // (-7.77e-06 -> -0.0) while Spark's round goes through BigDecimal,
  // which has no signed zero (-> +0.0). IEEE -0.0 + 0.0 = +0.0 and is
  // a no-op for every nonzero value, so the normalization aligns the
  // engines without touching any other output bit.
  val embedPcaSql: String =
    s"""SELECT e.vec_id, m.r,
       |  ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), m.w) + m.b, 4) + 0.0 AS v
       |FROM embeddings e, read_parquet('$PcaExportPath/*.parquet') m""".stripMargin

  val embedProjectSql: String =
    s"""SELECT e.vec_id, m.r,
       |  ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), m.w), 4) + 0.0 AS v
       |FROM embeddings e, read_parquet('$ProjExportPath/*.parquet') m""".stripMargin

  /**
   * `embed_diagnostics`: per-dimension health report for an embedding
   * table — the "did my encoder regress" check a pipeline owner runs
   * after every model swap or fine-tune, BEFORE spending a corpus pass
   * on re-indexing. Per dimension: mean, variance, min/max, dead share
   * (|x| < 1e-6), and a `collapsed` flag (4dp variance == 0) —
   * collapsed or dead dimensions mean the encoder is wasting capacity
   * and every distance computation is paying for coordinates that
   * carry no signal (the representation-collapse failure mode).
   *
   * Scale posture: one posexplode pass (rows × dim) whose partial
   * aggregation reduces each task to `dim` rows before the shuffle —
   * shuffle keys are the DIMENSION COUNT regardless of corpus size
   * (the CMS-sketch bounded-key argument). No fit, no fixture, no
   * join.
   *
   * Cross-engine: float→double casts are exact; cross-row double sums
   * are order-sensitive in the last bits, absorbed by the suite's
   * ROUND-4dp doctrine (the `ann_recall_eval` precedent); variance
   * uses the SAME `s2/n - (s/n)²` expression in both engines;
   * `collapsed` compares the ROUNDED variance so both engines flag
   * off identical 4dp values.
   */
  def embedDiagnostics(emb: DataFrame): DataFrame = {
    val d = emb.select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim"), col("xf").cast("double").as("x"))
    val mean = col("s") / col("n")
    val variance = col("s2") / col("n") - mean * mean
    d.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum("x").as("s"),
        sum(col("x") * col("x")).as("s2"),
        min("x").as("mn"),
        max("x").as("mx"),
        sum(when(abs(col("x")) < 1e-6, 1L).otherwise(0L)).as("nz"))
      .select(col("dim"),
        round(mean, 4).as("mean"),
        round(variance, 4).as("variance"),
        round(col("mn"), 4).as("vmin"),
        round(col("mx"), 4).as("vmax"),
        round(col("nz").cast("double") / col("n"), 4).as("dead_share"),
        (round(variance, 4) === 0.0).cast("int").as("collapsed"))
  }

  def embedDiagnosticsQuery(spark: SparkSession, sfDir: String): DataFrame =
    embedDiagnostics(Tables.embeddings(spark, sfDir))

  /** [[embedDiagnosticsSql]] over any `(vec_id, embedding)` source
    * clause — shared with the drift oracle. */
  def embedDiagnosticsSqlFrom(src: String): String =
    s"""WITH d AS (
       |  SELECT unnest(range(len(embedding))) AS dim,
       |    CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM $src),
       |a AS (
       |  SELECT dim, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS s2,
       |    MIN(x) AS mn, MAX(x) AS mx,
       |    COUNT(*) FILTER (WHERE ABS(x) < 1e-6) AS nz
       |  FROM d GROUP BY dim)
       |SELECT CAST(dim AS INTEGER) AS dim,
       |  ROUND(s / n, 4) + 0.0 AS mean,
       |  ROUND(s2 / n - (s / n) * (s / n), 4) + 0.0 AS variance,
       |  ROUND(mn, 4) + 0.0 AS vmin,
       |  ROUND(mx, 4) + 0.0 AS vmax,
       |  ROUND(CAST(nz AS DOUBLE) / n, 4) + 0.0 AS dead_share,
       |  CAST(ROUND(s2 / n - (s / n) * (s / n), 4) = 0.0 AS INTEGER) AS collapsed
       |FROM a""".stripMargin

  val embedDiagnosticsSql: String = embedDiagnosticsSqlFrom("embeddings")

  /**
   * `embed_drift`: per-dimension comparison of the RESIDENT embedding
   * table against a new batch — the "did the encoder silently change"
   * check that pairs with [[embedDiagnostics]] (one snapshot's health)
   * and `quality_drift` (the text side). An encoder swap, a
   * normalization change, or a fine-tune shows up as per-dim mean
   * shifts, sign flips, or freshly-collapsed dimensions LONG before
   * recall degrades enough to notice — and re-indexing 100 TB against
   * a drifted encoder poisons every distance in the store.
   *
   * The entry's demo plant simulates an encoder regression on the
   * delta carve (`vec_id % 5 == 0`): dim 1 collapses to 0, dim 2
   * flips sign — both EXACT float ops (literal zero, negation), so
   * the plant replays bit-identically in both engines with no float
   * hazard beyond the diagnostics' existing ROUND-4dp doctrine.
   * `drifted` compares ROUNDED values only (the minhashTune rule).
   *
   * Scale posture: two [[embedDiagnostics]] passes (each one bounded
   * partial agg keyed on dim) + a dim-sized join — nothing scales
   * with corpus size except the map-side scans.
   */
  def embedDrift(base: DataFrame, delta: DataFrame): DataFrame =
    driftFromDiags(embedDiagnostics(base), embedDiagnostics(delta))

  /** The drift comparison given two ALREADY-AGGREGATED diagnostics
    * tables ([[embedDiagnostics]] shape) — split out so the streaming
    * twin ([[graft.streaming.StreamingEmbedDrift]]) applies the
    * IDENTICAL arithmetic to its running dim-keyed aggregation
    * against a resident base diagnostics table (the
    * [[CorpusStats.driftFromHists]] discipline). */
  def driftFromDiags(baseDiag: DataFrame, deltaDiag: DataFrame): DataFrame = {
    val b = baseDiag.select(col("dim"),
      col("mean").as("base_mean"), col("variance").as("base_variance"),
      col("collapsed").as("cb"))
    val d = deltaDiag.select(col("dim"),
      col("mean").as("delta_mean"), col("variance").as("delta_variance"),
      col("collapsed").as("collapsed_delta"))
    b.join(d, Seq("dim"))
      .select(col("dim"), col("base_mean"), col("delta_mean"),
        round(col("delta_mean") - col("base_mean"), 4).as("mean_shift"),
        col("base_variance"), col("delta_variance"), col("collapsed_delta"),
        (abs(round(col("delta_mean") - col("base_mean"), 4)) > 0.1 ||
          (col("collapsed_delta") === 1 && col("cb") === 0)).cast("int")
          .as("drifted"))
  }

  def embedDriftQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    // the planted "regressed encoder": dim 1 collapses, dim 2 flips
    val delta = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 1, lit(0.0f)).when(i === 2, -x).otherwise(x))
          .as("embedding"))
    embedDrift(base, delta)
  }

  val embedDriftSql: String = {
    val baseSrc = "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0) eb"
    // DuckDB's list_transform index is 1-based (Spark's is 0-based)
    val deltaSrc =
      """(SELECT vec_id,
        |   list_transform(embedding, (x, i) ->
        |     CASE WHEN i = 2 THEN CAST(0.0 AS FLOAT)
        |          WHEN i = 3 THEN -x ELSE x END) AS embedding
        | FROM embeddings WHERE vec_id % 5 = 0) ed""".stripMargin
    s"""WITH b AS (SELECT * FROM (${embedDiagnosticsSqlFrom(baseSrc)}) x),
       |d AS (SELECT * FROM (${embedDiagnosticsSqlFrom(deltaSrc)}) y)
       |SELECT b.dim,
       |  b.mean AS base_mean, d.mean AS delta_mean,
       |  ROUND(d.mean - b.mean, 4) + 0.0 AS mean_shift,
       |  b.variance AS base_variance, d.variance AS delta_variance,
       |  d.collapsed AS collapsed_delta,
       |  CAST(ABS(ROUND(d.mean - b.mean, 4) + 0.0) > 0.1
       |    OR (d.collapsed = 1 AND b.collapsed = 0) AS INTEGER) AS drifted
       |FROM b JOIN d USING (dim)""".stripMargin
  }

  val embedQuantizeSql: String =
    """WITH s AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |    127.0 / GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale,
      |    list_transform(e, x -> CAST(FLOOR(x * scale) AS INTEGER)) AS qv
      |  FROM s)
      |SELECT vec_id,
      |  FLOOR(scale * 1e6) / 1e6 AS scale_t,
      |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS sum_q,
      |  list_min(qv) AS min_q,
      |  list_max(qv) AS max_q
      |FROM q""".stripMargin
}
