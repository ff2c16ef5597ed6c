package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.LshIndex
import graft.lsh.{Lsh, LshModel, LshParams}

/**
 * Per-dimension model/index registry: the reference serves several
 * vector dimensionalities at once — a `tokenFactories.get(dim)` lookup
 * routes each query to its own dim's token factory and index
 * (ForwardSecureANNSystem.java:1689-1695), and an unregistered dim
 * throws IllegalStateException. A single INDEX stays single-dim
 * (PartitionedIndexService.insert: "Mixed dimensions not supported in
 * single index" — `Lsh.fit` keeps rejecting mixed-dim input); the
 * registry is the layer above: one fitted model + one partitioned
 * index per DISTINCT embedding dimension, with queries routed by their
 * own dimension and unioned back.
 *
 * Spark posture: the dim inventory is one partial-agg distinct over
 * `size(vec)` (a handful of rows — deployments serve a few dims, not
 * thousands); each per-dim fit/build sees only its dim's slice, so
 * the per-dim indexes are exactly the single-dim ones. Query routing
 * adds no shuffle of its own: each per-dim run is the standard probe +
 * refine plan over a dim-filtered scan, and the final union is a plan
 * node.
 */
object DimRegistry {

  final case class Entry(dim: Int, model: LshModel, built: LshIndex.Built,
      slice: DataFrame)

  /**
   * On-disk dim-partitioned corpus layout (SETUP step). `size(vec)` is
   * not a pushable predicate, so a registry refining D dims against a
   * flat corpus pays D FULL scans per query batch — the one residual
   * scale cost called out in round 5. The deployment shape is to land
   * the vectors in a `vdim=<d>`-partitioned layout ONCE; every per-dim
   * fit/build/refine then reads a partition-PRUNED slice (the scan's
   * `PartitionFilters` carry `vdim = d`, and only that dim's files are
   * touched). One full pass to write, D pruned reads forever after —
   * at 100 TB this is the difference between O(D·corpus) and O(corpus)
   * per served batch.
   */
  val DimStoreBase = "/root/repo/tmp/dim_store"

  // layout written once per JVM per store key (SETUP, never timed work)
  private val storeWritten = scala.collection.mutable.Set.empty[String]

  private def dimStore(data: DataFrame, vecCol: String, key: String): DataFrame = {
    val path = s"$DimStoreBase/${key.replaceAll("[^A-Za-z0-9._-]", "_")}"
    storeWritten.synchronized {
      if (!storeWritten(key)) {
        data.withColumn("vdim", size(col(vecCol)))
          .write.partitionBy("vdim").mode("overwrite").parquet(path)
        storeWritten += key
      }
    }
    data.sparkSession.read.parquet(path)
  }

  /** One fitted model + built index per distinct dimension in `data`.
    * Each index is materialized like `AnnQuery.setupIndex`'s: the
    * registry is SETUP-phase state the server holds resident. With a
    * `storeKey`, per-dim slices come partition-pruned from the
    * [[dimStore]] layout; without one (ad-hoc/spec use) they are plain
    * dim filters over `data` — same rows either way. */
  def build(data: DataFrame, idCol: String, vecCol: String,
      params: LshParams = LshParams(), storeKey: Option[String] = None): Map[Int, Entry] = {
    val dims = data.select(size(col(vecCol)).as("d")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(dims.nonEmpty, "cannot build a dim registry over an empty corpus")
    val sliceOf: Int => DataFrame = storeKey match {
      case Some(key) =>
        val store = dimStore(data, vecCol, key)
        d => store.filter(col("vdim") === d).drop("vdim")
      case None =>
        d => data.filter(size(col(vecCol)) === d)
    }
    dims.map { d =>
      val slice = sliceOf(d)
      val model = Lsh.fit(slice, vecCol, params, orderCol = idCol)
      d -> Entry(d, model, LshIndex.build(
        LshIndex.codes(LshIndex.spread(slice), idCol, vecCol, model),
        params.blockSize).materialize(), slice)
    }.toMap
  }

  /**
   * Multi-dim LSH top-k: each query runs against ITS OWN dimension's
   * model and index — results never cross dimensions. A query whose
   * dimension has no registry entry fails loudly (reference
   * IllegalStateException, :1690-1694).
   */
  def topK(spark: SparkSession, data: DataFrame, queries: DataFrame, k: Int,
      registry: Map[Int, Entry], vecCol: String = "embedding"): DataFrame = {
    val qDims = queries.select(size(col(vecCol)).as("d")).distinct()
      .collect().map(_.getInt(0)).sorted
    val missing = qDims.filterNot(registry.contains)
    require(missing.isEmpty,
      s"no index registered for dimension(s) ${missing.mkString(", ")}")
    if (qDims.isEmpty) {
      // empty query batch: the result shape without running any probe
      import org.apache.spark.sql.types._
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType), StructField("vec_id", LongType),
          StructField("dist", DoubleType), StructField("rnk", IntegerType))))
    } else qDims.map { d =>
      val e = registry(d)
      // refine against the registry's own slice (partition-pruned when
      // the registry was built over a dim store): the index membership
      // refers to build-time ids, so the build-time slice is also the
      // semantically right refine source
      AnnQuery.lshTopK(spark,
        e.slice,
        queries.filter(size(col(vecCol)) === d),
        k, e.model, e.built)
    }.reduce(_.unionByName(_))
  }

  // ---- SparkEntry wiring ----

  /** The demo 2-dim corpus carved from the embeddings table in-query
    * (like the planted-PII pattern, the mixing is part of the QUERY,
    * not the data): even vec_ids keep their full vectors, odd vec_ids
    * are truncated to half dimension — two honest sub-corpora of
    * different dimensionality under one schema. */
  private[graft] def twoDimCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    emb.select(col("vec_id"),
      when(col("vec_id") % 2 === 0, col("embedding"))
        .otherwise(slice(col("embedding"), 1, 32)).as("embedding"))
  }

  /** Where the registry exports all per-dim fitted models (one row per
    * (vdim, t, d, j)) for the DuckDB oracle. */
  val MultidimModelExportPath = graft.FixturePaths.fixture("lsh_models_multidim.parquet")

  private def exportModels(spark: SparkSession, registry: Map[Int, Entry]): Unit = {
    import spark.implicits._
    val rows = for {
      (dim, e) <- registry.toSeq.sortBy(_._1)
      p = e.model.params
      t <- 0 until p.tables
      d <- 0 until p.divisions
      j <- 0 until p.m
      g = e.model.g(t, d)
    } yield (dim, t, d, j, g.alpha(j).toSeq, g.r(j), g.omega(j))
    rows.toDF("vdim", "t", "d", "j", "alpha", "r", "omega")
      .coalesce(1).write.mode("overwrite").parquet(MultidimModelExportPath)
  }

  // registry memo per (session, corpus), same pattern as AnnQuery.setupIndex:
  // SETUP once, serve every query entry from the resident registry
  private val registries = new graft.util.SessionMemo[String, Map[Int, Entry]]

  private[graft] def setupTwoDim(spark: SparkSession, sfDir: String): Map[Int, Entry] = {
    val r = registries(spark, sfDir) {
      // the dim-partitioned layout rides SETUP too: written once,
      // every serving entry reads pruned slices
      build(twoDimCorpus(spark, sfDir), "vec_id", "embedding",
        graft.config.GraftConfig.active.lsh, storeKey = Some(s"twodim_$sfDir"))
    }
    // fixture guard keyed on path content, outside the memo (the
    // AnnQuery.setupIndex discipline): a memo-hit after another corpus
    // overwrote the shared path re-exports this corpus's models
    graft.FixtureExport.ensure(sfDir, MultidimModelExportPath) {
      exportModels(spark, r)
    }
    r
  }

  /** Re-materialize the resident registry after an external cache
    * clear (the multi-dim twin of `AnnQuery.ensureResident`): query
    * entries then pay only QUERY-phase work, like the reference's
    * always-resident per-dim indexes. */
  def ensureResidentTwoDim(spark: SparkSession, sfDir: String): Unit =
    setupTwoDim(spark, sfDir).values.foreach(e => e.built.materialize(e.slice))

  /** Registry-routed LSH top-k over the 2-dim demo corpus (rows
    * oracle; own-dim parity and no-cross-dim guarantees spec'd in
    * DimRegistrySpec). */
  def annMultidimTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = twoDimCorpus(spark, sfDir)
    val queries = corpus.filter(col("vec_id") < AnnQuery.NumQueries)
    topK(spark, corpus, queries, AnnQuery.DefaultK, setupTwoDim(spark, sfDir))
  }

  /** Exact twin of [[annMultidimTopK]]: the same per-dim routing over
    * brute-force search — each query's exact top-k AMONG ITS OWN
    * dimension's vectors (sql oracle: the same-length join predicate
    * IS the routing). */
  def annMultidimBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = twoDimCorpus(spark, sfDir)
    val queries = corpus.filter(col("vec_id") < AnnQuery.NumQueries)
    val dims = queries.select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).sorted
    dims.map { d =>
      AnnQuery.bruteTopK(
        corpus.filter(size(col("embedding")) === d),
        queries.filter(size(col("embedding")) === d),
        AnnQuery.DefaultK)
    }.reduce(_.unionByName(_))
  }

  val annMultidimBruteSql: String =
    s"""WITH c AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % 2 = 0 THEN embedding ELSE embedding[1:32] END AS v
       |  FROM embeddings)
       |SELECT query_id, vec_id, ROUND(dist, 4) AS dist, rnk FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id, d.dist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY d.dist, e.vec_id) AS INTEGER) AS rnk
       |  FROM c q JOIN c e ON len(q.v) = len(e.v),
       |    LATERAL (SELECT list_distance(CAST(q.v AS DOUBLE[]), CAST(e.v AS DOUBLE[])) AS dist) d
       |  WHERE q.vec_id < ${AnnQuery.NumQueries})
       |WHERE rnk <= ${AnnQuery.DefaultK}""".stripMargin
}
