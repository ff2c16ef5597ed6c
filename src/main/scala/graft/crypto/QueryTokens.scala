package graft.crypto

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.vec_l2
import graft.index.LshIndex
import graft.lsh.LshModel
import graft.query.AnnQuery

/**
 * Encrypted query tokens (re-expression of fspann
 * `query/core/QueryTokenFactory.create`, QueryTokenFactory.java:63,
 * and `common/QueryToken`): a query never reaches the serving side in
 * plaintext. A token is
 *
 *  - the per-(table, division) LSH codes of the query vector
 *    (computed CLIENT-side with the shared model — reference
 *    "Query and index share identical GFunctions"), and
 *  - the AES-GCM ciphertext of the packed vector under the current
 *    key version (reference `crypto.encryptQuery`), with
 *    (kv, dim, topK) metadata.
 *
 * The serving plan consumes ONLY the codes: [[AnnQuery.probeBlocksCoded]]
 * collects them and walks the probe map on the driver, and
 * [[AnnQuery.boundedCandidates]] runs the LSH serving kernel (candidate
 * union, HARD_CAP, Hamming refinement bound) over the index's
 * codes-only table, whose rows carry ids and block memberships and no
 * vector — no plaintext vector exists server-side. The server returns
 * encrypted candidate records; the final exact-L2 top-k happens where
 * the keys live ([[tokenTopK]] decrypts candidates and the token's
 * own ciphertext).
 *
 * TokenSpec asserts the token path returns exactly the plaintext
 * path's top-k (AES/pack roundtrips are bit-exact).
 */
object QueryTokens {

  /** Client-side token creation: (codes, meta) pair of DataFrames.
    * `codes` = (qid, t, d, key, code); `meta` = (qid, kv, iv, ct, dim). */
  def createTokens(queries: DataFrame, model: LshModel, version: Int): (DataFrame, DataFrame) = {
    val codes = AnnQuery.queryCodes(queries, model)
    val meta = VersionedCrypto.encrypt(queries, "vec_id", "embedding", version)
      .select(col("id").as("qid"), col("kv"), col("iv"), col("ct"), col("dim"))
    (codes, meta)
  }

  /**
   * Full token-path query: server-side codes-only candidate plan,
   * then client-side decrypt of the encrypted store's candidate rows
   * AND the token ciphertexts, exact L2, top-k. Column-compatible
   * with [[AnnQuery.lshTopK]].
   */
  def tokenTopK(
      spark: SparkSession,
      encStore: DataFrame,
      tokenCodes: DataFrame,
      tokenMeta: DataFrame,
      k: Int,
      model: LshModel,
      built: LshIndex.Built,
      version: Int,
      deletedIds: Option[DataFrame] = None): DataFrame = {
    // server side: codes in, encrypted candidate records out
    val probed = AnnQuery.probeBlocksCoded(spark, tokenCodes, model, built)
    val bounded = AnnQuery.boundedCandidates(probed, built, model.params, deletedIds, k)
    val encCandidates = bounded.join(encStore, Seq("id"))

    // client side: decrypt candidates + the token's own query vector
    val candVecs = VersionedCrypto.decrypt(encCandidates, version)
      .select(col("qid"), col("id").as("vec_id"), col("vec"))
    val qVecs = VersionedCrypto.decrypt(
      tokenMeta.select(col("qid").as("id"), col("kv"), col("ct")), version)
      .select(col("id").as("qid"), col("vec").as("qv"))

    val wK = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    candVecs
      .join(broadcast(qVecs), Seq("qid"))
      .withColumn("dist", vec_l2(col("vec"), col("qv")))
      .select(col("qid").as("query_id"), col("vec_id"), col("dist"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), round(col("dist"), 4).as("dist"), col("rnk"))
  }

  // ---- SparkEntry wiring ----

  /** Token shape over the standard query batch: ciphertext + code
    * inventory, nothing plaintext (sql oracle checks the shape). */
  def queryToken(spark: SparkSession, sfDir: String): DataFrame = {
    val queries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < AnnQuery.NumQueries)
    val model = AnnQuery.setupModel(spark, sfDir)
    val (codes, meta) = createTokens(queries, model, version = 1)
    val codeCounts = codes.groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_codes"))
    meta.join(codeCounts, Seq("qid"))
      .select(col("qid").as("id"), col("kv"), col("dim"),
        length(col("ct")).as("ct_len"), col("n_codes"))
  }

  val queryTokenSql: String = {
    val p = graft.config.GraftConfig.active.lsh
    s"""SELECT vec_id AS id, 1 AS kv, CAST(len(embedding) AS INTEGER) AS dim,
       |  CAST(12 + 4 * len(embedding) + 16 AS INTEGER) AS ct_len,
       |  CAST(${p.tables} * ${p.divisions} AS BIGINT) AS n_codes
       |FROM embeddings WHERE vec_id < ${AnnQuery.NumQueries}""".stripMargin
  }
}
