package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The delta-merge kernel shared by the three dedup delta families —
 * minhash ([[Dedup]]), semantic ([[SemDedup]]) and multimodal
 * ([[graft.multimodal.BinaryMeta]]). Each family signs or assigns its
 * own rows; the parts every family used to copy live here once:
 *  - (a) [[bucketCandidates]]: hot-bucket drop, one collect per bucket,
 *    map-side pair expansion, orientation, `distinct`;
 *  - (b) [[verifiedPairs]]: candidate-bounded endpoint fetch, score
 *    filter, `leg` from the carried 0/1 delta tag `d`;
 *  - (c) [[drops]]: the merge drop policy over a pair report;
 *  - (d) [[PairReport]]: the pair report staged once per JVM — the one
 *    intermediate the `_staged` apply/compact entries read.
 * A full (non-delta) pair run is the same kernel with every row `d = 1`.
 */
object DeltaMerge {

  /**
   * All unordered within-bucket pairs of a collected element array, by
   * a nested codegen'd array transform (map-side: no WindowExec, no
   * self-join exchange). `mk(x, y)` builds one pair's struct, or NULL
   * to drop it. A row of b elements yields ONE array of b(b-1)/2
   * structs — O(maxBucket²) per row at the guard's limit (~500k at the
   * default 1000) — which is why [[bucketCandidates]] drops hot buckets
   * before they are collected, never after.
   */
  private def bucketPairs(xs: Column, mk: (Column, Column) => Column): Column =
    flatten(transform(xs, (x, i) =>
      filter(
        transform(slice(xs, (i + lit(2)).cast("int"), size(xs)), y => mk(x, y)),
        p => p.isNotNull)))

  /**
   * (a) Candidate pairs from bucket rows `(keys…, id, carry…)`. Buckets
   * over `maxBucket` rows go through [[Dedup.dropHotBuckets]] BEFORE
   * `collect_list`, so a hot bucket is never assembled into one row.
   * `admit(x, y)` may reject an element pair; equal ids never pair.
   * Output: distinct `(a, b, <f>a, <f>b, …)` with a < b and each
   * carried field `f` oriented with its endpoint. Lazy.
   */
  private[graft] def bucketCandidates(rows: DataFrame, keys: Seq[String],
      carry: Seq[String], maxBucket: Int,
      admit: (Column, Column) => Column): DataFrame = {
    def pair(x: Column, y: Column): Column =
      struct(x("id").as("a") +: y("id").as("b") +:
        carry.flatMap(f => Seq(x(f).as(s"${f}a"), y(f).as(s"${f}b"))): _*)
    Dedup.dropHotBuckets(rows, keys, maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(("id" +: carry).map(col): _*)).as("xs"))
      .select(explode(bucketPairs(col("xs"), (x, y) =>
        when(admit(x, y),
          when(x("id") < y("id"), pair(x, y))
            .when(y("id") < x("id"), pair(y, x))))).as("p"))
      .select(col("p.*"))
      .distinct()
  }

  /**
   * (b) The verify tail over candidates `(a, b, da, db)`: `fetch` maps
   * the candidate endpoint ids `(id)` to `(id, v)` — CACHED, because
   * both endpoint joins read it and their exchanges hash on different
   * keys. Keeps `keep(score(va, vb))` and labels each pair from the
   * carried tags, no id join. Output `(a, b, out(score), leg)`,
   * materialized; the candidates, the fetch and `release` are then
   * unpersisted.
   */
  private[graft] def verifiedPairs(cands: DataFrame, fetch: DataFrame => DataFrame,
      score: (Column, Column) => Column, keep: Column => Column,
      out: Column => Column, release: Seq[DataFrame]): DataFrame = {
    val c = cands.cache()
    val ids = c.select(col("a").as("id")).unionByName(c.select(col("b").as("id"))).distinct()
    val vs = fetch(ids).cache()
    val result = c
      .join(vs.select(col("id").as("a"), col("v").as("va")), "a")
      .join(vs.select(col("id").as("b"), col("v").as("vb")), "b")
      .withColumn("__s", score(col("va"), col("vb")))
      .filter(keep(col("__s")))
      .select(col("a"), col("b"), out(col("__s")),
        when(col("da") === 1 && col("db") === 1, "delta_delta")
          .otherwise("delta_base").as("leg"))
      .cache()
    result.count() // materialize the (small) pair list, release intermediates
    (release :+ c :+ vs).foreach(_.unpersist())
    result
  }

  /**
   * (c) The merge drop policy over a pair report `(a, b, leg)`: a
   * `delta_base` pair drops its delta endpoint (the resident base copy
   * is authoritative), a `delta_delta` pair keeps the lower id `a` and
   * drops `b` — pairwise, not transitive: a chain a<b<c drops b and c.
   * Output: the distinct dropped ids as `idCol`, pair-bounded (so it
   * broadcasts at recrawl scale).
   */
  private[graft] def drops(pairs: DataFrame, isDelta: Column => Column, idCol: String): DataFrame =
    pairs.select(
        when(col("leg") === "delta_delta", col("b"))
          .otherwise(when(isDelta(col("a")), col("a")).otherwise(col("b")))
          .as(idCol))
      .distinct()

  /**
   * (d) A family's staged pair report at `path`. The delta entry passes
   * its materialized report through [[stage]]; [[staged]] runs
   * `produce` (that delta entry) only if this JVM has not staged the
   * report for the corpus yet — nested [[graft.FixtureExport.ensure]],
   * reentrant — then reads the parquet back.
   */
  private[graft] final class PairReport(name: String, path: String,
      produce: (SparkSession, String) => DataFrame) {
    private def key(sfDir: String): String = s"$name:$sfDir"

    def stage(sfDir: String, pairs: DataFrame): DataFrame = {
      Dedup.exportFixture(key(sfDir), path)(pairs)
      pairs
    }

    def staged(spark: SparkSession, sfDir: String): DataFrame = {
      graft.FixtureExport.ensure(key(sfDir), path) { produce(spark, sfDir); () }
      spark.read.parquet(path)
    }
  }
}
