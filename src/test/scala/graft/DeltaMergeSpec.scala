package graft

import org.apache.spark.sql.functions.col

import graft.dedup.DeltaMerge

/**
 * The merge drop policy ([[DeltaMerge.drops]]) on a hand-built pair
 * report, independent of any fixture: `delta_base` drops the delta
 * endpoint whichever side it sits on, `delta_delta` keeps the lower id,
 * and a document in several pairs is dropped once.
 */
class DeltaMergeSpec extends SparkSpecBase {

  test("drop policy: delta endpoint of delta_base pairs, higher id of delta_delta pairs, each id once") {
    import spark.implicits._
    // odd ids are delta, even ids are resident base
    val isDelta = (id: org.apache.spark.sql.Column) => id % 2 === 1
    val pairs = Seq(
      (1L, 4L, "delta_base"),   // delta id as a: drops 1
      (2L, 3L, "delta_base"),   // delta id as b: drops 3
      (5L, 7L, "delta_delta"),  // chain 5 < 7 < 9: keeps 5,
      (7L, 9L, "delta_delta"),  //   drops 7 and 9 (pairwise, not transitive)
      (10L, 11L, "delta_base"), // 11 appears in three pairs
      (11L, 12L, "delta_base"),
      (11L, 16L, "delta_base")
    ).toDF("a", "b", "leg")
    val out = DeltaMerge.drops(pairs, isDelta, "doc_id")
    assert(out.columns.toSeq == Seq("doc_id"))
    val got = out.collect().map(_.getLong(0)).toSeq
    assert(got.sorted == Seq(1L, 3L, 7L, 9L, 11L), s"dropped ids: $got")
    assert(got.distinct.size == got.size, "each dropped id must appear once")
    assert(got.forall(_ % 2 == 1), "base ids are never dropped")
    // the policy reads only (a, b, leg): a score column rides along untouched
    val scored = pairs.withColumn("jaccard", col("a") * 0.0)
    assert(DeltaMerge.drops(scored, isDelta, "id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 7L, 9L, 11L))
  }
}
