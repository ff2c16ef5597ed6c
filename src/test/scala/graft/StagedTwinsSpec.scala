package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.dedup.{Dedup, SemDedup}

/**
 * The staged pair-report twins (`dedup_minhash_apply_staged` /
 * `_compact_staged`, `dedup_semantic_apply_staged` /
 * `_compact_staged`): each must be VERDICT-IDENTICAL to its in-plan
 * form — the staged read changes what a merge COSTS (no chain
 * recompute), never what it decides. The in-plan forms remain the
 * recompute cross-check; these twins are what a production pipeline
 * actually runs per merge.
 */
class StagedTwinsSpec extends SparkSpecBase {

  /** The root paths every file scan of `df`'s physical plan reads, taken
    * from the scan nodes: the plan string cuts a scan's Location at 100
    * characters, so a long temp root would hide the file name. */
  private def scannedRoots(df: DataFrame): Seq[String] = {
    def roots(p: SparkPlan): Seq[String] = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      case a: AdaptiveSparkPlanExec => roots(a.executedPlan)
      case m: InMemoryTableScanExec => roots(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(roots)
    }
    roots(df.queryExecution.executedPlan)
  }

  test("minhash: staged apply/compact verdict-identical to the in-plan forms") {
    // the in-plan delta runs first (stages the pair report in-JVM) —
    // the staged twins then route off the read
    val applyInPlan = Dedup.dedupMinhashDeltaApply(spark, sf).collect().toSet
    val applyStaged = Dedup.dedupMinhashApplyStaged(spark, sf).collect().toSet
    assert(applyStaged == applyInPlan,
      "staged minhash apply must admit exactly the in-plan survivors")

    val compactInPlan = Dedup.dedupMinhashCompact(spark, sf).collect().toSet
    val compactStaged = Dedup.dedupMinhashCompactStaged(spark, sf).collect().toSet
    assert(compactStaged == compactInPlan,
      "staged minhash compact must be bit-identical to the in-plan fold")
  }

  test("semantic: staged apply/compact verdict-identical to the in-plan forms") {
    val applyInPlan = SemDedup.dedupSemanticDeltaApply(spark, sf).collect().toSet
    val applyStaged = SemDedup.dedupSemanticApplyStaged(spark, sf).collect().toSet
    assert(applyStaged == applyInPlan,
      "staged semantic apply must admit exactly the in-plan survivors")

    val compactInPlan = SemDedup.dedupSemanticCompact(spark, sf).collect().toSet
    val compactStaged = SemDedup.dedupSemanticCompactStaged(spark, sf).collect().toSet
    assert(compactStaged == compactInPlan,
      "staged semantic compact must carry/admit exactly the in-plan rows")
  }

  test("staged twins run WITHOUT the delta chain once the report is staged") {
    // prime the stage (idempotent if the prior tests ran)
    Dedup.dedupMinhashDelta(spark, sf)
    SemDedup.dedupSemanticDelta(spark, sf)
    // the staged twins' plans must read the pair report from parquet —
    // no band self-join / no cell self-join anywhere in the plan
    val mh = Dedup.dedupMinhashApplyStaged(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(!mh.contains("band_hash"),
      s"staged minhash apply must not re-run the band join:\n$mh")
    val sem = SemDedup.dedupSemanticApplyStaged(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(!sem.contains("csim"),
      s"staged semantic apply must not re-run the assignment chain:\n$sem")
    // a physical scan reads the staged parquet (the optimized logical
    // plan prints relations without their paths)
    val mhRoots = scannedRoots(Dedup.dedupMinhashApplyStaged(spark, sf))
    val semRoots = scannedRoots(SemDedup.dedupSemanticApplyStaged(spark, sf))
    assert(mhRoots.exists(_.contains("minhash_delta_pairs")) &&
      semRoots.exists(_.contains("semdelta_pairs")),
      s"staged twins must read the staged pair parquet: $mhRoots / $semRoots")
  }

  test("refit: staged report and staged thaw verdict-identical to the in-plan forms") {
    val reportInPlan = SemDedup.dedupSemanticRefit(spark, sf).collect().toSeq
    val reportStaged = SemDedup.dedupSemanticRefitStaged(spark, sf).collect().toSeq
    assert(reportStaged == reportInPlan,
      "the staged fidelity report must read the in-plan report's exact integers")

    val applyInPlan = SemDedup.dedupSemanticRefitApply(spark, sf).collect().toSet
    val applyStaged = SemDedup.dedupSemanticRefitApplyStaged(spark, sf).collect().toSet
    assert(applyStaged == applyInPlan,
      "the staged thaw must produce the in-plan next-generation decision table")
  }

  test("refit staged twins run WITHOUT the delta-apply/compact chains") {
    // prime the stage (idempotent if the prior tests ran)
    SemDedup.dedupSemanticDelta(spark, sf)
    // the staged merged corpus is the refresh family's input: its plan
    // must derive the admitted delta from the staged pair parquet, not
    // the delta-apply chain (whose pair computation carries the
    // least/greatest pair orientation and the csim assignment chain)
    val merged = SemDedup.mergedCorpusStaged(spark, sf)
    val opt = merged.queryExecution.optimizedPlan.toString()
    assert(!opt.contains("least(") && !opt.contains("csim"),
      s"staged merged corpus must not re-run the delta pair chain:\n$opt")
    assert(scannedRoots(merged).exists(_.contains("semdelta_pairs")),
      "staged merged corpus must read the staged pair parquet")
  }

  test("multimodal: staged apply/compact verdict-identical to the in-plan forms") {
    import graft.multimodal.BinaryMeta
    val applyInPlan = BinaryMeta.multimodalNeardupDeltaApply(spark, sf).collect().toSet
    val applyStaged = BinaryMeta.multimodalNeardupApplyStaged(spark, sf).collect().toSet
    assert(applyStaged == applyInPlan,
      "staged multimodal apply must admit exactly the in-plan survivors")

    val compactInPlan = BinaryMeta.multimodalNeardupDeltaCompact(spark, sf).collect().toSet
    val compactStaged = BinaryMeta.multimodalNeardupCompactStaged(spark, sf).collect().toSet
    assert(compactStaged == compactInPlan,
      "staged multimodal compact must carry/admit exactly the in-plan rows")
  }

  test("multimodal staged twins run WITHOUT the delta chain; compact broadcasts the PAIR-BOUNDED drop set") {
    import graft.multimodal.BinaryMeta
    // prime the stage (idempotent if the prior test ran)
    BinaryMeta.multimodalNeardupDelta(spark, sf)
    // the staged apply must not re-run the pair chain (no cell
    // self-join / pair orientation anywhere in its plan) and must read
    // the staged pair parquet
    val ap = BinaryMeta.multimodalNeardupApplyStaged(spark, sf)
    val apOpt = ap.queryExecution.optimizedPlan.toString()
    assert(!apOpt.contains("least(") && !apOpt.contains("csim"),
      s"staged multimodal apply must not re-run the pair chain:\n$apOpt")
    assert(scannedRoots(ap).exists(_.contains("mm_delta_pairs")),
      "staged multimodal apply must read the staged pair parquet")
    // the staged compact's only corpus-touching subtree is the
    // delta-sized map-only assignment: no pair chain, and the ONLY
    // broadcast is the pair-bounded drop set (the What's-wrong-#1 fix:
    // an admitted-set semi-join would broadcast ~the whole recrawl)
    val cp = BinaryMeta.multimodalNeardupCompactStaged(spark, sf)
    val cpOpt = cp.queryExecution.optimizedPlan.toString()
    assert(!cpOpt.contains("least("),
      s"staged multimodal compact must not re-run the pair chain:\n$cpOpt")
    val cpPhys = cp.queryExecution.executedPlan.toString()
    assert(scannedRoots(cp).exists(_.contains("mm_delta_pairs")),
      "staged multimodal compact must read the staged pair parquet")
    // the anti-join against drops is the broadcast; the carried side
    // streams from the assignment fixture
    assert(cpPhys.contains("BroadcastHashJoin") && cpPhys.contains("LeftAnti"),
      s"compact's drop set must broadcast into a left-anti join:\n$cpPhys")
  }
}
