package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.{Lsh, LshParams}
import graft.query.AnnQuery

/**
 * Staged insert -> delta serving -> compact (IndexMaintenance):
 * inserts must be searchable through the delta path, main-index
 * results must not change, and compaction must reproduce the
 * from-scratch build bit-for-bit.
 */
class IndexMaintenanceSpec extends SparkSpecBase {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val model = Lsh.fit(emb, "embedding", LshParams())
  private val blockSize = 64

  private lazy val mainData = emb.filter(col("vec_id") >= 50)
  private lazy val deltaData = emb.filter(col("vec_id") < 50)
  private lazy val mainCodes = IndexMaintenance.stageCodes(mainData, "vec_id", "embedding", model)
  private lazy val deltaCodes = IndexMaintenance.stageCodes(deltaData, "vec_id", "embedding", model)

  test("compact equals a from-scratch build of the full corpus exactly") {
    val compacted = IndexMaintenance.compact(mainCodes, deltaCodes, blockSize)
    val fresh = LshIndex.build(
      LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    assert(compacted.membership.exceptAll(fresh.membership).count() == 0)
    assert(fresh.membership.exceptAll(compacted.membership).count() == 0)
    val cs = compacted.summaries.select("t", "d", "block", "min_key", "max_key", "n")
    val fs = fresh.summaries.select("t", "d", "block", "min_key", "max_key", "n")
    assert(cs.exceptAll(fs).count() == 0)
    assert(fs.exceptAll(cs).count() == 0)
  }

  test("staged vectors are searchable via the delta; main results unchanged") {
    val main = LshIndex.build(mainCodes, blockSize)
    val delta = IndexMaintenance.buildDelta(deltaCodes, blockSize)

    // query a vector that exists ONLY in the staged batch: the delta
    // path must surface it as its own nearest neighbor (dist 0, rank 1)
    val q = emb.filter(col("vec_id") === 7)
    val served = IndexMaintenance.lshTopKWithDelta(
      spark, mainData, deltaData, q, 5, model, main, delta)
    val top = served.filter(col("rnk") === 1).head()
    assert(top.getLong(1) == 7L, s"staged vector must be its own top-1, got $top")
    assert(top.getDouble(2) == 0.0)

    // the same query against the main index alone cannot return it
    val mainOnly = AnnQuery.lshTopK(spark, mainData, q, 5, model, main)
    assert(mainOnly.filter(col("vec_id") === 7).count() == 0)

    // queries already answerable by the main index return the same
    // top-k through the delta path whenever no staged vector outranks
    // a main result (delta probes only ADD candidates; the refine
    // window re-ranks the union)
    val q2 = emb.filter(col("vec_id") === 1500)
    val before = AnnQuery.lshTopK(spark, mainData, q2, 5, model, main)
      .select("query_id", "vec_id", "rnk").collect().toSet
    val after = IndexMaintenance.lshTopKWithDelta(
      spark, mainData, deltaData, q2, 5, model, main, delta)
      .filter(col("vec_id") >= 50)
      .select("query_id", "vec_id", "rnk").collect().toSet
    // delta candidates that beat main ones can shift ranks; compare sets
    // of surviving main ids instead of positions
    assert(after.map(r => r.getLong(1)).subsetOf(before.map(r => r.getLong(1))))
  }

  test("post-compact serving equals fresh-build serving exactly") {
    val compacted = IndexMaintenance.compact(mainCodes, deltaCodes, blockSize)
    val fresh = LshIndex.build(
      LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    val q = emb.filter(col("vec_id") < 10)
    val a = AnnQuery.lshTopK(spark, emb, q, 10, model, compacted)
    val b = AnnQuery.lshTopK(spark, emb, q, 10, model, fresh)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("streamed staged batches are searchable via the delta and compact to the fresh build") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    def tmp(name: String): String = {
      val d = s"/root/repo/target/tmp/insert-stream/$name"
      val p = Paths.get(d)
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      }
      Files.createDirectories(p)
      d
    }
    val in = tmp("in"); val delta = tmp("delta"); val ckpt = tmp("ckpt")
    // staged vectors arrive as two files (two micro-batches)
    deltaData.filter(col("vec_id") < 25).write.mode("overwrite").parquet(s"$in/b")
    deltaData.filter(col("vec_id") >= 25).write.mode("append").parquet(s"$in/b")
    val q = graft.streaming.StreamingIngest
      .codedVectorStream(spark, s"$in/b", model, emb.schema)
      .writeStream.format("parquet")
      .option("path", delta)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "insert ingest did not finish in time")

    val streamedCodes = IndexMaintenance.deltaCodesFrom(spark, delta)
    assert(streamedCodes.count() == deltaData.count() * 24)

    // the streamed delta serves: a staged-only vector is its own top-1
    val main = LshIndex.build(mainCodes, blockSize)
    val dBuilt = IndexMaintenance.buildDelta(streamedCodes, blockSize)
    val served = IndexMaintenance.lshTopKWithDelta(
      spark, mainData, deltaData, emb.filter(col("vec_id") === 7), 5, model, main, dBuilt)
    val top = served.filter(col("rnk") === 1).head()
    assert(top.getLong(1) == 7L && top.getDouble(2) == 0.0)

    // and compacting the STREAMED codes reproduces the fresh build
    val compacted = IndexMaintenance.compact(mainCodes, streamedCodes, blockSize)
    val fresh = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    assert(compacted.membership.exceptAll(fresh.membership).count() == 0)
    assert(fresh.membership.exceptAll(compacted.membership).count() == 0)
  }

  test("auto-compact triggers at the staged threshold; serving holds across the boundary") {
    import java.nio.file.{Files, Paths}
    def tmp(name: String): String = {
      val d = s"/root/repo/target/tmp/lifecycle/$name"
      val p = Paths.get(d)
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      }
      Files.createDirectories(p)
      d
    }
    val in = tmp("in"); val staged = tmp("staged"); val ckpt = tmp("ckpt")
    // 50 staged vectors arrive as two files; maxFilesPerTrigger=4 may
    // coalesce them, so assert on the threshold INVARIANT, not a count
    deltaData.filter(col("vec_id") < 25).write.mode("overwrite").parquet(s"$in/b")
    deltaData.filter(col("vec_id") >= 25).write.mode("append").parquet(s"$in/b")
    val lc = new graft.streaming.InsertLifecycle(
      spark, model, mainCodes, staged, compactEveryVectors = 30)
    val q = lc.sink(
      graft.streaming.StreamingIngest.codedVectorStream(spark, s"$in/b", model, emb.schema),
      ckpt)
    assert(q.awaitTermination(120000), "lifecycle ingest did not finish in time")

    // 50 staged >= threshold 30 somewhere along the way: must have compacted,
    // and the staged set can never end a batch at or above the threshold
    assert(lc.compactions >= 1, "threshold crossing must trigger a compaction")
    assert(lc.stagedVectors < 30, s"staged=${lc.stagedVectors} must sit below the threshold")

    // post-compaction main == fresh full-corpus build, and serving a
    // staged-then-compacted vector still returns itself at distance 0
    val fresh = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    assert(lc.main.membership.exceptAll(fresh.membership).count() == 0)
    assert(fresh.membership.exceptAll(lc.main.membership).count() == 0)
    val served = lc.serve(emb, emb.filter(col("vec_id") === 7), 5)
    val top = served.filter(col("rnk") === 1).head()
    assert(top.getLong(1) == 7L && top.getDouble(2) == 0.0)
    // and equality with the one-shot serving plan over the fresh build
    val expect = AnnQuery.lshTopK(spark, emb, emb.filter(col("vec_id") < 10), 10, model, fresh)
    val got = lc.serve(emb, emb.filter(col("vec_id") < 10), 10)
    assert(got.exceptAll(expect).count() == 0)
    assert(expect.exceptAll(got).count() == 0)
  }

  test("index restore from the encrypted store equals the plaintext build") {
    val store = graft.crypto.VersionedCrypto.encrypt(emb, "vec_id", "embedding", 1)
    val restored = IndexMaintenance.restoreFromStore(store, 1, model, blockSize)
    val fresh = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    assert(restored.membership.exceptAll(fresh.membership).count() == 0)
    assert(fresh.membership.exceptAll(restored.membership).count() == 0)
    // and it serves identically
    val q = emb.filter(col("vec_id") < 5)
    val a = AnnQuery.lshTopK(spark, emb, q, 10, model, restored)
    val b = AnnQuery.lshTopK(spark, emb, q, 10, model, fresh)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("chained compaction over arbitrary staged splits equals one fresh build") {
    // three-way split compacted in two steps: compact(compact(a,b),c)
    // must land exactly where build(a++b++c) does, for ragged split
    // points — delta chains never drift from the steady-state layout
    val a = IndexMaintenance.stageCodes(
      emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", model)
    val b = IndexMaintenance.stageCodes(
      emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", model)
    val c = IndexMaintenance.stageCodes(
      emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding", model)
    val step1 = IndexMaintenance.compact(a, b, blockSize)
    // re-derive step1's code set from scratch (membership drops codes;
    // the compact chain recodes from the same deterministic expression)
    val ab = IndexMaintenance.stageCodes(
      emb.filter(col("vec_id") % 3 =!= 2), "vec_id", "embedding", model)
    val step2 = IndexMaintenance.compact(ab, c, blockSize)
    val fresh = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), blockSize)
    assert(step1.summaryCount > 0)
    assert(step2.membership.exceptAll(fresh.membership).count() == 0)
    assert(fresh.membership.exceptAll(step2.membership).count() == 0)
  }

  test("combined membership keeps (t, d, block) unique across main and delta") {
    // the kernel serves main and delta in one pass keyed by packed
    // (t, d, block): the delta's keys, offset, must never name a main block
    val main = LshIndex.build(mainCodes, blockSize)
    val delta = IndexMaintenance.buildDelta(deltaCodes, blockSize)
    def keys(b: LshIndex.Built, offset: Int): Set[Long] =
      b.summaries.select("t", "d", "block").collect()
        .map(r => LshIndex.packTdb(r.getInt(0), r.getInt(1), r.getInt(2) + offset)).toSet
    val (mk, dk) = (keys(main, 0), keys(delta, IndexMaintenance.DeltaBlockOffset))
    assert(mk.nonEmpty && dk.nonEmpty && mk.intersect(dk).isEmpty)
    assert(dk.forall(k => LshIndex.tdbBlock(k) >= IndexMaintenance.DeltaBlockOffset))
    assert(main.membership.count() + delta.membership.count() == emb.count() * 24)
  }

  test("InsertLifecycle keeps its staged delta between ingests") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val tmp = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target/tmp"))
    val staged = java.nio.file.Files.createTempDirectory(tmp, "staged").toAbsolutePath.toString
    val lc = new graft.streaming.InsertLifecycle(
      spark, model, mainCodes, staged, compactEveryVectors = Long.MaxValue)
    lc.ingest(deltaCodes, 0)
    val q = emb.filter(col("vec_id") < 10)
    def rows() = lc.serve(emb, q, 10).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val first = rows()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val second = try rows() finally {
      org.apache.spark.SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(first.nonEmpty && second == first)
    assert(!plans.isEmpty, "the second serve ran no plan")
    object scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val stagedScans = plans.asScala.toSeq.flatMap(qe => scans.collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(staged)) => s
    })
    assert(stagedScans.isEmpty, s"the second serve re-read the staged codes:\n${stagedScans.mkString("\n")}")
  }
}
