package graft

import org.apache.spark.sql.functions._

import graft.index.LshIndex
import graft.lsh.{Lsh, LshParams}

/**
 * The 100 TB layout claims of SURVEY §3-4, demonstrated on disk: the
 * index membership persists partitioned by (t, d), and a probe-shaped
 * read prunes to the targeted partitions instead of scanning the
 * whole index.
 */
class ScaleLayoutSpec extends SparkSpecBase {

  test("membership partitioned by (t, d) serves probe reads with partition pruning") {
    val dir = "/root/repo/target/tmp/layout/membership"
    graft.util.Io.deleteRecursively(dir)
    val emb = Tables.embeddings(spark, sf)
    val model = Lsh.fit(emb, "embedding", LshParams())
    val built = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), 64)
    built.membership.write.partitionBy("t", "d").parquet(dir)

    val probeRead = spark.read.parquet(dir).filter(col("t") === 0 && col("d") === 0)
    val plan = probeRead.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), "scan must carry partition filters")
    assert(probeRead.count() == emb.count(), "one (t, d) holds every vector exactly once")

    // the probe scan touches 1/24th of the files (one (t, d) leaf dir)
    val allFiles = spark.read.parquet(dir).inputFiles.length
    val prunedFiles = probeRead.inputFiles.count(f => f.contains("t=0/") && f.contains("d=0"))
    assert(prunedFiles > 0 && prunedFiles * 24 <= allFiles + 23,
      s"pruned=$prunedFiles of $allFiles files")
  }

  test("encrypted store partitioned by kv: rotation reads prune to one key version") {
    val dir = "/root/repo/target/tmp/layout/encstore"
    graft.util.Io.deleteRecursively(dir)
    val emb = Tables.embeddings(spark, sf)
    // a store mid-rotation: touched ids at v2, the rest at v1
    val touched = emb.filter(col("vec_id") % 10 === 0).select(col("vec_id").as("id"))
    val store = graft.crypto.VersionedCrypto.rotate(
      graft.crypto.VersionedCrypto.encrypt(emb, "vec_id", "embedding", 1),
      touched, fromVersion = 1)
    store.write.partitionBy("kv").parquet(dir)

    // the SURVEY §3 claim: rotation/selective-reenc jobs over one key
    // version scan only that version's partition. (inputFiles reflects
    // the unfiltered relation, so inspect the scan node itself.)
    val v1Read = spark.read.parquet(dir).filter(col("kv") === 1)
    val scan = v1Read.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("kv")),
      s"no kv partition filter on the scan: ${scan.partitionFilters}")
    val selected = scan.selectedPartitions.toPartitionArray
      .map(_.urlEncodedPath).toSeq
    assert(selected.nonEmpty && selected.forall(_.contains("kv=1")),
      s"v1 scan selected foreign partitions: ${selected.mkString(",")}")
    // and the version census is partition-metadata-cheap
    val census = spark.read.parquet(dir).groupBy("kv").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(census(2) == touched.count() && census(1) == emb.count() - census(2))
  }

  test("IVF store partitioned by cell: a probe scans only its nProbe cells") {
    val dir = "/root/repo/target/tmp/layout/ivfstore"
    graft.util.Io.deleteRecursively(dir)
    val emb = Tables.embeddings(spark, sf)
    import graft.query.IvfSearch
    val cents = IvfSearch.fitCentroids(emb, 8)
    val store = IvfSearch.assignCells(emb, cents)
      .join(emb, "vec_id")
    store.write.partitionBy("cell").parquet(dir)

    // SURVEY claim: the stored table is bucketed by cell, so a probe
    // reads nProbe/C of the data, not all of it
    val probed = spark.read.parquet(dir).filter(col("cell").isin(0, 1))
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("cell")))
    val selected = scan.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
    assert(selected.nonEmpty &&
      selected.forall(f => f.contains("cell=0") || f.contains("cell=1")),
      s"probe scan touched foreign cells: ${selected.mkString(",")}")
    // every vector landed in exactly one cell
    assert(spark.read.parquet(dir).count() == emb.count())
  }
}
