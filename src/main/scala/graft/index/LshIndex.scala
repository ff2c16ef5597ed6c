package graft.index

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.storage.StorageLevel

import graft.lsh.{Lsh, LshModel}

/**
 * Greedy sorted-key partitioning of LSH codes (re-expression of
 * fspann `index/paper/GreedyPartitioner.java:36-96`): per (table,
 * division), vectors sorted by 63-bit code key are cut into blocks of
 * `blockSize`; each block keeps (minKey, maxKey, representative code
 * of the middle member, member count).
 *
 * Spark posture: the build numbers the codes in one shuffle
 * (hash-partitioned by (t, d, key-range bucket), sorted by key) into
 * ONE numbered table (id, t, d, key, code, block, rep); everything
 * else is a projection or an aggregate of it —
 *  - `membership` (id, t, d, block, key) and the code columns
 *    ([[Built.indexedCodes]], what a compaction re-reads): projections;
 *  - `summaries` (t, d, block, min_key, max_key, n, rep_code): 1/64th
 *    of the rows with ids dropped, aggregated from the numbered rows —
 *    each block's representative is flagged during numbering from the
 *    per-(t, d) totals the driver already holds, so no window runs;
 *    the only state that is ever collected (KBs-MBs at 100 TB);
 *  - the by-vector table ([[Built.byVector]]): one row per served
 *    vector, `(id, vec, tdb)` with its (t, d, block) memberships —
 *    the relation a query streams past its probes (AnnQuery.serve);
 *    its codes-only form (every `vec` null) serves the candidate cut
 *    of a caller that holds no vectors.
 *
 * A served index is FINALIZED once ([[Built.materialize]]: the
 * numbered table, the summaries and the by-vector table resident, the
 * probe map on the driver) and then resident until [[Built.release]];
 * a small staged batch skips the distributed build entirely
 * ([[buildLocal]]).
 *
 * Two numbering strategies produce identical results:
 *  - [[build]] (default): deterministic key-range buckets + a
 *    driver-side prefix sum over the tiny (t x d x bucket) count
 *    table. Parallelism = number of populated buckets, independent of
 *    the (t, d) fan-out, and correctness is independent of caching or
 *    recomputation — the 100 TB path.
 *  - [[buildWindowed]]: plain row_number window per (t, d) — simple,
 *    but serializes each (t, d) through one reducer; kept as the
 *    cross-check oracle for the scalable path.
 */
object LshIndex {

  /**
   * Spread a small-split source across the cluster before an
   * expensive map stage (LSH coding, dedup signatures): a corpus that
   * arrives as fewer parquet splits than cores would serialize the
   * whole map stage on those few tasks. Real corpora have orders of
   * magnitude more splits than cores, so the branch is a no-op there —
   * this never adds a shuffle at scale, it only unblocks parallelism
   * when the source is a handful of files.
   */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** (id, t, d, key, code) — one row per vector per (table, division). */
  def codes(df: DataFrame, idCol: String, vecCol: String, model: LshModel): DataFrame =
    df.select(col(idCol).cast("long").as("id"), Lsh.lshCodes(col(vecCol), model).as("tdc"))
      .select(col("id"), explode(col("tdc")).as("c"))
      .select(col("id"), col("c.t").as("t"), col("c.d").as("d"),
        col("c.key").as("key"), col("c.code").as("code"))

  /** One served vector of a by-vector table: its id, its vector (null
    * when the serving view lacks the id) and its (t, d, block)
    * memberships, each packed by [[packTdb]]. */
  final case class VecRow(id: Long, vec: Array[Float], tdb: Array[Long])

  /** (t, d, block) as one long: t and d fit 8 and 6 bits (LshParams
    * bounds them), the block 32 (staged-delta blocks sit at 2^30 and
    * above, IndexMaintenance.DeltaBlockOffset). */
  def packTdb(t: Int, d: Int, block: Int): Long =
    (t.toLong << 40) | (d.toLong << 32) | (block.toLong & 0xFFFFFFFFL)
  def tdbT(x: Long): Int = (x >>> 40).toInt
  def tdbD(x: Long): Int = ((x >>> 32) & 0xFF).toInt
  def tdbBlock(x: Long): Int = x.toInt

  final case class Built(membership: DataFrame, summaries: DataFrame) {
    /** Total block count, computed once per built index (used to size
      * the key-range buckets of the distributed center lookup; a Long
      * memo, so it survives cache eviction without re-counting). */
    lazy val summaryCount: Long = summaries.count()

    /** Driver-side probe map for the best-first probe, collected
      * once per built index (the reference keeps its partition list
      * resident in the server for the system's lifetime — re-collecting
      * it per query batch would re-pay a job every call). Deterministic
      * re-derivable state, so surviving cache eviction is safe. */
    def collected: Map[(Int, Int), TdSummary] = synchronized {
      if (probeMap == null) probeMap = collectSummaries(summaries)
      probeMap
    }
    @transient private var probeMap: Map[(Int, Int), TdSummary] = null

    // what the relations above project: the numbered table of [[build]],
    // or the driver-side code rows and memberships of [[buildLocal]]
    @transient private var numbered: Option[DataFrame] = None
    @transient private var localCodes: Option[(Seq[Code], Map[Long, Array[Long]])] = None
    @transient private var resident = false
    // the by-vector tables, one per serving view (None: the codes-only table)
    @transient private val tables = mutable.ArrayBuffer.empty[(Option[DataFrame], Dataset[VecRow])]
    // the distributed probe's cover table and its key-bucket width
    @transient private var cover: Option[(DataFrame, Int)] = None

    private[index] def numberedBy(df: DataFrame): Built = { numbered = Some(df); this }
    private[index] def localBy(codes: Seq[Code], tdb: Map[Long, Array[Long]]): Built = {
      localCodes = Some((codes, tdb)); this
    }

    /** The code rows this index numbers (id, t, d, key, code): the code
      * columns of the numbered table (or the staged batch's driver
      * rows), so a compaction re-reads resident codes instead of
      * re-coding the corpus. */
    def indexedCodes: DataFrame = numbered.map(_.select("id", "t", "d", "key", "code"))
      .orElse(localCodes.map { case (codes, _) =>
        val spark = membership.sparkSession
        import spark.implicits._
        codes.toDF()
      })
      .getOrElse(throw new IllegalStateException(
        "indexedCodes needs an index from LshIndex.build or buildLocal"))

    /**
     * The by-vector table over a serving view `source` (vec_id,
     * embedding): one [[VecRow]] per indexed id with its vector — null
     * when `source` lacks the id — and its memberships. With no view it
     * is the codes-only table: every vector null, what a server that
     * holds no plaintext (the token path) serves its candidate cut from.
     * Memoized per serving view (a same-result plan) and cached while
     * the index is resident. A distributed index derives it by one id
     * co-group of its membership with `source`; a driver-side one
     * ([[buildLocal]]) by collecting its ids' rows of `source`.
     */
    private[graft] def byVector(source: Option[DataFrame]): RDD[VecRow] = synchronized {
      val table = tables.collectFirst { case (s, t) if sameView(s, source) => t }
        .getOrElse {
          val t = deriveTable(source)
          tables += source -> t
          t
        }
      if (resident && table.storageLevel == StorageLevel.NONE) table.cache()
      table.rdd
    }

    private def sameView(a: Option[DataFrame], b: Option[DataFrame]): Boolean = (a, b) match {
      case (Some(x), Some(y)) => x.sameSemantics(y)
      case _ => a.isEmpty && b.isEmpty
    }

    /** Serve `source` from rows already in hand (a staged batch collected
      * with its vectors): no job derives the table. */
    private[graft] def byVectorFrom(source: DataFrame, vecs: Seq[(Long, Array[Float])]): Built =
      synchronized {
        val spark = membership.sparkSession
        import spark.implicits._
        val tdb = localCodes.map(_._2).getOrElse(Map.empty[Long, Array[Long]])
        tables += Some(source) -> vecs.flatMap { case (id, v) => tdb.get(id).map(VecRow(id, v, _)) }.toDS()
        this
      }

    private def deriveTable(source: Option[DataFrame]): Dataset[VecRow] = {
      val spark = membership.sparkSession
      import spark.implicits._
      val vecs = source.map(_.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast(ArrayType(FloatType)).as("vec")).as[(Long, Array[Float])])
      localCodes match {
        case Some((_, tdb)) =>
          val got: Map[Long, Array[Float]] = vecs match {
            case Some(v) if tdb.nonEmpty => v.filter(col("id").isin(tdb.keys.toSeq: _*)).collect().toMap
            case _ => Map.empty
          }
          tdb.toSeq.map { case (id, t) => VecRow(id, got.getOrElse(id, null), t) }.toDS()
        case None =>
          // one shuffle: memberships and vectors co-grouped by id (the
          // left join of the memberships with the view), straight into
          // defaultParallelism partitions
          val packed = shiftleft(col("t").cast("long"), 40)
            .bitwiseOR(shiftleft(col("d").cast("long"), 32))
            .bitwiseOR(col("block").cast("long"))
          spark.createDataset(membership.select(col("id"), packed).as[(Long, Long)].rdd
            .cogroup(vecs.fold(spark.sparkContext.emptyRDD[(Long, Array[Float])])(_.rdd),
              new HashPartitioner(spark.sparkContext.defaultParallelism))
            .flatMap { case (id, (tdb, vs)) =>
              if (tdb.isEmpty) Nil
              else if (vs.isEmpty) Seq(VecRow(id, null, tdb.toArray))
              else vs.map(VecRow(id, _, tdb.toArray))
            })
      }
    }

    /** The distributed probe's query-independent cover table and its
      * key-bucket width (AnnQuery.probeBlocksDistributed), derived once
      * by `derive` (the reference's FINALIZE: re-deriving the cover
      * ranges per query batch would re-pay a window pass every call) and
      * cached while the index is resident. */
    private[graft] def coverTable(derive: => (DataFrame, Int)): (DataFrame, Int) = synchronized {
      val c = cover.getOrElse { val v = derive; cover = Some(v); v }
      if (resident && c._1.storageLevel == StorageLevel.NONE) c._1.cache()
      c
    }

    /** FINALIZE (`finalizeForSearch`): cache the numbered table (or the
      * membership) and the summaries, fill them, collect the probe map,
      * and keep every by-vector table resident, so every later query
      * serves from resident state instead of re-deriving the index.
      * Idempotent; returns this index. */
    def materialize(): Built = synchronized {
      val rel = numbered.getOrElse(membership)
      if (rel.storageLevel == StorageLevel.NONE) rel.cache()
      rel.count()
      if (summaries.storageLevel == StorageLevel.NONE) summaries.cache()
      // the probe map's collect fills the summaries cache; a re-fill
      // (after a cache clear or a release) counts instead
      if (probeMap == null) collected else summaries.count()
      resident = true
      tables.map(_._1).toList.foreach(byVector(_).count())
      this
    }

    /** [[materialize]] plus the by-vector table of the serving view
      * `data`, so the first query over `data` finds it resident. */
    def materialize(data: DataFrame): Built = synchronized {
      materialize()
      byVector(Some(data)).count()
      this
    }

    /** Re-materialize after an external `clearCache` dropped the caches
      * (bench prep, so query timings measure serving, not re-indexing). */
    def ensureResident(): Unit = materialize()

    /** Drop what [[materialize]] and the probe paths hold: the caches,
      * the by-vector and codes-only tables and the distributed probe's
      * cover table. The index stays usable (it re-derives on demand);
      * call it on an index that is superseded. */
    def release(): Unit = synchronized {
      numbered.foreach(_.unpersist())
      membership.unpersist()
      summaries.unpersist()
      tables.foreach(_._2.unpersist())
      tables.clear()
      cover.foreach(_._1.unpersist())
      cover = None
      resident = false
    }
  }

  final case class CodeRow(id: Long, t: Int, d: Int, key: Long, code: Array[Long], bkt: Int)

  /** Key-range buckets per (t, d): the top 8 bits of the 63-bit key. */
  private val BucketBits = 8
  private def bucketCol: org.apache.spark.sql.Column =
    shiftrightunsigned(col("key"), 63 - BucketBits).cast("int")

  /**
   * Scalable exact global numbering: rows are grouped by a
   * DETERMINISTIC key-range bucket (top key bits — a pure function of
   * the row, so counts and numbering agree across arbitrary
   * recomputation, cache eviction, or task retry), hash-partitioned by
   * (t, d, bucket), sorted within partitions, and offset by a
   * driver-side prefix sum over the tiny (t x d x 256) count table.
   * Bucket order is key order by construction, so numbering equals the
   * global (t, d, key, id) sort order.
   */
  def build(codesDf: DataFrame, blockSize: Int): Built = {
    val spark = codesDf.sparkSession
    import spark.implicits._
    val nRanges = spark.sparkContext.defaultParallelism
    val withBkt = codesDf.select(col("id"), col("t"), col("d"), col("key"), col("code"),
      bucketCol.as("bkt"))
    // tiny count table -> per-(t, d, bucket) starting offsets and
    // per-(t, d) totals (which size each (t, d)'s last block)
    val counts = withBkt.groupBy("t", "d", "bkt").count()
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    val byTd = counts.groupBy { case ((t, d, _), _) => (t, d) }
    val offsets: Map[(Int, Int, Int), Long] =
      byTd.flatMap { case (_, rows) =>
        var acc = 0L
        rows.sortBy { case ((_, _, bkt), _) => bkt }.map { case (k, n) =>
          val o = (k, acc)
          acc += n
          o
        }
      }
    val totals: Map[(Int, Int), Long] = byTd.map { case (td, rows) => td -> rows.map(_._2).sum }
    val sizesB = spark.sparkContext.broadcast((offsets, totals))
    val numbered = withBkt.as[CodeRow]
      .repartition(nRanges, col("t"), col("d"), col("bkt"))
      .sortWithinPartitions("t", "d", "key", "id")
      .mapPartitions { it =>
        val (offs, tots) = sizesB.value
        val local = scala.collection.mutable.Map.empty[(Int, Int, Int), Long]
        it.map { r =>
          val k = (r.t, r.d, r.bkt)
          val i = local.getOrElse(k, 0L)
          local(k) = i + 1
          val rn = offs(k) + i
          val block = rn / blockSize
          // the reference's representative is the block's middle member
          // (GreedyPartitioner.java:66-71); only a (t, d)'s last block
          // can run short of blockSize
          val n = math.min(blockSize.toLong, tots((r.t, r.d)) - block * blockSize)
          (r.id, r.t, r.d, r.key, r.code, block.toInt, rn % blockSize == (n - 1) / 2)
        }
      }.toDF("id", "t", "d", "key", "code", "block", "rep")
    val summaries = numbered.groupBy("t", "d", "block")
      .agg(
        min("key").as("min_key"),
        max("key").as("max_key"),
        count(lit(1)).as("n"),
        first(when(col("rep"), col("code")), ignoreNulls = true).as("rep_code"))
    Built(numbered.select("id", "t", "d", "block", "key"), summaries).numberedBy(numbered)
  }

  /** One collected code row: the [[codes]] columns on the driver. */
  final case class Code(id: Long, t: Int, d: Int, key: Long, code: Array[Long])

  /** A code table's rows on the driver (one job). */
  def collectCodes(codesDf: DataFrame): Array[Code] = {
    import codesDf.sparkSession.implicits._
    codesDf.select("id", "t", "d", "key", "code").as[Code].collect()
  }

  /**
   * [[build]] for a batch whose codes already sit on the driver (a
   * staged delta of a few thousand vectors): per (t, d), sort by
   * (key, id), cut blocks of `blockSize`, keep the middle member's
   * code as representative. The same rows [[build]] produces, as local
   * relations — no job, no shuffle, and the probe map collects from
   * them without one either. Driver memory is the batch's code rows.
   */
  def buildLocal(spark: SparkSession, codes: Seq[Code], blockSize: Int): Built = {
    import spark.implicits._
    val members = Seq.newBuilder[(Long, Int, Int, Int, Long)]
    val blocks = Seq.newBuilder[(Int, Int, Int, Long, Long, Long, Array[Long])]
    val tdb = mutable.HashMap.empty[Long, mutable.ArrayBuilder.ofLong]
    codes.groupBy(c => (c.t, c.d)).foreach { case ((t, d), rows) =>
      rows.sortBy(c => (c.key, c.id)).grouped(blockSize).zipWithIndex.foreach {
        case (blk, b) =>
          blk.foreach { c =>
            members += ((c.id, t, d, b, c.key))
            tdb.getOrElseUpdate(c.id, new mutable.ArrayBuilder.ofLong) += packTdb(t, d, b)
          }
          blocks += ((t, d, b, blk.head.key, blk.last.key, blk.size.toLong,
            blk((blk.size - 1) / 2).code))
      }
    }
    Built(members.result().toDF("id", "t", "d", "block", "key"),
      blocks.result().toDF("t", "d", "block", "min_key", "max_key", "n", "rep_code"))
      .localBy(codes, tdb.map { case (id, b) => id -> b.result() }.toMap)
  }

  /** Window-based numbering (one reducer per (t, d)); oracle for [[build]]. */
  def buildWindowed(codesDf: DataFrame, blockSize: Int): Built = {
    val w = Window.partitionBy("t", "d").orderBy("key", "id")
    val numbered = codesDf
      .withColumn("rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("block", (col("rn") / blockSize).cast("int"))
      .withColumn("local", col("rn") % blockSize)
    val withRep = numbered
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("t", "d", "block")))
      // reference picks the middle member as representative (GreedyPartitioner.java:66-71)
      .withColumn("rep", when(col("local") === expr("(bn - 1) div 2"), col("code")))
    val summaries = withRep.groupBy("t", "d", "block")
      .agg(
        min("key").as("min_key"),
        max("key").as("max_key"),
        count(lit(1)).as("n"),
        first("rep", ignoreNulls = true).as("rep_code"))
    Built(numbered.select("id", "t", "d", "block", "key"), summaries)
  }

  /**
   * Driver-side probe map: per (t, d), block summaries sorted by
   * block id (== key order). Small by construction (rows / blockSize,
   * ids dropped) — the driver-side state the best-first probe walks.
   */
  final case class TdSummary(
      minKey: Array[Long], maxKey: Array[Long], rep: Array[Array[Long]]) {
    def size: Int = minKey.length
  }

  def collectSummaries(summaries: DataFrame): Map[(Int, Int), TdSummary] =
    // no distributed orderBy: the driver groups and sorts the (small)
    // collected rows anyway, so a cluster-wide sort shuffle buys nothing
    summaries.select("t", "d", "block", "min_key", "max_key", "rep_code")
      .collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (td, rows: Array[Row]) =>
        val sorted = rows.sortBy(_.getInt(2))
        td -> TdSummary(
          sorted.map(_.getLong(3)),
          sorted.map(_.getLong(4)),
          sorted.map(_.getSeq[Long](5).toArray))
      }

  /** Nearest block by key: inside a [min,max] range, else closest boundary (GreedyPartitioner.findNearestPartition). */
  def findNearestBlock(s: TdSummary, qKey: Long): Int = {
    var lo = 0
    var hi = s.size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (qKey < s.minKey(mid)) hi = mid - 1
      else if (qKey > s.maxKey(mid)) lo = mid + 1
      else return mid
    }
    if (lo <= 0) 0
    else if (lo >= s.size) s.size - 1
    else {
      val dl = s.minKey(lo) - qKey // qKey < minKey(lo), > maxKey(lo-1)
      val dr = qKey - s.maxKey(lo - 1)
      if (dr <= dl) lo - 1 else lo
    }
  }
}
