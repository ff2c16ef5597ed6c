package graft.lsh

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType}

/**
 * MSANNP-style LSH coding model (re-expression of the reference's
 * Algorithm-1; fspann `index/paper/Coding.java:184-241,255-301`).
 *
 * `h_j(v) = floor((alpha_j . v + r_j) / omega_j)` with unit-norm
 * Gaussian `alpha_j` and data-adaptive `omega_j` = projection range /
 * 2.5 estimated from a bounded sample. The per-projection hashes are
 * bit-interleaved MSB-first into an `m*lambda`-bit code; the first 63
 * bits form a sortable long key used for greedy partitioning.
 *
 * Spark posture: the model is tiny ((tables*divisions) matrices of
 * m*dim doubles — a few hundred KB) and is fitted driver-side from a
 * bounded sample, then shipped to executors inside a codegen'd
 * Catalyst expression ([[LshCodesExpr]]). No per-row driver work, no
 * UDF boxing; the projection kernel runs inside whole-stage codegen.
 */
final case class LshParams(
    m: Int = 25,
    lambda: Int = 2,
    tables: Int = 8,
    divisions: Int = 3,
    seed: Long = 13L,
    blockSize: Int = 64,
    maxProbes: Int = 5,
    refinementLimit: Int = 20000,
    maxGlobalCandidates: Int = 20000) {
  require(m > 0 && lambda > 0 && tables > 0 && divisions > 0 && blockSize > 0)
  // bit-pack field widths (AnnQuery.firstOrd: t:8 d:6 score:13 block:36
  // bits): a config exceeding a field would silently reorder the
  // hard-cap cut instead of matching the reference's lexicographic
  // struct-min — fail loudly at construction instead
  require(tables <= 256, s"tables=$tables exceeds the 8-bit pack field (max 256)")
  require(divisions <= 64, s"divisions=$divisions exceeds the 6-bit pack field (max 64)")
  require(m * lambda <= 8191, s"m*lambda=${m * lambda} exceeds the 13-bit hamming pack field (max 8191)")
  def codeBits: Int = m * lambda
  def codeWords: Int = (codeBits + 63) >>> 6

  /** Per-query candidate collection bound (reference
    * `PartitionedIndexService.lookupCandidateIds` HARD_CAP,
    * PartitionedIndexService.java:479). */
  def hardCap: Int = math.max(maxGlobalCandidates, refinementLimit)
}

/** One G function: m unit-norm Gaussian projections with offsets r and widths omega. */
final case class GFunction(
    alpha: Array[Array[Double]],
    r: Array[Double],
    omega: Array[Double],
    lambda: Int) extends Serializable {
  def m: Int = alpha.length

  /**
   * Bit-interleaved code C(v) packed into longs, MSB-first: bit
   * position p of the code sits at long bit (63 - p%64) of word p/64,
   * so the sortable 63-bit partition key is simply `words(0) >>> 1`
   * (reference `GreedyPartitioner.computeKey`: code bit i -> long bit
   * 62-i).
   */
  def codeWords(vec: Array[Float], nWords: Int): Array[Long] = {
    val words = new Array[Long](nWords)
    var pos = 0
    var bit = lambda - 1
    val h = new Array[Int](m)
    var j = 0
    while (j < m) {
      val a = alpha(j)
      val n = math.min(a.length, vec.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += a(i) * vec(i); i += 1 }
      // offset-binary (sign-flip) so negative buckets order below positive
      h(j) = math.floor((s + r(j)) / omega(j)).toInt ^ Int.MinValue
      j += 1
    }
    while (bit >= 0) {
      j = 0
      while (j < m) {
        if (((h(j) >>> bit) & 1) != 0) words(pos >>> 6) |= 1L << (63 - (pos & 63))
        pos += 1
        j += 1
      }
      bit -= 1
    }
    words
  }
}

/** Fitted model: one [[GFunction]] per (table, division). */
final case class LshModel(params: LshParams, gfs: Array[Array[GFunction]]) extends Serializable {
  def g(table: Int, division: Int): GFunction = gfs(table)(division)
}

object Lsh {
  /** Bounded fit sample, mirroring the reference's MAX_SAMPLE_SIZE posture. */
  val MaxSample = 10000

  /** Per-(table, division) seed schedule (reference `GFunctionRegistry.computeSeed`). */
  def computeSeed(base: Long, table: Int, division: Int): Long =
    base + table.toLong * 1000003L + division.toLong

  /**
   * Fit a model from a bounded sample of a vector column. This is the
   * ONLY place raw vectors cross the driver, and it is capped at
   * [[MaxSample]] rows — at 100 TB the sample is the same size.
   *
   * `orderCol` pins the sample: a bare `limit` takes whichever
   * partitions answer first, which on a cluster makes the fitted
   * model — and every downstream code, key, and block boundary —
   * run-dependent. Pass the id column (default `vec_id`) for a
   * reproducible model.
   */
  def fit(df: DataFrame, vecCol: String, params: LshParams = LshParams(),
      orderCol: String = "vec_id"): LshModel = {
    val ordered =
      if (df.columns.contains(orderCol)) df.orderBy(orderCol) else df
    val sample: Array[Array[Float]] = ordered
      .select(col(vecCol).cast(ArrayType(FloatType)))
      .limit(MaxSample)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, s"empty sample for LSH fit on $vecCol")
    val dim = sample(0).length
    // reference parity (PartitionedIndexService.insert: "Mixed
    // dimensions not supported in single index"): a mixed-dim corpus
    // must fail loudly at fit, not silently truncate projections
    val badDim = sample.indexWhere(_.length != dim)
    require(badDim < 0,
      s"mixed dimensions not supported in a single index: sample row 0 has dim $dim, " +
        s"row $badDim has dim ${sample(badDim).length}")
    val gfs = Array.tabulate(params.tables, params.divisions) { (t, d) =>
      fitG(sample, dim, params.m, params.lambda, computeSeed(params.seed, t, d))
    }
    LshModel(params, gfs)
  }

  /** Data-adaptive G: Gaussian alpha, omega_j = projection range / 2.5, r_j in [0, omega_j). */
  private def fitG(sample: Array[Array[Float]], dim: Int, m: Int, lambda: Int, seed: Long): GFunction = {
    val rnd = new SplittableRandom(seed)
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
    val alpha = Array.tabulate(m) { _ =>
      val a = Array.fill(dim)(gaussian())
      val norm = math.sqrt(math.max(1e-12, a.map(x => x * x).sum))
      a.map(_ / norm)
    }
    val min = Array.fill(m)(Double.PositiveInfinity)
    val max = Array.fill(m)(Double.NegativeInfinity)
    sample.foreach { v =>
      var j = 0
      while (j < m) {
        val a = alpha(j)
        val n = math.min(a.length, v.length)
        var s = 0.0
        var i = 0
        while (i < n) { s += a(i) * v(i); i += 1 }
        if (s < min(j)) min(j) = s
        if (s > max(j)) max(j) = s
        j += 1
      }
    }
    val omega = Array.tabulate(m) { j =>
      val w = math.max(1e-6, max(j) - min(j)) / 2.5
      if (w > 0) w else 1e-3
    }
    val r = omega.map(w => rnd.nextDouble() * w)
    GFunction(alpha, r, omega, lambda)
  }

  /** Hamming distance between packed codes. */
  def hamming(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    s
  }

  /** Sortable 63-bit key of a packed code (first 63 bits, MSB-first). */
  def key(words: Array[Long]): Long = words(0) >>> 1

  /** Column of ARRAY<STRUCT<t,d,key,code>>: all (table, division) codes of a vector. */
  def lshCodes(vec: Column, model: LshModel): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      LshCodesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec.cast(ArrayType(FloatType))),
        model))
}
