package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded input generators. Every output is a pure function of the
 * seed and a stream number, so the same seed gives byte-identical
 * inputs and separate streams (base corpus, queries, insert batch c,
 * shard s) never share random draws.
 */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** Inverse-CDF sampler of ranks 0..n-1 with P(i) ∝ 1/(i+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---- vectors ----

  val Dim = 64
  val Clusters = 100
  /** Cluster sizes follow Zipf(1.0): the largest cluster holds ~19% of
    * the points, so the LSH blocks over it are hot. */
  val ClusterZipf = 1.0

  /** Gaussian mixture: centers N(0, 3²) per coordinate, unit noise. */
  final class Mixture(seed: Long) {
    val centers: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian() * 3.0))
    }
    private val zipf = new Zipf(Clusters, ClusterZipf)

    /** `n` points of `stream`: each point's cluster and its vector. */
    def points(stream: Long, n: Int): (Array[Int], Array[Array[Float]]) = {
      val r = rng(seed, stream)
      val cl = new Array[Int](n)
      val vs = Array.tabulate(n) { i =>
        val c = zipf.draw(r)
        cl(i) = c
        val ctr = centers(c)
        Array.tabulate(Dim)(j => (ctr(j) + r.nextGaussian()).toFloat)
      }
      (cl, vs)
    }
  }

  object Streams {
    val Base = 2L
    val Queries = 3L
    def insert(cycle: Int): Long = 1000L + cycle
    def shard(s: Int): Long = 100000L + s
    val Bench = 4L
    val Vocab = 5L
  }

  // ---- documents ----

  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it")
  val VocabPerLang = 6000
  /** Word-rank skew. With 6,000 words per language, about 93% of
    * 40–400-token documents stay under the repetition rule's
    * duplicate-token limit (0.3); the long ones fail it. */
  val WordZipf = 0.78
  /** One token in StopEvery is a quality-rule stopword. */
  val StopEvery = 7
  val QualityStopwords: Array[String] = Array("the", "a", "of", "and", "to", "in")
  val MinTokens = 40
  val MaxTokens = 400
  /** The planted near-duplicate mutation token (Dedup.mutatedText). */
  val MutToken = "xqzmut"

  private val Consonants = Map(
    "en" -> "bcdfghlmnprstw", "de" -> "bdfghklmnrstwz", "fr" -> "bcdfjlmnprstv",
    "es" -> "bcdfglmnprstv", "it" -> "bcdfglmnprstv")
  private val Vowels = Map(
    "en" -> "aeiouy", "de" -> "aeiou", "fr" -> "aeiou", "es" -> "aeio", "it" -> "aeiou")

  /** Planted properties of one shard, the ground truth of the checks. */
  final case class Shard(
      ids: Array[Long],
      langs: Array[String],
      texts: Array[String],
      /** (original, mutated copy) pairs, copy id > original id. */
      nearDups: Seq[(Long, Long)],
      /** (original, exact copy) pairs, copy id > original id. */
      exactDups: Seq[(Long, Long)],
      leaks: Seq[Long],
      templated: Seq[Long]) {
    def size: Int = ids.length
  }

  /** [[Dedup.mutatedText]]'s rule: lower-case, split on single spaces,
    * every 60th token (positions 0, 60, 120, …) replaced. */
  def mutated(text: String): String =
    text.toLowerCase.split(" ", -1).zipWithIndex
      .map { case (t, i) => if (i % 60 == 0) MutToken else t }.mkString(" ")

  final class Corpus(seed: Long) {
    /** Per-language vocabularies, disjoint from each other and from the
      * stopwords and the mutation token. */
    val vocab: Map[String, Array[String]] = {
      val r = rng(seed, Streams.Vocab)
      val seen = mutable.HashSet[String](QualityStopwords.toSeq :+ MutToken: _*)
      Langs.map { lang =>
        val cs = Consonants(lang); val vs = Vowels(lang)
        val words = mutable.ArrayBuffer.empty[String]
        while (words.length < VocabPerLang) {
          val sb = new StringBuilder
          val syll = 2 + r.nextInt(2)
          for (_ <- 0 until syll) {
            sb += cs(r.nextInt(cs.length)); sb += vs(r.nextInt(vs.length))
            if (r.nextInt(4) == 0) sb += cs(r.nextInt(cs.length))
          }
          val w = sb.toString
          if (seen.add(w)) words += w
        }
        lang -> words.toArray
      }.toMap
    }
    private val zipf = new Zipf(VocabPerLang, WordZipf)

    private def tokens(r: SplittableRandom, lang: String, n: Int): Array[String] = {
      val v = vocab(lang)
      Array.fill(n) {
        if (r.nextInt(StopEvery) == 0) QualityStopwords(r.nextInt(QualityStopwords.length))
        else v(zipf.draw(r))
      }
    }

    /** The evaluation suite the curation stage decontaminates against. */
    val bench: Seq[(Long, String)] = {
      val r = rng(seed, Streams.Bench)
      (0 until 50).map { i =>
        i.toLong -> tokens(r, Langs(i % Langs.length), 60 + r.nextInt(61)).mkString(" ")
      }
    }

    /** Boilerplate bodies: documents built on one share ~90% of their
      * shingles, so their minhash bands collide in hot buckets. */
    private val templates: Seq[(String, Array[String])] = {
      val r = rng(seed, Streams.Vocab + 1)
      (0 until 3).map(i => Langs(i) -> tokens(r, Langs(i), 60))
    }
    /** Share of a shard built on each template. */
    val TemplateShares: Seq[Double] = Seq(0.01, 0.02, 0.04)

    /**
     * Shard `s` of `n` documents (ids s·1e6 + i). Composition, in id
     * order: base documents (~2% too short for the quality rule,
     * ~3% carrying PII, ~3% with whitespace or control-character
     * dirt, ~1% with a planted benchmark leak), templated
     * boilerplate, then exact copies (~1%) and mutated near-duplicate
     * copies (~5%) of clean base documents.
     */
    def shard(s: Int, n: Int): Shard = {
      val r = rng(seed, Streams.shard(s))
      val base0 = s.toLong * 1000000L
      val nExact = math.max(1, n / 100)
      val nNear = math.max(1, n * 5 / 100)
      val nTpl = TemplateShares.map(f => math.max(1, (n * f).toInt))
      val nBase = n - nExact - nNear - nTpl.sum
      require(nBase > 0, s"shard of $n documents is too small")
      val ids = mutable.ArrayBuffer.empty[Long]
      val langs = mutable.ArrayBuffer.empty[String]
      val texts = mutable.ArrayBuffer.empty[String]
      val clean = mutable.ArrayBuffer.empty[Int] // base docs eligible as plant sources
      val leaks = mutable.ArrayBuffer.empty[Long]
      def add(lang: String, text: String): Int = {
        ids += base0 + ids.length; langs += lang; texts += text; ids.length - 1
      }
      for (_ <- 0 until nBase) {
        val lang = Langs(r.nextInt(Langs.length))
        val roll = r.nextInt(100)
        val len = if (roll < 2) 10 + r.nextInt(10) else MinTokens + r.nextInt(MaxTokens - MinTokens + 1)
        val toks = tokens(r, lang, len)
        if (roll >= 2 && roll < 5) { // PII: an email, a phone number or an IPv4 address
          val pii = r.nextInt(3) match {
            case 0 => s"user${r.nextInt(10000)}@mail${r.nextInt(100)}.com"
            case 1 => f"${r.nextInt(1000)}%03d-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
            case _ => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
          }
          toks(r.nextInt(toks.length)) = pii
          add(lang, toks.mkString(" "))
        } else if (roll >= 5 && roll < 8) { // normalization dirt
          val i = 1 + r.nextInt(toks.length - 1)
          val dirt = r.nextInt(3) match { case 0 => "  "; case 1 => "\t"; case _ => " \u0007 " }
          add(lang, toks.take(i).mkString(" ") + dirt + toks.drop(i).mkString(" "))
        } else if (roll == 8) { // benchmark leak: 8 consecutive tokens of a bench doc
          val b = bench(r.nextInt(bench.length))._2.split(" ")
          val at = r.nextInt(b.length - 8)
          val i = add(lang, (toks ++ b.slice(at, at + 8)).mkString(" "))
          leaks += ids(i)
        } else {
          val i = add(lang, toks.mkString(" "))
          if (roll >= 2) clean += i
        }
      }
      val templated = mutable.ArrayBuffer.empty[Long]
      templates.zip(nTpl).foreach { case ((lang, body), k) =>
        for (_ <- 0 until k) templated += ids(add(lang, (body ++ tokens(r, lang, 5)).mkString(" ")))
      }
      // copy sources are distinct clean base docs
      val pool = clean.toArray
      for (i <- pool.indices.reverse) { // seeded Fisher–Yates
        val j = r.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t
      }
      require(pool.length >= nExact + nNear, s"shard of $n documents is too small")
      val exactDups = pool.take(nExact).toSeq.map(o => ids(o) -> ids(add(langs(o), texts(o))))
      val nearDups = pool.slice(nExact, nExact + nNear).toSeq
        .map(o => ids(o) -> ids(add(langs(o), mutated(texts(o)))))
      Shard(ids.toArray, langs.toArray, texts.toArray, nearDups, exactDups,
        leaks.toSeq, templated.toSeq)
    }
  }
}
