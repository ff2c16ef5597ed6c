package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.operators.{Curate, Decontaminate, Packing}
import graft.text.{Normalize, TextAnalysis, TextFilters}

/**
 * `corpus_pipeline`: shards of generated documents through
 * curate → keep → minhash pairs → connected components → dedup apply
 * → greedy sequence packing, one closed-loop client. Every stage
 * writes its output to a parquet stage table and the next stage reads
 * it back (the production staging of `Curate.curateMaterialized`).
 */
final class Pipeline(ctx: Ctx) {
  import Pipeline._
  private val spark = ctx.spark
  private val probe = ctx.probe
  private val corpus = new Gen.Corpus(ctx.seed)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def staged(name: String, rows: Seq[Row], slices: Int): DataFrame = {
    val path = s"${ctx.work}/$name.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), docSchema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private val bench = staged("bench",
    corpus.bench.map { case (i, t) => Row(i, "en", t) }, 1).select("doc_id", "text")

  /** Shard `s`, generated and written before timing. */
  private def shard(s: Int): (Gen.Shard, DataFrame) = {
    val sh = corpus.shard(s, ShardDocs)
    (sh, staged(s"shard_$s", sh.ids.indices.map(i => Row(sh.ids(i), sh.langs(i), sh.texts(i))),
      ctx.cores))
  }

  private def write(dir: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(dir)

  /** One shard through the whole chain, then its output checks. */
  private def chain(sh: Gen.Shard, docs: DataFrame, tag: String): Result = {
    val dir = s"${ctx.work}/stages/$tag"
    val read = (t: String) => spark.read.parquet(s"$dir/$t")
    val (_, cur) = probe.op("operators.curate")(
      Curate.curate(docs.select("doc_id", "text"), bench))(write(s"$dir/verdicts"))
    val (_, keep) = probe.op("operators.keep")(
      docs.join(read("verdicts").filter(col("keep") === 1).select("doc_id"), Seq("doc_id"), "left_semi"))(
      write(s"$dir/kept"))
    val kept = read("kept")
    val (_, mh) = probe.op("dedup.minhash_pairs")(
      Dedup.minhashPairs(kept, "doc_id", "text", maxBucket = MaxBucket)) { p =>
      write(s"$dir/pairs")(p); p.unpersist()
    }
    val (_, cc) = probe.op("dedup.cc")(
      Dedup.connectedComponents(read("pairs"), kept.select(col("doc_id").as("id")))) { l =>
      write(s"$dir/components")(l); l.unpersist()
    }
    val (_, app) = probe.op("dedup.apply")(Dedup.dedupApply(kept,
      read("components").select(col("id").as("doc_id"), col("keeper"))))(write(s"$dir/deduped"))
    val buckets = math.max(1, ShardDocs / DocsPerPackBucket)
    val (_, pk) = probe.op("operators.pack")(
      Packing.seqPackGreedy(read("deduped"), "lang", Budget, buckets))(write(s"$dir/packs"))
    val wall = Seq(cur, keep, mh, cc, app, pk).map(_.wallS).sum

    // ---- checks, outside the timers ----
    val errs = mutable.ArrayBuffer.empty[String]
    val verdicts = read("verdicts").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    if (verdicts.size != sh.size) errs += s"${verdicts.size} verdicts for ${sh.size} documents"
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    if (keptIds != verdicts.collect { case (i, "keep") => i }.toSet)
      errs += "kept documents differ from the documents with verdict keep"
    sh.leaks.filter(keptIds).foreach(i => errs += s"planted leak $i was kept")
    val deduped = read("deduped").select("doc_id").collect().map(_.getLong(0)).toSet
    sh.exactDups.filter { case (a, b) => deduped(a) && deduped(b) }
      .foreach(p => errs += s"exact duplicate pair $p survived dedup")
    val eligible = sh.nearDups.filter { case (a, b) => keptIds(a) && keptIds(b) }
    val removed = eligible.count { case (a, b) => !(deduped(a) && deduped(b)) }
    val packs = read("packs").select("doc_id", "pack_id", "pack_offset").collect()
    val packed = packs.map(_.getAs[Long]("doc_id"))
    if (packed.distinct.length != packed.length) errs += "a document landed in two packs"
    if (packed.toSet != deduped) errs += s"${packed.toSet.size} packed of ${deduped.size} deduplicated documents"
    // tokens as Packing counts them: spaces + 1
    val text = sh.ids.zip(sh.texts).toMap
    val n = (r: Row) => text(r.getAs[Long]("doc_id")).count(_ == ' ') + 1L
    packs.groupBy(_.getAs[Long]("pack_id")).foreach { case (p, rs) =>
      val fill = rs.map(n).sum
      if (fill > Budget || rs.exists(r => r.getAs[Long]("pack_offset") + n(r) > Budget))
        errs += s"pack $p holds $fill tokens, over the budget of $Budget"
    }
    ctx.attempt(s"shard $tag", errs.toSeq)
    if (probe.traced) {
      val nPacks = packs.map(_.getAs[Long]("pack_id")).distinct.length
      fills += packs.map(n).sum.toDouble / math.max(1, nPacks) / Budget
    }
    val ruleKept = verdicts.values.count(v => v == "keep" || v == "lm_tail")
    Result(wall, sh.size, Ctx.digest(packs.toSeq.map(r =>
        s"${r.getAs[Long]("doc_id")}:${r.getAs[Long]("pack_id")}:${r.getAs[Long]("pack_offset")}")),
      eligible.size, removed, keptIds.size, ruleKept)
  }

  private val fills = mutable.ArrayBuffer.empty[Double]

  def run(): Unit = {
    // set-up: the first shard through the whole chain, repeated
    val (sh0, docs0) = shard(0)
    val first = (1 to Main.SetupReps).map(i => chain(sh0, docs0, s"setup_$i"))
    ctx.attempt("setup.digest",
      if (first.map(_.digest).distinct.size == 1) Nil
      else Seq(s"set-up outputs differ: ${first.map(_.digest).mkString(",")}"))
    ctx.e2e("setup_s", Ctx.median(first.map(_.wallS)), "s", first.size)
    probe.samples.clear() // module medians cover the window only

    val results = mutable.ArrayBuffer.empty[Result]
    var last: (DataFrame, String) = null
    val walls = ctx.window(WindowShards) { s =>
      val (sh, docs) = shard(s)
      val r = chain(sh, docs, s"shard_$s")
      last = (docs, s"${ctx.work}/stages/shard_$s")
      results += r
      r.wallS
    }
    val dupPairs = results.map(_.dupPairs).sum
    ctx.e2e("op_p50_s", Ctx.median(walls), "s", walls.size)
    ctx.e2e("items_per_s", results.map(_.docs).sum / walls.sum, "1/s", walls.size)
    ctx.e2e("quality", results.map(_.dupRemoved).sum.toDouble / math.max(1, dupPairs), "fraction", dupPairs)
    ctx.detail("rule_keep_rate", results.map(_.ruleKept).sum.toDouble / results.map(_.docs).sum)
    ctx.detail("keep_rate", results.map(_.keptDocs).sum.toDouble / results.map(_.docs).sum)
    if (probe.traced) modules(last._1, last._2)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-stage numbers from the window, then each module's calls alone. */
  private def modules(docs: DataFrame, stageDir: String): Unit = {
    def med(kind: String)(f: Sample => Double): Double = {
      val ss = probe.of(kind)
      if (ss.isEmpty) 0.0 else Ctx.median(ss.map(f))
    }
    val curateS = med("operators.curate")(_.wallS)
    ctx.layer("operators.curate_s", curateS, "s")
    ctx.layer("operators.curate.eager_jobs", med("operators.curate")(_.eager.jobs.toDouble), "count")
    ctx.layer("operators.curate.exec_jobs", med("operators.curate")(_.exec.jobs.toDouble), "count")
    ctx.layer("operators.curate.task_s", med("operators.curate")(_.work.taskMs / 1e3), "s")
    ctx.layer("operators.curate.bhj", med("operators.curate")(_.plan.fold(0.0)(_.bhj)), "count")
    ctx.layer("operators.curate.smj", med("operators.curate")(_.plan.fold(0.0)(_.smj)), "count")
    ctx.layer("operators.pack_s", med("operators.pack")(_.wallS), "s")
    ctx.layer("operators.pack_fill", Ctx.median(fills.toSeq), "fraction")
    ctx.layer("dedup.minhash_pairs_s", med("dedup.minhash_pairs")(_.wallS), "s")
    ctx.layer("dedup.cc_s", med("dedup.cc")(_.wallS), "s")
    ctx.layer("dedup.cc_jobs", med("dedup.cc")(_.work.jobs.toDouble), "count")
    ctx.layer("dedup.apply_s", med("dedup.apply")(_.wallS), "s")
    ctx.layer("dedup.apply.bhj", med("dedup.apply")(_.plan.fold(0.0)(_.bhj)), "count")
    ctx.layer("dedup.apply.smj", med("dedup.apply")(_.plan.fold(0.0)(_.smj)), "count")

    // each stage of curate alone, over the last shard
    val alone = Seq(
      "text.normalize_s" -> (() => Normalize.textNormalize(docs, "doc_id", "text")),
      "text.pii_scrub_s" -> (() => TextFilters.piiScrub(docs, "doc_id", "text")),
      "text.rules_s" -> (() => TextFilters.qualityFilter(docs, "doc_id", "text")
        .join(TextAnalysis.repetitionFilter(docs, "doc_id", "text"), "doc_id")),
      "operators.decontaminate_s" -> (() => Decontaminate.decontaminate(docs, bench, "doc_id", "text", 5)),
      "text.lm_score_s" -> (() => TextAnalysis.lmScore(docs, "doc_id", "text")))
    val sums = alone.map { case (name, f) =>
      val s = Ctx.median((1 to ModuleReps).map(_ => probe.op(name)(f())(noop)._2.wallS))
      ctx.layer(name, s, "s")
      s
    }
    ctx.layer("operators.curate_overhead", curateS / sums.sum, "ratio")

    // candidate pairs and hot buckets of the minhash banding, recomputed
    // outside the kernel from its public signature and band functions
    val kept = spark.read.parquet(s"$stageDir/kept")
    val bands = Dedup.minhashBands(Dedup.minhashSignatures(kept, "doc_id", "text", 64, 3), 64, 4).cache()
    val sizes = bands.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
    val hot = sizes.filter(col("n") > MaxBucket).count()
    val ok = bands.join(sizes.filter(col("n") <= MaxBucket), Seq("band", "band_hash"))
    val cands = ok.as("x").join(ok.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    bands.unpersist()
    val verified = spark.read.parquet(s"$stageDir/pairs").count()
    ctx.layer("dedup.candidate_pairs", cands.toDouble, "count")
    ctx.layer("dedup.verified_frac", verified.toDouble / math.max(1L, cands), "fraction")
    ctx.layer("dedup.hot_buckets_dropped", hot.toDouble, "count")
  }
}

object Pipeline {
  final case class Result(wallS: Double, docs: Int, digest: String,
      dupPairs: Int, dupRemoved: Int, keptDocs: Long, ruleKept: Long)

  val ShardDocs = 500
  /** Sequence budget: above the longest generated document (400 tokens). */
  val Budget = 512L
  /** Hot-bucket cap, below the largest template's share of a shard (20 docs). */
  val MaxBucket = 16
  /** seqPackGreedy's fold is quadratic in its shard: keep ~200 docs a bucket. */
  val DocsPerPackBucket = 200
  val ModuleReps = 2
  /** At least two shards a run: one shard takes about as long as the
    * window, and a run with one sample would read differently. */
  val WindowShards = 2
}
