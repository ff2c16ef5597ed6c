package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.BinaryMeta
import graft.query.{AnnQuery, IvfSearch}
import graft.text.{FingerprintKernels, TextAnalysis}

class DedupTextSpec extends SparkSpecBase {
  import org.apache.spark.unsafe.types.UTF8String

  lazy val docs = Tables.documents(spark, sf)

  test("dedup_exact groups planted exact copies under the original keeper") {
    val res = Dedup.dedupExact(spark, sf).collect()
    val dups = res.filter(_.getLong(1) == 2L)
    assert(dups.length == 30)
    assert(dups.forall(_.getLong(0) < 30))
    assert(res.filter(_.getLong(1) == 1L).length == 470)
  }

  test("minhash finds planted near-dups (recall >= 0.8); all reported pairs verify >= threshold") {
    val rows = Dedup.dedupMinhash(spark, sf).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.filter { case (a, b) => b == a + Dedup.PlantOffset }
    assert(planted.length >= 20, s"found ${planted.length}/25 planted near-dup pairs")
    // every reported pair passed the exact-Jaccard verify (no unverified banding hits)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("simhash finds planted near-dups within the hamming budget") {
    val pairs = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.filter { case (a, b) => b == a + Dedup.PlantOffset }
    assert(planted.length >= 15, s"found ${planted.length}/25 planted simhash pairs")
  }

  test("ngram jaccard: identical docs = 1.0, self-consistent range") {
    val j = Dedup.ngramJaccard(spark, sf).collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val v = r.getDouble(2)
      assert(v >= 0.0 && v <= 1.0)
    }
  }

  test("ivf recall@10 >= 0.6 vs brute force; self-match at rank 1") {
    val ann = IvfSearch.simsearchIvf(spark, sf)
    val gt = AnnQuery.annBruteTopK(spark, sf)
    val hits = ann.select(col("query_id"), col("vec_id"))
      .join(gt.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"))
      .count()
    val recall = hits.toDouble / (IvfSearch.NumQueries * IvfSearch.K)
    assert(recall >= 0.6, s"ivf recall@10 = $recall")
    ann.filter(col("rnk") === 1).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("neardup hot-cell guard drops degenerate cells; pairs survive via other probes") {
    import spark.implicits._
    // 200 identical vectors all land in ONE cell: without the guard the
    // co-probe join yields ~20k pairs from that cell alone
    val e = (0 until 200).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0f), Array.fill(8)(-1.0f))
    val probes = Dedup.probeCells(e, cents, 1).cache()
    val guardedPairs = Dedup.neardupPlan(e, probes, 100000, maxCell = 100)
    assert(guardedPairs.count() == 0, "hot cell must drop from the join")
    val unguarded = Dedup.neardupPlan(e, probes, 100000, maxCell = 1000000)
    assert(unguarded.count() == 200L * 199 / 2)
    probes.unpersist()

    // a pair sharing a SECOND (cold) probe cell survives the hot-cell drop
    val mixed = ((0 until 200).map(i => (i.toLong, Array.fill(8)(1.0f))) ++
      Seq((900L, Array.fill(8)(-1.0f)), (901L, Array.fill(8)(-1.0f))))
      .toDF("vec_id", "embedding")
    val p2 = Dedup.probeCells(mixed, cents, 1)
    val survived = Dedup.neardupPlan(mixed, p2, 100000, maxCell = 100)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(survived == Set((900L, 901L)), s"cold-cell pair must survive: $survived")
  }

  test("ivf per-query candidate cap still returns k results in probe order") {
    val emb = Tables.embeddings(spark, sf)
    val cents = IvfSearch.fitCentroids(emb, 16)
    val q = emb.filter(col("vec_id") < 5)
    // tiny cap: every query still yields k rows (cap >= k candidates kept)
    val capped = IvfSearch.ivfTopK(spark, emb, q, 10, 4, cents, maxCandidates = 10)
    val perQ = capped.groupBy("query_id").count().collect()
    assert(perQ.length == 5)
    perQ.foreach(r => assert(r.getLong(1) == 10L, s"capped query returned ${r.getLong(1)}"))
    // default cap is far above the test corpus: results identical to uncapped
    val dflt = IvfSearch.ivfTopK(spark, emb, q, 10, 4, cents)
    val uncapped = IvfSearch.ivfTopK(spark, emb, q, 10, 4, cents, maxCandidates = Int.MaxValue)
    assert(dflt.exceptAll(uncapped).count() == 0)
    assert(uncapped.exceptAll(dflt).count() == 0)
  }

  test("knn_join: k neighbours per vector, no self edges, recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val knn = IvfSearch.knnJoin(spark, sf).cache()
    assert(knn.filter(col("query_id") === col("nbr_id")).count() == 0)
    val perQ = knn.groupBy("query_id").count().collect()
    assert(perQ.length == n, s"${perQ.length} queried of $n vectors")
    perQ.foreach(r => assert(r.getLong(1) == IvfSearch.K.toLong,
      s"query ${r.getLong(0)} returned ${r.getLong(1)} neighbours"))
    // recall vs exact GT on the query subset (self excluded from GT)
    val gt = AnnQuery.annBruteTopK(spark, sf)
      .filter(col("query_id") =!= col("vec_id"))
    val hits = knn.select(col("query_id"), col("nbr_id").as("vec_id"))
      .join(gt.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"))
      .count()
    val recall = hits.toDouble / gt.count()
    assert(recall >= 0.6, s"knn_join recall = $recall")
    knn.unpersist()
    ()
  }

  test("knn_join surfaces a planted exact duplicate at rank 1, both directions") {
    import spark.implicits._
    val base = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * 8 + j).toFloat / 64)))
    val e = (base :+ ((1000L, base(7)._2))).toDF("vec_id", "embedding")
    val cents = IvfSearch.fitCentroids(e, 4)
    val knn = IvfSearch.knnJoinPlan(e, 3, 2, cents, 20000)
    val r7 = knn.filter(col("query_id") === 7 && col("rnk") === 1).collect()
    val rDup = knn.filter(col("query_id") === 1000 && col("rnk") === 1).collect()
    assert(r7.head.getLong(1) == 1000L && r7.head.getDouble(2) == 0.0)
    assert(rDup.head.getLong(1) == 7L && rDup.head.getDouble(2) == 0.0)
  }

  test("cell-sharded knn_join: the shard union equals the unsharded graph row-for-row") {
    val e = Tables.embeddings(spark, sf)
    val cents = IvfSearch.fitCentroids(e, 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val whole = rows(IvfSearch.knnJoinPlan(e, 5, 3, cents, 20000))
    for (s <- Seq(2, 5)) {
      val sharded = IvfSearch.knnJoinShardedPlan(e, 5, 3, cents, 20000, nShards = s)
      assert(rows(sharded) == whole,
        s"$s-way sharded union must equal the unsharded k-NN graph")
    }
    // shards partition the queries: every query answered exactly once
    val perShard = (0 until 3).map(s =>
      IvfSearch.knnJoinShard(e, 5, 3, cents, 20000, 3, s)
        .select("query_id").distinct().collect().map(_.getLong(0)).toSet)
    assert(perShard.reduce(_ ++ _) == whole.map(_._1),
      "shards must cover every query")
    assert(perShard.map(_.size).sum == whole.map(_._1).size,
      "shard query sets must be disjoint")
    // the resident-assignment form (staged homes) is the same graph
    val homes = IvfSearch.probeCellsRanked(
        e.select(col("vec_id"), col("embedding")), cents, nProbe = 1,
        carry = Seq("cvec" -> col("embedding")))
      .select(col("query_id").as("vec_id"), col("cvec").as("embedding"), col("cell"))
      .cache()
    val stagedUnion = (0 until 3)
      .map(s => IvfSearch.knnJoinShard(e, 5, 3, cents, 20000, 3, s, Some(homes)))
      .reduce(_.unionByName(_))
    assert(rows(stagedUnion) == whole,
      "staged-homes shards must equal the unsharded k-NN graph")
    homes.unpersist()
    ()
  }

  test("knn_join_delta: touched rows ∪ carried resident rows == the full merged rebuild, with real carried rows") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cents = IvfSearch.fitCentroids(e, 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val homes = IvfSearch.probeCellsRanked(e, cents, nProbe = 1,
        carry = Seq("cvec" -> col("embedding")))
      .select(col("query_id").as("vec_id"), col("cvec").as("embedding"), col("cell"))
      .cache()
    // a LOCALIZED recrawl (the scale story's shape): the delta lands
    // in two cells, so the reverse patch touches only the queries
    // probing them and everyone else's resident rows carry
    val deltaHomes = homes.filter(col("cell") < 2)
    val baseHomes = homes.filter(col("cell") >= 2)
    assert(deltaHomes.count() > 0 && baseHomes.count() > 0, "carve must split")
    val touched = IvfSearch.knnJoinDeltaPlan(5, 3, cents, 20000,
      baseHomes, deltaHomes)
    val touchedRows = rows(touched)
    val touchedQ = touchedRows.map(_._1)
    // the resident base-generation graph (what a pipeline already has)
    val resident = rows(IvfSearch.knnForQueries(
      baseHomes.select(col("vec_id"), col("embedding")), baseHomes,
      5, 3, cents, 20000))
    val carried = resident.filter(r => !touchedQ.contains(r._1))
    // non-vacuous: the patch must touch SOME base queries and carry others
    val baseIds = baseHomes.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(touchedQ.exists(baseIds.contains), "some base queries must be patched")
    assert(carried.nonEmpty, "some resident rows must carry untouched")
    // the delta discipline's whole claim: carried ∪ touched == rebuild
    val full = rows(IvfSearch.knnJoinPlan(e, 5, 3, cents, 20000))
    assert(carried ++ touchedRows == full,
      "delta-patched graph must equal the full merged rebuild row-for-row")
    homes.unpersist()
    ()
  }

  test("knn_join_delta_compact: the compacted graph equals the full merged rebuild") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // the entry-level fold (staged base graph anti-joined on the
    // touched set ∪ the patch) must reproduce knn_join's own output —
    // the same value identity its oracle (knnJoinSql verbatim) checks
    val compact = rows(IvfSearch.knnJoinDeltaCompact(spark, sf))
    val full = rows(IvfSearch.knnJoin(spark, sf))
    assert(compact == full,
      "compacted graph must equal the full merged rebuild row-for-row")
    // and the fold really reads the resident staged graph, not a rebuild
    val plan = IvfSearch.knnJoinDeltaCompact(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("knn_base_graph"),
      s"the carried side must scan the staged base-generation graph:\n$plan")
  }

  test("mixed-dimension corpus fails the LSH fit loudly") {
    import spark.implicits._
    val mixed = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(6)(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.lsh.Lsh.fit(mixed, "embedding")
    }
    assert(e.getMessage.contains("mixed dimensions"))
  }

  test("lang_id identifies planted natural-language samples") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on the mat and it is a good day for the people in the town", "en"),
      (2L, "der hund ist ein gutes tier und die katze ist nicht zu laut in der nacht", "de"),
      (3L, "le chat est un animal et la maison est une belle place que les gens aiment pas", "fr"),
      (4L, "el perro es un animal y la casa es una bella plaza que no es de los gatos", "es"),
      (5L, "il gatto e un animale che non sono per una casa e il cane e di la", "it"))
    val df = samples.toDF("doc_id", "text", "expected")
    val pred = TextAnalysis.langId(df, "doc_id", "text")
      .join(df.select(col("doc_id"), col("expected")), "doc_id")
      .collect()
    pred.foreach { r =>
      assert(r.getString(1) == r.getString(3), s"doc ${r.getLong(0)}: ${r.getString(1)} != ${r.getString(3)}")
    }
  }

  test("lang_id_trained: learns every class incl. zh; accuracy >= the stopword heuristic") {
    import graft.text.LangIdTrained
    val planted = LangIdTrained.plantedDocs(Tables.documents(spark, sf))
    val trained = LangIdTrained.langIdTrainedQuery(spark, sf).collect()
    val trainedAcc = trained.map(_.getInt(4)).sum.toDouble / trained.length
    val truth = planted.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val heur = TextAnalysis.langId(planted, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val heurAcc = heur.count { case (id, p) => p == truth(id) }.toDouble / heur.length
    assert(trainedAcc >= heurAcc,
      s"trained $trainedAcc must not be below the heuristic $heurAcc")
    assert(trainedAcc > 0.9, s"trained accuracy too low: $trainedAcc")
    // the structural gap the model closes: zh has no stopword profile,
    // so the heuristic can never predict it — the trained model must
    val zhIds = truth.filter(_._2 == "zh").keySet
    assert(zhIds.nonEmpty, "corpus must contain zh docs")
    heur.filter(p => zhIds(p._1)).foreach { case (id, p) =>
      assert(p != "zh", s"heuristic cannot know zh but predicted it for $id")
    }
    val zhTrained = trained.filter(r => zhIds(r.getLong(0)))
    assert(zhTrained.forall(_.getString(2) == "zh"),
      s"trained must identify zh: ${zhTrained.map(_.getString(2)).distinct.mkString(",")}")
  }

  test("lm_score: hand-computed surprisal on a tiny corpus; rare-token docs score lower") {
    import spark.implicits._
    // corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, total=5
    val df = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def trunc(x: Double) = math.floor(x * 10000) / 10000
    val s0 = trunc((2 * math.log(3 / 5.0) + math.log(1 / 5.0)) / 3)
    val s1 = trunc((math.log(3 / 5.0) + math.log(1 / 5.0)) / 2)
    assert(got(0L) == ((3L, s0)), got.toString)
    assert(got(1L) == ((2L, s1)), got.toString)
    // a doc made of the corpus's rarest tokens scores below a doc of
    // its most common ones (the signal the filter thresholds on)
    val sf001 = TextAnalysis.lmScoreQuery(spark, sf)
    val joined = sf001.agg(min("lm_score"), max("lm_score")).head()
    assert(joined.getDouble(0) < joined.getDouble(1))
  }

  test("lm_score_bigram: hand-computed conditional surprisal; sentinels for short docs") {
    import spark.implicits._
    // corpus bigrams: doc0 "a b, b a", doc1 "a b", doc2 none
    // counts: c(a b)=2, c(b a)=1; prefixes: c(a .)=2, c(b .)=1
    val df = Seq((0L, "a b a"), (1L, "a b"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreBigram(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def trunc(x: Double) = math.floor(x * 10000) / 10000
    // P(b|a) = 2/2 = 1; P(a|b) = 1/1 = 1 -> every bigram has ln 1 = 0
    assert(got(0L) == ((2L, 0.0)), got.toString)
    assert(got(1L) == ((1L, 0.0)), got.toString)
    assert(got(2L) == ((0L, 0.0)), got.toString)
    // a corpus with an actually-uncertain prefix: "x y" and "x z"
    val df2 = Seq((0L, "x y"), (1L, "x z")).toDF("doc_id", "text")
    val got2 = TextAnalysis.lmScoreBigram(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // P(y|x) = P(z|x) = 1/2 -> mean ln = ln(0.5)
    assert(got2(0L) == trunc(math.log(0.5)))
    assert(got2(1L) == trunc(math.log(0.5)))
  }

  test("lm_score_trigram: hand-computed interpolated surprisal; sentinels below 3 tokens") {
    import spark.implicits._
    // corpus: doc0 "a b a b a", doc1 "a b", doc2 "b"
    // unigrams: c(a)=4, c(b)=4, N=8
    // bigrams (all adjacent pairs): c(ab)=3, c(ba)=2; prefixes cp(a)=3, cp(b)=2
    // trigrams (doc0 only): aba, bab, aba -> c(aba)=2, c(bab)=1;
    //   prefix2: ctp(ab)=2, ctp(ba)=1
    val df = Seq((0L, "a b a b a"), (1L, "a b"), (2L, "b")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreTrigram(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def trunc(x: Double) = math.floor(x * 10000) / 10000
    // every trigram position interpolates to the same mass:
    //   aba: 0.2*(4/8) + 0.3*(2/2) + 0.5*(2/2) = 0.9
    //   bab: 0.2*(4/8) + 0.3*(3/3) + 0.5*(1/1) = 0.9
    val expect = trunc(math.log(0.2 * 0.5 + 0.3 * 1.0 + 0.5 * 1.0))
    assert(got(0L) == ((3L, expect)), got.toString)
    assert(got(1L) == ((0L, 0.0)), got.toString)
    assert(got(2L) == ((0L, 0.0)), got.toString)
    // uncertainty lowers the score: two continuations of the same
    // bigram prefix score below the deterministic corpus above
    val df2 = Seq((0L, "x y p"), (1L, "x y q")).toDF("doc_id", "text")
    val got2 = TextAnalysis.lmScoreTrigram(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // p1 = 1/6, p2 = 1/2 (yp|y of cp(y)=2), p3 = 1/2 (ctp(xy)=2)
    val expect2 = trunc(math.log(0.2 * (1 / 6.0) + 0.3 * (1 / 2.0) + 0.5 * (1 / 2.0)))
    assert(got2(0L) == expect2, got2.toString)
    assert(got2(1L) == expect2, got2.toString)
  }

  test("lm_score_5gram: the stupid-backoff chain fires level by level on held-out grams") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // train band = doc0 only: "a b c d e a b c d e"
    //   c5(abcde)=2; c4(abcd)=c4(bcde)=2, others 1; c3(bcd)=c3(cde)=2;
    //   c2(cd)=c2(de)=2; c1(d)=c1(e)=2, N=10
    // held-out docs walk the backoff ladder one unseen level at a time
    val df = Seq(
      (0L, "a b c d e a b c d e"),
      (10L, "a b c d e"),  // 5-gram seen:        S = 2/2
      (11L, "z b c d e"),  // back off to 4-gram: S = .4 * 2/2
      (12L, "z z c d e"),  // 3-gram:             S = .16 * 2/2
      (13L, "z z z d e"),  // 2-gram:             S = .064 * 2/2
      (14L, "z z z z e"),  // unigram:            S = .0256 * 2/10
      (15L, "z z z z q"),  // OOV floor:          S = .0256 * 1/10
      (16L, "a b")         // < 5 tokens: sentinel
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore5gram(df, "doc_id", "text", col("doc_id") < 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def trunc(x: Double) = math.floor(x * 10000) / 10000
    assert(got(10L) == ((1L, 0.0)), got.toString)
    assert(got(11L) == ((1L, trunc(math.log(0.4)))), got.toString)
    assert(got(12L) == ((1L, trunc(math.log(0.16)))), got.toString)
    assert(got(13L) == ((1L, trunc(math.log(0.064)))), got.toString)
    assert(got(14L) == ((1L, trunc(math.log(0.0256 * 0.2)))), got.toString)
    assert(got(15L) == ((1L, trunc(math.log(0.0256 * 0.1)))), got.toString)
    assert(got(16L) == ((0L, 0.0)), got.toString)
    // the train doc scores its own 6 positions; only bcdea's 5-gram
    // count (1) undercuts its prefix bcde's 4-gram count (2)
    assert(got(0L) == ((6L, trunc(math.log(0.5) / 6))), got.toString)
  }

  test("lm_score_5gram properties: nonpositive scores, exact position counts, determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // seeded random corpus over a tiny vocab: heavy gram collisions,
    // every backoff level reachable
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "zz")
    val docs = (0 until 120).map { i =>
      val len = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val run1 = TextAnalysis.lmScore5gram(df, "doc_id", "text", col("doc_id") % 3 =!= 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lens = docs.map { case (id, t) => id -> t.split(" ").length }.toMap
    docs.foreach { case (id, _) =>
      val (n, s) = run1(id)
      // a doc scores one position per 5-token window, nothing else
      assert(n == math.max(lens(id) - 4, 0), s"doc $id")
      // stupid backoff is a sub-probability: every level's ratio <= 1
      // (each k-gram occurrence embeds its prefix) discounted by
      // alpha^k <= 1, so ln S <= 0; sentinel docs report exactly 0
      assert(s <= 0.0, s"doc $id score $s")
      if (n == 0) assert(s == 0.0, s"sentinel doc $id")
    }
    val run2 = TextAnalysis.lmScore5gram(df, "doc_id", "text", col("doc_id") % 3 =!= 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(run1 == run2, "nondeterministic scores")
  }

  test("winnow fingerprints: deterministic, shift-tolerant overlap") {
    val t1 = UTF8String.fromString("the quick brown fox jumps over the lazy dog again and again today")
    val t2 = UTF8String.fromString("PREFIX added the quick brown fox jumps over the lazy dog again and again today")
    val f1 = FingerprintKernels.winnow(t1).toLongArray().toSet
    val f1b = FingerprintKernels.winnow(t1).toLongArray().toSet
    val f2 = FingerprintKernels.winnow(t2).toLongArray().toSet
    assert(f1 == f1b)
    val overlap = f1.intersect(f2).size.toDouble / f1.size
    assert(overlap >= 0.7, s"shifted-doc fingerprint overlap = $overlap")
    // short text -> empty fingerprints, no crash
    assert(FingerprintKernels.winnow(UTF8String.fromString("tiny")).numElements() == 0)
  }

  test("doc_fingerprint query returns one row per doc with consistent mins") {
    val fp = TextAnalysis.docFingerprint(spark, sf).collect()
    assert(fp.length == docs.count())
    fp.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getLong(3) <= r.getLong(2)) // min <= first
    }
  }

  test("multimodal decode batches produce deterministic typed metadata") {
    val m = BinaryMeta.multimodalMeta(spark, sf).orderBy("doc_id").collect()
    assert(m.length == docs.count())
    m.foreach { r =>
      val len = r.getInt(1)
      assert(r.getInt(2) == len % 640 + 16)
      assert(r.getInt(3) == (len * 7) % 480 + 16)
      assert(r.getInt(4) == 1)
    }
  }

  test("columnar header decode == batch decode, incl. a GRFT-prefixed raw payload") {
    import spark.implicits._
    val grft = BinaryMeta.header(64, 32, 3, Array.tabulate(20)(_.toByte))
    val crafted = Seq(
      (0L, "plain text payload".getBytes("UTF-8")),
      // raw doc that happens to start with the magic: the int fields
      // hold printable ASCII (>= 0x20202020), so validation must send
      // BOTH paths to the len-math fallback, not garbage dimensions
      (1L, "GRFT is a fine acronym for a query engine".getBytes("UTF-8")),
      (2L, grft),                       // genuine stub container
      (3L, Array[Byte]('G', 'R', 'F')), // shorter than the magic
      (4L, Array.empty[Byte]))
    val mediaDf = crafted.toDF("doc_id", "media")
    val viaExpr = BinaryMeta.decodeMeta(mediaDf).orderBy("doc_id").collect()
    val viaBatch = BinaryMeta.decode(spark, mediaDf).orderBy("doc_id").collect()
    assert(viaExpr.toSeq == viaBatch.toSeq)
    val collision = viaExpr(1)
    assert(collision.getInt(2) == collision.getInt(1) % 640 + 16,
      s"GRFT-prefixed raw payload must fall back to len-math, got $collision")
    assert(viaExpr(2).getInt(2) == 64 && viaExpr(2).getInt(3) == 32 &&
      viaExpr(2).getInt(4) == 3)
    // and on the real corpus, row-for-row equality
    val media = docs.select(col("doc_id"), col("text").cast("binary").as("media"))
    val a = BinaryMeta.decodeMeta(media).orderBy("doc_id").collect()
    val b = BinaryMeta.decode(spark, media).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("multimodal stub embeddings feed the near-dup pipeline end-to-end") {
    import spark.implicits._
    // two identical media payloads + distinct ones; the stub features
    // must route the identical pair through neardupPairs at cosine 1
    val media = ((0 until 30).map(i => (i.toLong, s"payload number $i with content $i")) :+
      (900L, "payload number 3 with content 3"))
      .toDF("doc_id", "media_text")
      .select(col("doc_id"), col("media_text").cast("binary").as("media"))
    val e = BinaryMeta.embedStub(media).select(col("doc_id").as("vec_id"), col("embedding"))
    // determinism: identical payloads -> identical embeddings
    val e3 = e.filter(col("vec_id").isin(3L, 900L)).select("embedding").collect()
    assert(e3(0).getSeq[Float](0) == e3(1).getSeq[Float](0))
    val cents = IvfSearch.fitCentroids(e, 4)
    val top = Dedup.neardupPairs(e, cents, 2, 5)
      .filter(col("cosine") >= 0.9999).select("a", "b").as[(Long, Long)].collect().toSet
    assert(top.contains((3L, 900L)), s"identical-payload pair missing from $top")
  }

  test("simhash hot-bucket guard: degenerate corpus completes without quadratic bucket") {
    import spark.implicits._
    // 1000 identical short docs collapse onto ONE simhash value: every
    // chunk bucket holds all 1000 and would yield ~500k pairs x 8
    // chunks without the guard
    val junk = (0L until 1000L).map(i => (i, "spam spam spam spam spam"))
    val base = (0 until 80).map(i => s"tok$i word$i").mkString(" ")
    val variant = base.replace("tok40", "xqz")
    val docs = (junk :+ (5000L, base) :+ (5001L, variant)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7, maxBucket = 100)
      .collect()
    // hot buckets dropped: no junk-junk pair survives
    assert(!pairs.exists(r => r.getLong(0) < 1000 && r.getLong(1) < 1000),
      s"quadratic junk bucket leaked ${pairs.length} pairs")
    // the distinct near-dup pair (small buckets) is still found
    assert(pairs.exists(r => r.getLong(0) == 5000L && r.getLong(1) == 5001L))
  }

  test("neardup: bucketed path finds a planted near-dup at rank 1 under coarse cells") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // plant a true near-dup of vec 7 (small uniform offset, cosine ~1)
    val planted = e.filter(col("vec_id") === 7)
      .select(lit(90001L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
    val corpus = e.unionByName(planted)
    // coarse cells + narrow probes: a fraction of the probe volume the
    // oracle-parity defaults use — a REAL near-dup must still co-probe
    val cents = IvfSearch.fitCentroids(corpus, 8)
    val top = Dedup.neardupPairs(corpus, cents, 2, 5).orderBy(col("cosine").desc).collect()
    assert(top.head.getLong(0) == 7L && top.head.getLong(1) == 90001L,
      s"planted pair not at rank 1: ${top.head}")
    assert(top.head.getDouble(2) >= 0.99)
  }

  test("neardup plan has no cartesian or nested-loop join") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cents = IvfSearch.fitCentroids(e, Dedup.NeardupCells)
    val probes = Dedup.probeCells(e, cents, Dedup.NeardupProbes)
    val plan = Dedup.neardupPlan(e, probes, 20).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian product in neardup plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in neardup plan")
  }

  test("neardup bucketed top-20 equals the all-pairs oracle") {
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val allPairs = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(graft.functions.VectorFunctions.vec_cosine(
          col("x.embedding"), col("y.embedding")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("a"), col("b")).limit(20).collect()
    val bucketed = Dedup.neardupEmbedding(spark, sf).collect()
    assert(bucketed.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      allPairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("connected components: chains, triangles, isolates, long diameters") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6} (pair), {7} (isolate),
    // {10..14} (chain of diameter 4 — needs several propagation rounds),
    // {20,21,22} (triangle)
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L),
      (12L, 13L), (13L, 14L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    val vertices = (Seq(1L, 2L, 3L, 5L, 6L, 7L) ++ (10L to 14L) ++ (20L to 22L))
      .toDF("id")
    val cc = Dedup.connectedComponents(edges, vertices).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1, 2L -> 1, 3L -> 1, 5L -> 5, 6L -> 5, 7L -> 7,
      10L -> 10, 11L -> 10, 12L -> 10, 13L -> 10, 14L -> 10,
      20L -> 20, 21L -> 20, 22L -> 20))
  }

  test("dedup_clusters: planted triple-variants land in one cluster under the original keeper") {
    val rows = Dedup.dedupClusters(spark, sf).collect()
    val byDoc = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact copies (2*offset) must always cluster with their original,
    // whose cluster keeper is a real doc id <= the original (genuine
    // near-dups among the base docs may merge clusters further)
    (0L until 10L).foreach { d =>
      assert(byDoc(d + 2 * Dedup.PlantOffset)._1 == byDoc(d)._1,
        s"exact copy of $d not in its cluster")
      assert(byDoc(d)._1 <= d, s"keeper of $d's cluster above $d")
      assert(byDoc(d)._2 >= 3L, s"cluster of $d smaller than its planted triple")
    }
    // keeper is always the component minimum: no member below its keeper,
    // and every keeper is a member of its own cluster
    rows.foreach(r => assert(r.getLong(1) <= r.getLong(0)))
    rows.groupBy(_.getLong(1)).foreach { case (keeper, members) =>
      assert(members.exists(_.getLong(0) == keeper), s"keeper $keeper not a member")
      assert(members.forall(_.getLong(2) == members.length),
        s"n_cluster mismatch for keeper $keeper")
    }
  }

  test("dedup_apply keeps exactly the keepers: corpus minus (cluster sizes - clusters)") {
    val decisions = Dedup.dedupClusters(spark, sf).collect()
    val kept = Dedup.dedupApplyQuery(spark, sf).collect().map(_.getLong(0)).toSet
    val keepers = decisions.map(_.getLong(1)).toSet
    assert(kept == keepers, "applied corpus != keeper set")
    // row count = docs - (sum of cluster sizes - number of clusters)
    val nClusters = decisions.map(_.getLong(1)).distinct.length
    assert(kept.size == decisions.length - (decisions.length - nClusters))
    // no kept doc is a non-keeper member
    decisions.filter(r => r.getLong(0) != r.getLong(1))
      .foreach(r => assert(!kept.contains(r.getLong(0)), s"non-keeper ${r.getLong(0)} kept"))
  }

  test("substringStats: hand-computed window counts, internal repeats, sub-W docs") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f g h i j"),                  // 3 windows; shares win#1 with doc 1
      (1L, "a b c d e f g h x y"),                  // 3 windows; shares win#1 with doc 0
      (2L, "short doc"),                            // < 8 tokens: zero windows, NULL frac
      (3L, "p q r s t u v w p q r s t u v w")       // 16 toks: 9 windows, 2 identical
    ).toDF("doc_id", "text")
    val res = Dedup.substringStats(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(res(0L).getLong(1) == 3 && res(0L).getLong(2) == 1)
    assert(res(0L).getDouble(3) == 0.3333)
    assert(res(1L).getLong(1) == 3 && res(1L).getLong(2) == 1)
    assert(res(2L).getLong(1) == 0 && res(2L).getLong(2) == 0 && res(2L).isNullAt(3))
    // doc 3: "p q r s t u v w" occurs at positions 1 and 9 -> both count as dup
    assert(res(3L).getLong(1) == 9 && res(3L).getLong(2) == 2)
  }

  test("substringApply: first occurrence kept, overlaps coalesce, sub-W docs untouched") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f g h i j"),                  // owns the shared window
      (1L, "a b c d e f g h x y"),                  // loses tokens 1..8
      (2L, "short doc"),                            // < 8 tokens: untouched
      (3L, "p q r s t u v w p q r s t u v w"),      // internal repeat: 2nd run dropped
      (4L, "m n o p q r s t u"),                    // owns two overlapping windows
      (5L, "m n o p q r s t u z")                   // overlapping drops coalesce: 9 not 16
    ).toDF("doc_id", "text")
    val res = Dedup.substringApply(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(0L) == ((10, 0L, "a b c d e f g h i j")), res(0L).toString)
    assert(res(1L) == ((10, 8L, "x y")), res(1L).toString)
    assert(res(2L) == ((2, 0L, "short doc")), res(2L).toString)
    // "p q r s t u v w" at positions 1 and 9: corpus-wide first kept
    assert(res(3L) == ((16, 8L, "p q r s t u v w")), res(3L).toString)
    assert(res(4L) == ((9, 0L, "m n o p q r s t u")), res(4L).toString)
    // doc5's windows at pos 0 and 1 both duplicate doc4's; their spans
    // overlap on tokens 2..8 — a token drops once, so 9 drop, not 16
    assert(res(5L) == ((10, 9L, "z")), res(5L).toString)
  }

  test("dedup_substring: every planted near-dup pair shares unmutated runs") {
    val res = Dedup.dedupSubstring(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // mutation hits every 60th token; docs are 10-99 tokens, so long
    // unmutated runs survive in both the original and its planted copy
    (0L until 25L).foreach { id =>
      assert(res(id) >= 1, s"original $id has no duplicated window")
      assert(res(id + Dedup.PlantOffset) >= 1, s"copy of $id has no duplicated window")
    }
    // corpus rows all present (500 docs + 25 plants at sf0.001... scaled by dir)
    assert(res.size == res.keys.toSet.size)
  }

  test("embed_cluster: partition of the corpus, dispersion bounds, assignment parity") {
    val emb = Tables.embeddings(spark, sf)
    val res = IvfSearch.embedCluster(spark, sf).collect()
    // the report is a partition of the corpus: counts sum to N, cells distinct
    assert(res.map(_.getLong(1)).sum == emb.count())
    assert(res.map(_.getInt(0)).distinct.length == res.length)
    res.foreach { r =>
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= r.getDouble(3) + 1e-9,
        s"cell ${r.getInt(0)}: mean ${r.getDouble(2)} > max ${r.getDouble(3)}")
    }
    // per-cell counts match an independent driver-side argmin by
    // (VectorKernels.l2, cell) over the collected corpus
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val cents = IvfSearch.fitCentroids(emb, IvfSearch.scaledCells(emb.count()), Some(s"ivf:$sf"))
      .map(c => UnsafeArrayData.fromPrimitiveArray(c))
    val byDistThenCell = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val direct = emb.select(col("embedding").cast("array<float>")).collect()
      .map { r =>
        val v = UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray)
        cents.indices.minBy(c => (graft.functions.VectorKernels.l2(v, cents(c)), c))(byDistThenCell)
      }
      .groupBy(identity).map { case (cell, vs) => cell -> vs.length.toLong }
    res.foreach(r => assert(direct(r.getInt(0)) == r.getLong(1)))
  }

  test("tfidf_topterms: hand-computed smoothed tf-idf, floored-rank total order") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "cherry cherry cherry dog")
    ).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 2, dog 1
    // idf(df=1) = ln(2)+1 = 1.69314..., idf(df=2) = ln(4/3)+1 = 1.28768...
    val res = TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
    assert(res((0L, 1)) == ("apple", 3.3862))   // 2 * 1.693147 floored
    assert(res((0L, 2)) == ("banana", 1.2876))
    assert(res((2L, 1)) == ("cherry", 3.8630))  // 3 * 1.287682 floored
    assert(res((2L, 2)) == ("dog", 1.6931))
    // doc 1: equal-scored terms tie-break on the term string
    assert(res((1L, 1))._1 == "banana" && res((1L, 2))._1 == "cherry")
    assert(res((1L, 1))._2 == res((1L, 2))._2)
  }

  test("ivf cell sizing scales as sqrt(N) within clamps") {
    assert(IvfSearch.scaledCells(100) == 4)          // floor: n/32
    assert(IvfSearch.scaledCells(500) == 15)         // n/32 binds below sqrt
    assert(IvfSearch.scaledCells(1000000) == 1000)   // sqrt regime
    assert(IvfSearch.scaledCells(1000000000L) == 4096) // cap
    assert(IvfSearch.scaledCells(1) == 4)
  }

  test("multimodal resize: decode of the resized payload reports the target dims") {
    val media = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
    val resized = BinaryMeta.resize(spark, media, 224, 128)
    val meta = BinaryMeta.decode(spark, resized).collect()
    assert(meta.length == 50)
    meta.foreach { r =>
      assert(r.getInt(2) == 224 && r.getInt(3) == 128 && r.getInt(4) == 1, r.toString)
    }
    // the body really shrank to every 4th byte (+16-byte header)
    val lens = resized.select(col("doc_id"), length(col("media")).as("rl"))
      .join(media.select(col("doc_id"), length(col("media")).as("ol")), "doc_id")
      .collect()
    lens.foreach(r => assert(r.getInt(1) == 16 + r.getInt(2) / 4, r.toString))
  }

  test("multimodal frame sampling: every-N indexes, slice lengths rebuild the body") {
    import spark.implicits._
    val media = Seq((1L, Array.fill[Byte](100)(7)), (2L, Array.fill[Byte](33)(1)))
      .toDF("doc_id", "media").as[BinaryMeta.MediaRow]
      .mapPartitions(_.grouped(16).flatMap(BinaryMeta.asVideoBatch)).toDF()
    // everyN = 1: all frames, lengths sum to the body
    val all = BinaryMeta.frameSample(spark, media, 1)
    val sums = all.groupBy("doc_id").agg(
      sum("frame_len").as("s"), count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sums(1L) == ((100L, (100 % 7 + 1).toLong)), sums.toString) // 3 frames
    assert(sums(2L) == ((33L, (33 % 7 + 1).toLong)), sums.toString)   // 6 frames
    // everyN = 2: exactly the even indexes survive
    val sampled = BinaryMeta.frameSample(spark, media, 2)
    assert(sampled.filter(col("frame_idx") % 2 =!= 0).count() == 0)
    assert(sampled.filter(col("doc_id") === 2L).count() ==
      (0 until 33 % 7 + 1 by 2).size)
  }

  test("dedup_lines strips threshold-crossing lines, keeps order, counts docs not occurrences") {
    import spark.implicits._
    // "footer" in 3 docs (>= minDocs 2 after dedupe); "rare" repeated
    // TWICE in ONE doc (2 occurrences, 1 doc -> kept under distinct-doc
    // counting); unique content always survives in original order.
    val docs = Seq(
      (1L, "alpha one\nfooter\nalpha two"),
      (2L, "beta\nfooter"),
      (3L, "gamma\nfooter\nrare\nmiddle\nrare"),
      (4L, "delta only")).toDF("doc_id", "text")
    val res = Dedup.dedupLines(docs, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(res(1L) == ((3, 2, 1, "alpha one\nalpha two")))
    assert(res(2L) == ((2, 1, 1, "beta")))
    assert(res(3L) == ((5, 4, 1, "gamma\nrare\nmiddle\nrare")))
    assert(res(4L) == ((1, 1, 0, "delta only")))
  }

  test("dedup_lines corpus query: planted footers stripped, sub-threshold shared lines kept") {
    val res = Dedup.dedupLinesQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(3), r.getString(4)))).toMap
    assert(res.size == 500)
    res.foreach { case (id, (nLines, nRemoved, clean)) =>
      // both always-boilerplate footers are stripped, nothing else
      val expectRemoved = (if (id % 3 == 0) 1 else 0) + (if (id % 4 == 0) 1 else 0)
      assert(nRemoved == expectRemoved, s"doc $id")
      assert(!clean.contains("subscribe to our newsletter"), s"doc $id")
      assert(!clean.contains("all rights reserved"), s"doc $id")
      // 5-doc shared line and the 6-doc doubled line stay (below 8 docs)
      if (id % 100 == 37) assert(clean.endsWith("\nref code alpha"), s"doc $id")
      if (id % 97 == 3)
        assert(clean.endsWith("\nnote this page is a draft\nnote this page is a draft"), s"doc $id")
      // the unique body is always the surviving first line
      assert(clean.split("\n", -1).length == nLines - nRemoved, s"doc $id")
    }
  }

  test("multimodal_neardup: planted identical media surface as cosine-1.0 pairs") {
    import org.apache.spark.sql.functions._
    val out = BinaryMeta.multimodalNeardup(spark, sf).collect()
    assert(out.nonEmpty)
    // the planted recrawl classes share bytes, so the top pairs are
    // exact-duplicate media at cosine 1.0 — and every 1.0 pair must
    // be within one media class (the same plant expression the entry
    // uses, so spec and entry cannot drift)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), BinaryMeta.mediaPlant.cast("string").as("cls"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ones = out.filter(_.getDouble(2) == 1.0)
    assert(ones.nonEmpty, "no exact-media pair surfaced")
    ones.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(docs(a) == docs(b), s"pair ($a,$b) crosses media classes")
      assert(a < b, "pair orientation must be a < b")
    }
  }

  test("multimodal_neardup_delta == the full τ-pair run at the same frozen fit restricted to delta-touching pairs; legs faithful") {
    import graft.dedup.SemDedup
    val media = Tables.documents(spark, sf)
      .select(col("doc_id"), BinaryMeta.mediaPlant.as("media"))
    val e = BinaryMeta.embedStubCentered(media)
      .select(col("doc_id").as("vec_id"), col("embedding")).cache()
    val isDelta = col("vec_id") % graft.Carves.DeltaMod === 0
    val base = e.filter(!isDelta)
    val cells = IvfSearch.scaledCells(base.count())
    // the SAME memo key as the entry: the identical frozen fit
    val cents = IvfSearch.fitCentroids(base, cells, Some(s"mmdelta:$cells:$sf"))
    val maxCell = graft.config.GraftConfig.active.semdedup.maxCell
    // the FULL τ-pair run under the frozen fit: every vector on the
    // probe side of the one-join kernel (empty base side)
    val allAssign = SemDedup.assignWithCentSim(e, cents)
      .select(col("vec_id"), col("cell")).cache()
    val full = SemDedup.semanticPairsDelta(allAssign.limit(0), allAssign, e,
        BinaryMeta.MmDeltaTau, maxCell).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = full.filter(p =>
      p._1 % graft.Carves.DeltaMod == 0 || p._2 % graft.Carves.DeltaMod == 0)
    val entry = BinaryMeta.multimodalNeardupDelta(spark, sf).collect()
    val entryPairs = entry.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(entryPairs == restricted,
      s"delta run must equal the full run's delta-touching pairs: " +
        s"${entryPairs.size} vs ${restricted.size}")
    assert(restricted.size < full.size,
      "the carve must leave base-only pairs behind or the property is vacuous")
    // legs faithful to the carve
    entry.foreach { r =>
      val bothDelta = r.getLong(0) % graft.Carves.DeltaMod == 0 &&
        r.getLong(1) % graft.Carves.DeltaMod == 0
      assert(r.getString(3) == (if (bothDelta) "delta_delta" else "delta_base"),
        s"leg label unfaithful on (${r.getLong(0)}, ${r.getLong(1)})")
    }
    assert(entry.exists(_.getString(3) == "delta_base"),
      "the recrawl must re-see at least one resident's media")
    assert(entry.exists(_.getString(3) == "delta_delta"),
      "the recrawl must carry at least one within-crawl duplicate class")
    allAssign.unpersist(); e.unpersist()
    ()
  }

  test("multimodal_neardup_delta_apply: base wins, lowest delta id wins, verdicts reconcile with the pair report") {
    val pairs = BinaryMeta.multimodalNeardupDelta(spark, sf).collect()
    val survivors = BinaryMeta.multimodalNeardupDeltaApply(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val deltaIds = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(_ % graft.Carves.DeltaMod == 0).toSet
    assert(survivors.subsetOf(deltaIds), "apply must emit delta rows only")
    val expectedDrops = pairs.map { r =>
      if (r.getString(3) == "delta_delta") r.getLong(1)
      else if (r.getLong(0) % graft.Carves.DeltaMod == 0) r.getLong(0)
      else r.getLong(1)
    }.toSet
    assert(survivors == deltaIds -- expectedDrops,
      "the drop policy must reconcile with the pair report")
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(!(survivors.contains(a) && survivors.contains(b)),
        s"pair ($a,$b) survived intact")
    }
  }

  test("multimodal_neardup_delta_compact == fresh frozen-model assignment of base ∪ admitted; fresh == apply survivors") {
    import graft.dedup.SemDedup
    val media = Tables.documents(spark, sf)
      .select(col("doc_id"), BinaryMeta.mediaPlant.as("media"))
    val e = BinaryMeta.embedStubCentered(media)
      .select(col("doc_id").as("vec_id"), col("embedding")).cache()
    val isDelta = col("vec_id") % graft.Carves.DeltaMod === 0
    val base = e.filter(!isDelta)
    val cells = IvfSearch.scaledCells(base.count())
    val cents = IvfSearch.fitCentroids(base, cells, Some(s"mmdelta:$cells:$sf"))
    val compact = BinaryMeta.multimodalNeardupDeltaCompact(spark, sf).collect()
    val survivors = BinaryMeta.multimodalNeardupDeltaApply(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(compact.filter(_.getString(2) == "fresh").map(_.getLong(0)).toSet
      == survivors, "fresh rows must be exactly the apply survivors")
    assert(compact.filter(_.getString(2) == "carried").map(_.getLong(0)).toSet
      == base.select("vec_id").collect().map(_.getLong(0)).toSet,
      "carried rows must be exactly the resident base")
    // frozen centroids make carrying exact: carried + fresh equals ONE
    // fresh frozen-model assignment of base ∪ admitted
    val merged = base.unionByName(
      e.filter(isDelta).filter(col("vec_id").isin(survivors.toSeq: _*)))
    val expect = SemDedup.assignWithCentSim(merged, cents)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(compact.map(r => (r.getLong(0), r.getInt(1))).toSet == expect,
      "compacted state must equal a fresh frozen-model assignment of the merged corpus")
    e.unpersist()
    ()
  }

  test("dedup_minhash_delta == full run restricted to delta-touching pairs, across splits; both legs occur") {
    val corpus = Dedup.withPlantedNearDups(Tables.documents(spark, sf), 25, mutate = true)
      .cache()
    val full = Dedup.minhashPairs(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.nonEmpty)
    // three different base/delta carves of the same corpus — the delta
    // run must reproduce exactly the full run's delta-touching pairs
    // (same bucket statistics, same verify) under every split
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("recrawl+mod11", col("doc_id") >= Dedup.PlantOffset || col("doc_id") % 11 === 0),
      ("mod3", col("doc_id") % 3 === 1),
      ("low-ids", col("doc_id") < 12 ||
        (col("doc_id") >= Dedup.PlantOffset && col("doc_id") < Dedup.PlantOffset + 12)))
    for ((name, pred) <- preds) {
      val base = corpus.filter(!pred)
      val delta = corpus.filter(pred)
      val deltaIdSet = delta.select("doc_id").collect().map(_.getLong(0)).toSet
      val baseSigs = Dedup.minhashSignatures(base, "doc_id", "text",
        numPerms = 64, shingleWidth = 3)
      val got = Dedup.minhashPairsDelta(baseSigs, delta, corpus, "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      val want = full.filter(p => deltaIdSet(p._1) || deltaIdSet(p._2))
        .map(p => (p._1, p._2, p._3,
          if (deltaIdSet(p._1) && deltaIdSet(p._2)) "delta_delta" else "delta_base"))
        .toSet
      assert(got == want, s"split $name: delta run diverged — " +
        s"only-full=${(want -- got).take(5)} only-delta=${(got -- want).take(5)}")
      assert(got.nonEmpty, s"split $name produced no pairs")
    }
    // the entry's own split exercises both legs of the report
    val entry = Dedup.dedupMinhashDelta(spark, sf).collect()
    assert(entry.exists(_.getString(3) == "delta_base"), "no delta_base pair")
    assert(entry.exists(_.getString(3) == "delta_delta"), "no delta_delta pair")
    corpus.unpersist()
  }

  test("dedup_minhash_delta_apply: base wins, lowest delta id wins, verdicts reconcile with the pair report") {
    val corpus = Dedup.withPlantedNearDups(Tables.documents(spark, sf), 25, mutate = true)
    val deltaIds = corpus.filter(col("doc_id") >= Dedup.PlantOffset || col("doc_id") % 11 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.dedupMinhashDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val kept = Dedup.dedupMinhashDeltaApply(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // output is delta-sized: base docs are never re-filtered
    assert(kept.subsetOf(deltaIds), "apply must only admit/drop delta docs")
    // replay the drop rule from the pair report
    val drops = pairs.map { case (a, b, leg) =>
      if (leg == "delta_delta") b else if (deltaIds(a)) a else b
    }.toSet
    assert(kept == deltaIds -- drops, "kept set must equal delta minus justified drops")
    assert(drops.nonEmpty && kept.nonEmpty, "split must exercise both verdicts")
    // base-wins: the delta member of every delta_base pair is dropped
    pairs.foreach { case (a, b, leg) =>
      if (leg == "delta_base") {
        val d = if (deltaIds(a)) a else b
        assert(!kept(d), s"delta doc $d survives despite matching base")
      }
    }
  }

  test("dedup_minhash_compact == fresh full signing of the merged corpus, bit-for-bit") {
    val corpus = Dedup.withPlantedNearDups(Tables.documents(spark, sf), 25, mutate = true)
    val kept = Dedup.dedupMinhashDeltaApply(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val compact = Dedup.dedupMinhashCompact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val compactIds = compact.keySet.map(_._1)
    val deltaIds = corpus.filter(col("doc_id") >= Dedup.PlantOffset || col("doc_id") % 11 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val baseIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet -- deltaIds
    // compacted table = base ∪ admitted delta, nothing else
    assert(compactIds == baseIds ++ kept)
    assert(compact.size == compactIds.size * 64, "64 signature words per doc")
    // every word equals the fresh signing of the merged corpus — the
    // IndexMaintenance compact invariant on the dedup side
    val fresh = Dedup.minhashSignatures(corpus, "doc_id", "text",
        numPerms = 64, shingleWidth = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    compact.foreach { case ((id, slot), v) =>
      assert(v == fresh(id)(slot), s"doc $id word $slot diverges from fresh signing")
    }
  }

  test("multimodal_neardup oracle invariant: exact top-N saturated by planted dups, bucketed == exact, at every gated SF") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.vec_cosine
    // The entry's Spark side is an approximate IVF co-probe join while
    // its DuckDB oracle is the exact all-pairs top-N; parity holds
    // because the top-N is saturated by cosine-1.0 exact-duplicate
    // pairs (identical vectors always co-probe — same cell, any
    // centroid fit). A background pair at the boundary in a different
    // cell would break that, so the invariant is asserted explicitly
    // at each SF the oracle gates.
    val topN = graft.config.GraftConfig.active.neardup.topN
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val media = Tables.documents(spark, dir)
        .select(col("doc_id"), BinaryMeta.mediaPlant.as("media"))
      val e = BinaryMeta.embedStubCentered(media)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val exact = e.select(col("vec_id").as("a"), col("embedding").as("va"))
        .join(e.select(col("vec_id").as("b"), col("embedding").as("vb")),
          col("a") < col("b"))
        .select(col("a"), col("b"),
          round(vec_cosine(col("va"), col("vb")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("a"), col("b"))
        .limit(topN).collect()
      assert(exact.length == topN, s"$dir: fewer than $topN pairs")
      assert(exact.last.getDouble(2) == 1.0,
        s"$dir: Nth-ranked exact pair is not a planted duplicate " +
          s"(cosine=${exact.last.getDouble(2)}) — the oracle parity invariant broke")
      val got = BinaryMeta.multimodalNeardup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = exact.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == want, s"$dir: bucketed top-N diverged from the exact top-N")
    }
  }
}
