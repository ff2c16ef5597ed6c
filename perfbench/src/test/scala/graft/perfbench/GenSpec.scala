package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.Curate

/** Self-check of the benchmark's inputs and of its declared metrics. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val n = 500

  test("the same seed gives byte-identical inputs; another seed does not") {
    def vecs(seed: Long) = new Gen.Mixture(seed).points(Gen.Streams.Base, 2000)._2.map(_.toSeq).toSeq
    def docs(seed: Long) = {
      val s = new Gen.Corpus(seed).shard(3, n)
      (s.ids.toSeq, s.langs.toSeq, s.texts.toSeq, s.nearDups, s.exactDups, s.leaks, s.templated)
    }
    assert(vecs(7) == vecs(7))
    assert(docs(7) == docs(7))
    assert(new Gen.Corpus(7).bench == new Gen.Corpus(7).bench)
    assert(vecs(7) != vecs(8))
    assert(docs(7)._3 != docs(8)._3)
  }

  test("cluster sizes are skewed: the largest cluster holds >= 10x the median share") {
    val (cl, _) = new Gen.Mixture(11).points(Gen.Streams.Base, 20000)
    val sizes = cl.groupBy(identity).values.map(_.length.toDouble).toSeq.sorted
    assert(sizes.last / sizes(sizes.length / 2) >= 10.0, sizes)
    assert(sizes.last / cl.length > 0.1)
  }

  test("planted near-duplicates: 5% of a shard, each exactly Dedup.mutatedText of its original") {
    val s = new Gen.Corpus(5).shard(1, n)
    assert(s.size == n)
    assert(s.ids.distinct.length == n)
    assert(s.nearDups.size == n * 5 / 100)
    assert(s.exactDups.size == n / 100)
    assert(s.leaks.nonEmpty)
    val text = s.ids.zip(s.texts).toMap
    s.exactDups.foreach { case (a, b) => assert(a < b && text(a) == text(b)) }
    import spark.implicits._
    val originals = s.nearDups.map { case (a, b) => (a, b, text(a)) }.toDF("a", "b", "text")
    val viaLibrary = originals.select(col("b"), Dedup.mutatedText(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    s.nearDups.foreach { case (a, b) =>
      assert(a < b)
      assert(text(b) == viaLibrary(b), s"copy $b")
    }
  }

  test("rule-stage keep rate is between 60% and 95%; planted leaks are never kept") {
    val s = new Gen.Corpus(3).shard(2, n)
    import spark.implicits._
    val docs = s.ids.toSeq.zip(s.texts).toDF("doc_id", "text")
    val bench = new Gen.Corpus(3).bench.toDF("doc_id", "text")
    val verdicts = Curate.curate(docs, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    val ruleKeep = verdicts.values.count(v => v == "keep" || v == "lm_tail").toDouble / n
    assert(ruleKeep >= 0.60 && ruleKeep <= 0.95, ruleKeep)
    s.leaks.foreach(i => assert(verdicts(i) != "keep", s"leak $i"))
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    val root = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    val e2e = root.get("end_to_end").elements().asScala.map(_.get("name").asText()).toSeq
    assert(e2e == Main.EndToEnd)
    val layer = root.get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(layer == Main.PerLayer)
    root.get("workloads").elements().asScala.foreach(w =>
      assert(Main.Workloads.contains(w.get("name").asText())))
  }
}
