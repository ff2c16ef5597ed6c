package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.LshCodesExpr
import graft.query.AnnQuery

/**
 * [[GraftSystem]] serves from a resident index it owns: across
 * insert -> query -> compact cycles every answer equals the library
 * plans over freshly built, non-resident indexes of the same state,
 * superseded indexes are released, and a query codes only its own
 * batch — never the corpus.
 */
class ResidentIndexSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def corpus = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  /** A client's query batch: driver rows, not a scan of the corpus files. */
  private def queryBatch(n: Int): DataFrame = {
    val rows = corpus.filter(col("vec_id") < n).collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), corpus.schema)
  }

  private def triples(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "vec_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def fresh(data: DataFrame, model: graft.lsh.LshModel): LshIndex.Built =
    LshIndex.build(LshIndex.codes(data, "vec_id", "embedding", model), 64)

  /** Plan nodes that evaluate the LSH coding expression. */
  private def codingNodes(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[LshCodesExpr])) => p
    }

  /** Every plan a `GraftSystem.query` runs: the ones it runs eagerly
    * (their SQL execution starts inside `GraftSystem.query`) and the
    * ones its result runs when collected. */
  private object queryPlans {
    private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    // whether the latest SQL execution started inside GraftSystem.query
    // (its call site); both listeners sit on the one shared listener
    // queue, so an execution's start is seen before its QueryExecution
    @volatile private var inQuery = false
    @volatile private var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          inQuery = s.details.contains("graft.GraftSystem.query")
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (collecting || inQuery) qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def of(served: DataFrame): Seq[SparkPlan] = {
      collecting = true
      try served.collect() finally {
        SpecBus.drain(spark.sparkContext)
        collecting = false
      }
      val plans = qes.asScala.map(_.executedPlan).toSeq
      qes.clear()
      plans
    }
  }
  queryPlans

  private def assertCodesOnlyTheQueryBatch(served: DataFrame): Unit = {
    val plans = queryPlans.of(served)
    val coding = plans.flatMap(codingNodes)
    assert(coding.nonEmpty, s"the query batch must be coded in a plan the query runs:\n${plans.mkString("\n")}")
    coding.foreach { node =>
      val scans = node.collectLeaves().filter {
        case _: FileSourceScanExec | _: InMemoryTableScanExec => true
        case _ => false
      }
      assert(scans.isEmpty, s"LSH coding over a corpus or index scan:\n$node")
    }
  }

  test("insert -> query -> compact cycles: exact answers, released indexes, query-only coding") {
    val sys = GraftSystem.setup(spark, corpus)
    val model = sys.model
    val q = queryBatch(5)
    assertCodesOnlyTheQueryBatch(sys.query(q, 10))

    var mainData: DataFrame = corpus
    var afterFirst = -1
    for (c <- 1 to 4) {
      // a fresh batch: every 40th vector, nudged, under new ids
      val batch = corpus.filter(col("vec_id") % 40 === c)
        .select((col("vec_id") + c * 1000000L).as("vec_id"),
          transform(col("embedding"), x => (x * 1.01).cast("float")).as("embedding"))
      sys.insert(batch)

      val staged = sys.query(q, 10)
      assertCodesOnlyTheQueryBatch(staged)
      val expectStaged = IndexMaintenance.lshTopKWithDelta(spark, mainData, batch, q, 10,
        model, fresh(mainData, model), fresh(batch, model))
      assert(triples(staged) == triples(expectStaged), s"cycle $c: staged query diverged")

      sys.compactNow()
      mainData = mainData.unionByName(batch)
      val compacted = sys.query(q, 10)
      val expectMain = AnnQuery.lshTopK(spark, mainData, q, 10, model, fresh(mainData, model))
      assert(triples(compacted) == triples(expectMain), s"cycle $c: compacted query diverged")

      val held = spark.sparkContext.getPersistentRDDs.size
      if (c == 1) afterFirst = held
      else assert(held == afterFirst,
        s"cycle $c holds $held persistent RDDs, cycle 1 held $afterFirst: a superseded index leaked")
    }
  }

  test("a restored system finalizes through the same resident path") {
    val sys = GraftSystem.setup(spark, corpus)
    val q = queryBatch(5)
    val before = spark.sparkContext.getPersistentRDDs.size
    val restored = sys.restore()
    // code table + membership + summaries, filled before the first query
    assert(spark.sparkContext.getPersistentRDDs.size == before + 3)
    val served = restored.query(q, 10)
    assertCodesOnlyTheQueryBatch(served)
    assert(triples(served) == triples(sys.query(q, 10)))
  }
}
