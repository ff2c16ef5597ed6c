package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * What a [[GraftSystem]] query runs: a job that codes the batch, a
 * pass over the resident by-vector table with one shuffle by query,
 * and — on the first query after an insert — the job that collects the
 * staged rows. No plan joins, scans or caches the serving view, and
 * [[GraftSystem.release]] gives back everything the facade held.
 */
class QueryPostureSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val corpusPath = s"$sf/embeddings.parquet"
  private def corpus = spark.read.parquet(corpusPath).select(col("vec_id"), col("embedding"))

  /** Driver rows, not a scan of the corpus files. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 1), df.schema)

  private object trace {
    private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    private val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile private var on = false
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = if (on) qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
    })

    /** Run `f` (a query and its collect); the plans it ran, in order,
      * and its job count. */
    def apply(f: => Unit): (Seq[SparkPlan], Int) = {
      SpecBus.drain(spark.sparkContext)
      qes.clear(); jobs.set(0); on = true
      try f finally { SpecBus.drain(spark.sparkContext); on = false }
      (qes.asScala.map(_.executedPlan).toSeq, jobs.get())
    }
  }

  private def assertPosture(plans: Seq[SparkPlan]): Unit = {
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(collectWithSubqueries(p) { case j: BaseJoinExec => j }.isEmpty, s"a query joins:\n$p")
      assert(collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }.isEmpty,
        s"a query reads a cached relation:\n$p")
      val corpusScans = collectWithSubqueries(p) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.endsWith("embeddings.parquet")) => s
      }
      assert(corpusScans.isEmpty, s"a query scans the serving view:\n$p")
    }
    val kernel = plans.last
    val exchanges = collectWithSubqueries(kernel) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"the kernel plan must shuffle once, by query:\n$kernel")
  }

  test("a query with a staged delta: no serving-view join, one shuffle, bounded jobs") {
    val sys = GraftSystem.setup(spark, corpus)
    val q = local(corpus.filter(col("vec_id") % 50 === 7))
    val batch = local(corpus.filter(col("vec_id") % 30 === 1)
      .select((col("vec_id") + 500000L).as("vec_id"),
        transform(col("embedding"), x => (x * 1.02).cast("float")).as("embedding")))
    try {
      sys.query(q, 10).collect() // the first query after setup

      val (steady, steadyJobs) = trace(sys.query(q, 10).collect())
      assertPosture(steady)
      assert(steadyJobs <= 3, s"a steady-state query ran $steadyJobs jobs")

      val (_, insertJobs) = trace(sys.insert(batch))
      assert(insertJobs == 0, s"insert ran $insertJobs jobs")

      var served: Array[org.apache.spark.sql.Row] = null
      val (first, firstJobs) = trace { served = sys.query(q, 10).collect() }
      assertPosture(first)
      assert(firstJobs <= 4, s"the first query after an insert ran $firstJobs jobs")

      val (again, againJobs) = trace(sys.query(q, 10).collect())
      assertPosture(again)
      assert(againJobs <= 3, s"a steady-state query with a delta ran $againJobs jobs")
      assert(served.length == 10 * q.count())
    } finally sys.release()
  }

  test("release returns the session to its pre-setup footprint") {
    val sc = spark.sparkContext
    def held: (Int, Long) = (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    val before = held
    val sys = GraftSystem.setup(spark, corpus)
    val q = local(corpus.filter(col("vec_id") % 50 === 7))
    sys.query(q, 10).collect()
    sys.insert(local(corpus.filter(col("vec_id") % 30 === 1)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))))
    sys.query(q, 10).collect()
    assert(held._1 > before._1 && held._2 > before._2, s"nothing resident: $held vs $before")
    sys.release()
    assert(held == before, s"after release $held, before setup $before")
  }
}
