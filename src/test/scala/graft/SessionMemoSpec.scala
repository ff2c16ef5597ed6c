package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.util.SessionMemo

class SessionMemoSpec extends SparkSpecBase {

  test("eight concurrent callers of one key see exactly one evaluation") {
    val memo = new SessionMemo[String, Int]
    val evals = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val callers = (1 to 8).map { _ =>
      Future {
        start.await()
        memo(spark, "k") { Thread.sleep(200); evals.incrementAndGet() }
      }
    }
    start.countDown()
    val got = Await.result(Future.sequence(callers), 30.seconds)
    assert(evals.get == 1)
    assert(got.forall(_ == 1))
  }

  test("a compute that memoizes a second key through a Future and awaits it completes") {
    val memo = new SessionMemo[String, Int]
    val other = new SessionMemo[String, Int]
    val outer = Future {
      memo(spark, "outer") {
        val inner = Future(memo(spark, "inner")(1) + other(spark, "inner")(2))
        Await.result(inner, 20.seconds) + 10
      }
    }
    assert(Await.result(outer, 30.seconds) == 13)
    assert(memo(spark, "inner")(-1) == 1, "the inner key was memoized by the nested call")
  }

  test("a throwing compute leaves no entry, so the next call recomputes") {
    val memo = new SessionMemo[String, Int]
    val evals = new AtomicInteger()
    intercept[IllegalStateException] {
      memo(spark, "k") { evals.incrementAndGet(); throw new IllegalStateException("fit failed") }
    }
    assert(memo(spark, "k") { evals.incrementAndGet(); 7 } == 7)
    assert(evals.get == 2)
    assert(memo(spark, "k")(-1) == 7)
  }

  test("release drops the matching entries and returns their values") {
    val memo = new SessionMemo[String, String]
    memo(spark, "a")("va")
    memo(spark, "b")("vb")
    assert(memo.release(spark, _ == "a") == Seq("va"))
    assert(memo.release(spark, _ == "a").isEmpty)
    assert(memo(spark, "a")("va2") == "va2", "a released key recomputes")
    assert(memo(spark, "b")("unused") == "vb", "other keys stay")
  }

  test("spark.newSession() gets its own entry") {
    val memo = new SessionMemo[String, String]
    val other = spark.newSession()
    assert(memo(spark, "k")("first") == "first")
    assert(memo(other, "k")("second") == "second")
    assert(memo(spark, "k")("unused") == "first")
    assert(memo(other, "k")("unused") == "second")
  }
}
