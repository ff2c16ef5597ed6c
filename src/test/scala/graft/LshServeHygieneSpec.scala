package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The LSH hard cap and refinement bound live once, in the serving
  * kernel (`AnnQuery.capHits` / `boundHits`): a per-query window in
  * `AnnQuery` is a second copy of that cut. The distributed probe's
  * windows partition by (qid, t, d) and are not matched. */
class LshServeHygieneSpec extends AnyFunSuite {

  test("AnnQuery holds no per-query cap or bound window") {
    val p = Paths.get("src/main/scala/graft/query/AnnQuery.scala")
    assert(Files.isRegularFile(p), s"run from the repo root (no $p)")
    val offenders = Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if line.contains("""partitionBy("qid")""") => s"AnnQuery.scala:${i + 1}: ${line.trim}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
