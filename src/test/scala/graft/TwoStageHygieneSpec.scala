package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The compressed tiers answer every query through one kernel,
  * `graft.query.TwoStage`: a per-query rank window, a `row_number()`
  * cut or a collected query-side relation in a tier file is a copy of
  * the shortlist → refine chain that the kernel already states. */
class TwoStageHygieneSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/query")
  private val tiers = Seq("SqSearch", "BqSearch", "PqSearch", "MrlSearch")
  private val patterns = Seq("""Window.partitionBy("query_id")""", "row_number()", "createDataFrame(")

  private def lines(name: String): Seq[String] = {
    val p = dir.resolve(s"$name.scala")
    assert(Files.isRegularFile(p), s"run from the repo root (no $p)")
    Files.readAllLines(p).asScala.toSeq
  }

  test("no shortlist window, row_number cut or collected probe side in the SQ8/BQ/PQ/MRL tier files") {
    val offenders = for {
      tier <- tiers
      (line, i) <- lines(tier).zipWithIndex
      if patterns.exists(line.contains)
    } yield s"$tier.scala:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the kernel holds the shortlist and refine windows once each") {
    assert(lines("TwoStage").count(_.contains("row_number()")) == 2)
  }
}
