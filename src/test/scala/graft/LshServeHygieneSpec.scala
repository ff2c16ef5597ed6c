package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The LSH hard cap and refinement bound live once, in the serving
  * kernel (`AnnQuery.capHits` / `boundHits`): a per-query window in
  * `AnnQuery` is a second copy of that cut. The distributed probe's
  * windows partition by (qid, t, d) and are not matched. Likewise the
  * IVF family's nearest-cell rule lives once, in `IvfSearch.route`, and
  * its capped exact tail once, in `IvfSearch.cappedTopK`. */
class LshServeHygieneSpec extends AnyFunSuite {

  test("AnnQuery holds no per-query cap or bound window") {
    val p = Paths.get("src/main/scala/graft/query/AnnQuery.scala")
    assert(Files.isRegularFile(p), s"run from the repo root (no $p)")
    val offenders = Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if line.contains("""partitionBy("qid")""") => s"AnnQuery.scala:${i + 1}: ${line.trim}"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("IVF routing and the capped exact tail live once, in IvfSearch") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def lines(p: java.nio.file.Path) = Files.readAllLines(p).asScala.toSeq
    def count(p: java.nio.file.Path, s: String) = lines(p).count(_.contains(s))
    val ivf = root.resolve("graft/query/IvfSearch.scala")
    val tier = root.resolve("graft/query/TierReport.scala")
    val window = """partitionBy("query_id")"""
    assert(count(ivf, window) == 1,
      s"IvfSearch.scala must hold exactly one $window (the capped tail's), found ${count(ivf, window)}")
    assert(count(tier, window) == 0, s"TierReport.scala must hold no $window")
    // the nearest-cell rule: no argmin aggregate anywhere, and no
    // private sort or argmin over the centroid literal outside the router
    val offenders = for {
      f <- files
      (line, i) <- lines(f).zipWithIndex
      pattern <- Seq("""min_by(col("cell")""", "array_sort(transform(", "array_min(transform(")
      if line.contains(pattern)
      if !(f == ivf && pattern != """min_by(col("cell")""" && count(ivf, pattern) == 1)
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
