package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session-bound state has one owner, `graft.util.SessionMemo`: a
  * hand-rolled `WeakHashMap[SparkSession, …]` pins its own key through
  * any value that references the session, and a module-level
  * `fitCache` ignores the session altogether. A `WeakHashMap` of any
  * other key is rejected too: state derived from an object belongs on
  * that object, where its owner can release it. */
class MemoHygieneSpec extends AnyFunSuite {

  test("no WeakHashMap[SparkSession or module-level fitCache outside the session memo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val memo = root.resolve("graft/util/SessionMemo.scala")
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != memo)
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("WeakHashMap") ||
              line.matches("""\s*(private\s+)?val\s+fitCache\b.*""") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
