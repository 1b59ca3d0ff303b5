package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lineage cuts have one implementation, [[Cuts]]: a direct
  * `localCheckpoint`/`checkpoint` call anywhere else in `src/main`
  * would bypass the reliable mode and the PlanShapeSpec pre-cut
  * capture.
  */
class OneCutSpec extends AnyFunSuite {
  test("no source file but Cuts.scala calls localCheckpoint or checkpoint") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 50, s"source scan found only ${files.size} files under $root")
    val call = """\.(localCheckpoint|checkpoint)\(""".r
    val offenders = for {
      f <- files if f.getFileName.toString != "Cuts.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"lineage cut outside graft.Cuts (use .cut):\n${offenders.mkString("\n")}")
  }
}
