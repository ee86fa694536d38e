package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps Cut.scala the one place that decides how lineage is cut: no
  * other main source may call `localCheckpoint(` or `.checkpoint(`. */
class CutGuardSpec extends AnyFunSuite {

  test("no localCheckpoint( or .checkpoint( call in src/main outside Cut.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList
    finally walk.close()
    assert(sources.exists(_.endsWith("graft/core/Cut.scala")))
    val hits = for {
      p: Path <- sources if !p.endsWith("graft/core/Cut.scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("cut outside Cut.scala:\n", "\n", ""))
  }
}
