package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps ArtifactCommit.scala the one place that promotes a tree: no
  * other main source may call `rename(` — a whole-tree replace goes
  * through `ArtifactCommit.swap`, whose renames are checked and whose
  * crash windows every owner recovers. */
class ArtifactGuardSpec extends AnyFunSuite {

  test("no rename( call in src/main outside ArtifactCommit.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val owner = "graft/sources/ArtifactCommit.scala"
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList
    finally walk.close()
    assert(sources.exists(_.endsWith(owner)))
    val hits = for {
      p: Path <- sources if !p.endsWith(owner)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("rename(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("rename outside ArtifactCommit.scala:\n", "\n", ""))
  }
}
