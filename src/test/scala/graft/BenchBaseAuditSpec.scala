package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins `Bench.staleBaseWarnings` (round-8 verdict #7): a BENCH_BASE
  * seeded before the last commit touching a query-registering source
  * file must produce a visible warning naming that file's benched
  * queries — the mechanized form of CLAUDE.md bench-base hygiene rule
  * (a), i.e. the q170 (r6) / q220 (r7) stale-seed failure class. Spark
  * not needed: the function is a pure file scan with an injected
  * commit-epoch lookup. */
class BenchBaseAuditSpec extends AnyFunSuite {

  private def withSrcTree(test: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("bench-audit")
    try {
      Files.writeString(dir.resolve("FooQueries.scala"),
        """object FooQueries extends QueryPack {
          |  val queries = Map("q901_stale_probe" -> q901, "q902_other" -> q902)
          |}""".stripMargin)
      Files.writeString(dir.resolve("BarQueries.scala"),
        """object BarQueries extends QueryPack {
          |  val queries = Map("q903_fresh" -> q903)
          |}""".stripMargin)
      // a picks-style annotation map: quotes a benched name, registers none
      Files.writeString(dir.resolve("Picks.scala"),
        """val picks = Seq("q901_stale_probe" -> "note")""")
      Files.writeString(dir.resolve("notes.txt"), "\"q901_stale_probe\"")
      test(dir)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  private val names = Seq("q901_stale_probe", "q902_other", "q903_fresh")

  test("file committed after the seed warns, naming its benched queries") {
    withSrcTree { dir =>
      val ws = Bench.staleBaseWarnings(seededEpoch = 1000L, names, dir,
        f => if (f.getFileName.toString == "FooQueries.scala") 2000L else 500L)
      assert(ws.size == 1)
      assert(ws.head.contains("FooQueries.scala"))
      assert(ws.head.contains("q901_stale_probe"))
      assert(ws.head.contains("q902_other"))
      assert(!ws.head.contains("q903_fresh"))
    }
  }

  test("seed at or after every commit is quiet") {
    withSrcTree { dir =>
      assert(Bench.staleBaseWarnings(2000L, names, dir, _ => 2000L).isEmpty)
      assert(Bench.staleBaseWarnings(3000L, names, dir, _ => 2000L).isEmpty)
    }
  }

  test("non-scala files and files registering no benched query are ignored") {
    withSrcTree { dir =>
      // epoch newer everywhere, but only q903 is benched — only Bar warns
      val ws = Bench.staleBaseWarnings(1000L, Seq("q903_fresh"), dir,
        _ => 2000L)
      assert(ws.size == 1)
      assert(ws.head.contains("BarQueries.scala"))
    }
  }

  test("a file that quotes a benched name but defines no QueryPack is " +
    "quiet (PlanDump's picks)") {
    withSrcTree { dir =>
      val ws = Bench.staleBaseWarnings(1000L, names, dir, _ => 2000L)
      assert(ws.size == 2 && !ws.exists(_.contains("Picks.scala")),
        ws.mkString("\n"))
    }
  }

  test("committed BENCH_BASE.json carries a seeded_epoch for the audit") {
    val txt = Files.readString(java.nio.file.Paths.get("BENCH_BASE.json"))
    val m = """"seeded_epoch"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
    assert(m.nonEmpty, "BENCH_BASE.json must keep seeded_epoch up to date")
    assert(m.get.group(1).toLong > 1700000000L)
  }
}
