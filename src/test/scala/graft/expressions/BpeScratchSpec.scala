package graft.expressions

import org.scalatest.funsuite.AnyFunSuite

/** The per-thread encode scratch of [[BpeTable]] marks each rank pushed
  * in one word with that word's epoch. The epoch counter must not let a
  * mark left by an earlier cycle of the counter match a new epoch. */
class BpeScratchSpec extends AnyFunSuite {

  private val merges = Array(("a", "b"), ("ab", "c"), ("b", "c"), ("c", "a"),
    ("abc", "a"), ("b", "b"), ("ca", "b"))
  // "cc" fires no merge and marks no rank
  private val words = Seq("cc", "abcabc", "aabbcc", "cabcab abc", "bbca", "abcab cab bcb")

  private def tokens(t: BpeTable, w: String): Seq[String] = {
    val a = t.tokensDoc(w)
    (0 until a.numElements()).map(a.getUTF8String(_).toString)
  }

  test("encodes across the epoch wrap equal those of a fresh scratch") {
    val want = { val fresh = new BpeTable(merges); words.map(tokens(fresh, _)) }
    assert(want(1) == Seq("abc", "abc"), "the words must fire merges")
    // marks an earlier cycle of the counter left on every rank: the
    // value an overflowing counter takes next, or the first value of a
    // counter restarted without clearing its marks
    for (stale <- Seq(Int.MinValue, 1)) {
      val table = new BpeTable(merges)
      val sc = table.scratchTl.get()
      sc.epoch = Int.MaxValue - 1
      java.util.Arrays.fill(sc.seenEpoch, stale)
      // "cc" is encoded before the wrap, "abcabc" first after it
      val got = (1 to 2).flatMap(_ => words.map(tokens(table, _)))
      assert(got == want ++ want, s"stale marks $stale")
      assert(sc.epoch > 0 && sc.epoch < 100, s"epoch ${sc.epoch} did not restart")
      assert(table.countDoc("abcabc") == 2L)
    }
  }
}
