package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[BpeTrainer.encodeWord]] — the rank-heap production encoder —
  * to the fold definition ([[encodeWordFold]]): same token
  * sequence on trained merge lists, random words over random trained
  * lists, and hand-built adversarial shapes (rank created-then-skipped,
  * operand consumed by an earlier rank). Also covers [[BpeTrainer
  * .tokenize]]'s dataframe surface (round-trip concatenation, count
  * equality with countTokens, null-text safety).
  */
class BpeEncoderSpec extends SparkSpec {

  private val corpus = Seq(
    (1L, "low low low lower lower"),
    (2L, "newest newest newest newest widest widest"),
    (3L, "low newest widest lowest"))

  /** Reference encode: fold every merge over the word in learned order,
    * one [[BpeTrainer.applyMerge]] pass each — O(nMerges · |word|) per
    * word. This is the SEMANTIC DEFINITION (what sequential training
    * would leave the word as); [[BpeTrainer.encodeWord]] is the
    * production-speed equivalent this spec proves equal to it. */
  private def encodeWordFold(word: String,
      merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) {
      case (syms, (a, b)) => BpeTrainer.applyMerge(syms, a, b)
    }

  /** Per-rank application counts of the FULL fold over one word:
    * counts(i) = how many times merge i fired — the reference for
    * [[BpeTrainer.heapApplyCounts]]. */
  private def foldApplyCounts(word: String,
      merges: Seq[(String, String)]): Array[Int] = {
    var syms: Seq[String] = word.map(_.toString)
    val counts = new Array[Int](merges.length)
    var i = 0
    merges.foreach { case (a, b) =>
      val before = syms.length
      syms = BpeTrainer.applyMerge(syms, a, b)
      counts(i) = before - syms.length
      i += 1
    }
    counts
  }

  test("heap encoder equals the fold on every corpus word, all prefix vocabularies") {
    val s = spark
    import s.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val merges = BpeTrainer.train(docs, "text", nMerges = 12)
    val words = corpus.flatMap(_._2.split(" ")).distinct
    for (k <- 0 to merges.size; w <- words) {
      val ms = merges.take(k)
      val want = encodeWordFold(w, ms)
      val got = BpeTrainer.encodeWord(w, BpeTrainer.ranksOf(ms))
      assert(got == want, s"word=$w k=$k: got $got want $want")
      assert(got.mkString == w, "concatenation round-trip")
    }
  }

  test("heap encoder equals the fold on random words under random trained lists") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val alpha = if (trial % 2 == 0) "ab" else "abc"
      val hist = (1 to 20).map { _ =>
        (1 to (2 + rnd.nextInt(6)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val docs = hist.zipWithIndex
        .map { case (w, i) => (i.toLong, Seq.fill(2 + rnd.nextInt(4))(w).mkString(" ")) }
        .toDF("doc_id", "text")
      val merges = BpeTrainer.train(docs, "text", nMerges = 10)
      val ranks = BpeTrainer.ranksOf(merges)
      // encode UNSEEN random words too — the encoder must not assume the
      // word appeared in training
      val probe = hist ++ (1 to 20).map(_ =>
        (1 to (1 + rnd.nextInt(10))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      probe.foreach { w =>
        val want = encodeWordFold(w, merges)
        val got = BpeTrainer.encodeWord(w, ranks)
        assert(got == want, s"trial $trial word=$w merges=$merges:\ngot $got want $want")
        // per-rank application tallies (the merge-curve primitive) must
        // also match the fold's — at every prefix, not just the end
        val ft = foldApplyCounts(w, merges).map(_.toLong)
        val ht = BpeTrainer.heapApplyCounts(w, ranks, merges.size)
        val (fc, hc) = (ft.scanLeft(0L)(_ + _), ht.scanLeft(0L)(_ + _))
        assert(hc.toSeq == fc.toSeq,
          s"trial $trial word=$w: heap tallies ${ht.toSeq} != fold ${ft.toSeq}")
      }
    }
  }

  test("adversarial: pair re-created by a later merge is NOT re-applied (fold semantics)") {
    // merges: r0 = (b,c); r1 = (a,bc). word "abc": fold pass0 -> [a,bc],
    // pass1 -> [abc]. The heap path must do the same (rank 1 pushed when
    // pass 0 creates "bc").
    val ms1 = Seq(("b", "c"), ("a", "bc"))
    assert(BpeTrainer.encodeWord("abc", BpeTrainer.ranksOf(ms1)) ==
      encodeWordFold("abc", ms1))
    // merges: r0 = (a,bc) — INVALID-ordered (bc not yet created); fold
    // finds nothing at pass 0, r1 = (b,c) then fires; r0 must NOT fire
    // afterwards (its pass is over). Both paths agree on [a, bc].
    val ms2 = Seq(("a", "bc"), ("b", "c"))
    assert(encodeWordFold("abc", ms2) == Seq("a", "bc"))
    assert(BpeTrainer.encodeWord("abc", BpeTrainer.ranksOf(ms2)) == Seq("a", "bc"))
  }

  test("adversarial: operand consumed by an earlier rank skips the later rank") {
    // r0 = (a,b), r1 = (b,c): in "abc" pass 0 eats b, so (b,c) never
    // fires even though it was adjacent at push time.
    val ms = Seq(("a", "b"), ("b", "c"))
    assert(encodeWordFold("abc", ms) == Seq("ab", "c"))
    assert(BpeTrainer.encodeWord("abc", BpeTrainer.ranksOf(ms)) == Seq("ab", "c"))
  }

  test("q223 merge fixture: heap encoder == in-order merge fold on the full fixture vocabulary") {
    // the q223 oracle replays BPE as a chained leftmost replace — equal
    // to encodeWordFold by construction; this pins the remaining link,
    // encodeWord == encodeWordFold, on every word the fixture contains
    // under exactly the committed packMerges list
    val s = spark
    import s.implicits._
    val ms = graft.queries.CorpusOpsQueries.packMerges
    val ranks = BpeTrainer.ranksOf(ms)
    val vocab = graft.core.Tables.documents(s, sfDir)
      .where($"text".isNotNull)
      .select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .distinct().as[String].collect()
    assert(vocab.nonEmpty)
    vocab.foreach { w =>
      assert(BpeTrainer.encodeWord(w, ranks) == encodeWordFold(w, ms),
        s"encoders disagree on fixture word '$w'")
    }
  }

  test("tokenize: round-trip concatenation, count parity, null safety") {
    val s = spark
    import s.implicits._
    val docs = (corpus :+ (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val merges = BpeTrainer.train(corpus.toDF("doc_id", "text"), "text", nMerges = 12)
    val out = BpeTrainer.tokenize(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String], Long)].collect()
      .map { case (id, toks, _) => id -> toks }.toMap
    corpus.foreach { case (id, text) =>
      assert(out(id).mkString == text.replace(" ", ""),
        s"doc $id: concatenated tokens must equal the de-spaced text")
    }
    assert(out(4L) == Nil, "null text tokenizes to an empty array")
    val counted = BpeTrainer.countTokens(corpus.toDF("doc_id", "text"),
      "doc_id", "text", merges).as[(Long, Long)].collect().toMap
    corpus.foreach { case (id, _) =>
      assert(counted(id) == out(id).size.toLong,
        "countTokens must agree with tokenize lengths")
    }
  }

  test("countTokensCurve: one fused pass equals a per-prefix encode at " +
    "every curve point (round-9 q234 fusion)") {
    val s = spark
    import s.implicits._
    val docs = (corpus :+ (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val merges = BpeTrainer.train(corpus.toDF("doc_id", "text"), "text",
      nMerges = 12)
    val sizes = Seq(0, 3, 7, 12)
    val fused = BpeTrainer
      .countTokensCurve(docs, "doc_id", "text", merges, sizes)
      .as[(Long, Long, Long)].collect()
      .map { case (id, k, n) => (id, k) -> n }.toMap
    assert(fused.size == docs.count() * sizes.size,
      "|sizes| rows per doc, null text included")
    sizes.foreach { k =>
      val direct = BpeTrainer.tokenize(docs, "doc_id", "text",
        merges.take(k)).select($"doc_id", $"n_bpe_tokens")
        .as[(Long, Long)].collect().toMap
      direct.foreach { case (id, n) =>
        assert(fused((id, k.toLong)) == n,
          s"curve disagrees with a direct $k-prefix encode for doc $id")
      }
    }
  }
}
