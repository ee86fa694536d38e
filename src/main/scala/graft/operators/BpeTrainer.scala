package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Distributed BPE (byte-pair-encoding) vocabulary induction — the
  * tokenizer-training step of a training-data pipeline, which the q42
  * token census and q94 packing presuppose but nothing yet produced.
  *
  * Scale design: classic BPE counts symbol pairs WEIGHTED BY WORD
  * FREQUENCY, so training runs entirely on the word HISTOGRAM
  * (`groupBy(word).count()` — O(distinct words), a tiny fraction of
  * corpus size; ScaleProbe measures it flat under 10× corpus
  * replication). Each merge round is one flatMap over the histogram
  * (adjacent symbol pairs), one grouped sum, and one TakeOrdered
  * top-1 driver action (the k-means loop shape — never a global
  * window); the merged histogram is cut through [[graft.core.Cut]] per
  * round so lineage stays flat. Ties break deterministically on
  * (count desc, left asc, right asc), so the learned merge sequence is
  * reproducible across runs and cluster layouts.
  *
  * The reference has no tokenizer training (its text work stops at
  * delimited-log parsing); this is a beyond-reference H-8 operator like
  * the dedup family. No SQL oracle is practical (iterative, like
  * [[KMeans.lloyd]]) — BpeTrainerSpec instead proves the merge sequence
  * equal to a local reference implementation and pins the invariants
  * (monotone token shrinkage, round-trip concatenation). */
object BpeTrainer {

  /** One histogram row: a word as its current symbol sequence + count. */
  final case class WordSyms(syms: Seq[String], n: Long)

  /** Learn up to `nMerges` merges; returns them in application order.
    * Stops early when no pair occurs at least `minCount` times. */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1 (got $nMerges)")
    val spark = docs.sparkSession
    import spark.implicits._
    var hist: Dataset[WordSyms] = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      .map { case (w, n) => WordSyms(w.map(_.toString), n) }
      .transform(Cut(_))

    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && merges.size < nMerges) {
      val top = hist
        .flatMap(ws => ws.syms.iterator.sliding(2).withPartial(false)
          .map(p => (p.head, p(1), ws.n)))
        .toDF("a", "b", "n")
        .groupBy($"a", $"b").agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption.filter(_._3 >= minCount) match {
        case None => done = true
        case Some((a, b, _)) =>
          merges += ((a, b))
          hist = hist
            .map(ws => WordSyms(applyMerge(ws.syms, a, b), ws.n))
            .transform(Cut(_))
      }
    }
    merges.toSeq
  }

  /** Like [[train]] but learns up to `maxBatch` merges per driver round —
    * the fix for the one-action-per-merge shape (a 50k-vocab production run
    * would otherwise launch 100k Spark jobs).
    *
    * A whole sorted prefix of this round's pair ranking is applied at once
    * when doing so is PROVABLY what sequential BPE would have done. With
    * candidates p1 >= p2 >= ... in (count desc, left, right) order, accept
    * p(i), i>=2, only while ALL hold:
    *
    *  1. contiguity — the batch is a prefix; stop (never skip) at the first
    *     reject, because old-pair counts only decrease under merges, so any
    *     un-rejected later pair would stay behind its predecessors anyway,
    *     while a rejected one could legitimately be overtaken;
    *  2. symbol-disjointness from every accepted pair — merges over disjoint
    *     symbols commute and leave each other's counts untouched;
    *  3. no concat collision — p(i)'s merged symbol must not equal an
    *     existing symbol or another accepted concat (string-keyed symbols
    *     would alias and counts would add, breaking 2's invariance); p1 may
    *     collide (it is the exact argmax regardless) but then ends the batch;
    *  4. count(p(i)) > max pre-merge TRIPLE count touching any accepted
    *     p(j), j<i. A merge (a,b) creates only pairs (x,ab)/(ab,y) whose
    *     counts are bounded by the triple counts T(x,a,b)/T(a,b,y), and
    *     disjoint merges never create new all-old-symbol adjacencies — so
    *     this strict bound means no newly-created pair can outrank p(i).
    *
    * Under 1-4 the sequential argmax at every intermediate step is exactly
    * the next accepted pair, so the learned sequence is IDENTICAL to
    * [[train]]'s (BpeTrainerSpec proves equality on fixtures and on
    * ScalaCheck-random corpora). Cost: 3 actions per ROUND (pair top-k,
    * triple bound, checkpoint) vs 2 per MERGE — a >=10x action cut whenever
    * batches average >=15, and worst-case parity on adversarial corpora. */
  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L, maxBatch: Int = 32): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1 (got $nMerges)")
    require(maxBatch >= 1, s"maxBatch must be >= 1 (got $maxBatch)")
    val spark = docs.sparkSession
    import spark.implicits._
    var hist: Dataset[WordSyms] = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
      .map { case (w, n) => WordSyms(w.map(_.toString), n) }
      .transform(Cut(_))
    // all symbol strings alive in the histogram: initial alphabet (tiny —
    // distinct characters) plus every concat we create. Driver-side, exact.
    val symbolSet = scala.collection.mutable.Set[String](
      hist.flatMap(_.syms).distinct().collect().toIndexedSeq: _*)

    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (!done && merges.size < nMerges) {
      val want = math.min(maxBatch, nMerges - merges.size)
      val top = hist
        .flatMap(ws => ws.syms.iterator.sliding(2).withPartial(false)
          .map(p => (p.head, p(1), ws.n)))
        .toDF("a", "b", "n")
        .groupBy($"a", $"b").agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(want)
        .as[(String, String, Long)]
        .collect()
      if (top.isEmpty || top.head._3 < minCount) done = true
      else {
        // upper bound on any pair a candidate merge can create: the max
        // pre-merge triple count whose first or last two symbols are the
        // candidate. One extra aggregation over the same histogram.
        val cand = top.map(t => (t._1, t._2)).toSet
        val candBc = spark.sparkContext.broadcast(cand)
        val maxAdj: Map[(String, String), Long] = hist
          .flatMap(ws => ws.syms.iterator.sliding(3).withPartial(false)
            .map(t => (t(0), t(1), t(2), ws.n)))
          .toDF("x", "y", "z", "n")
          .groupBy($"x", $"y", $"z").agg(sum($"n").as("tc"))
          .as[(String, String, String, Long)]
          .flatMap { case (x, y, z, tc) =>
            Seq(((x, y), tc), ((y, z), tc)).filter(p => candBc.value(p._1)) }
          .groupByKey(_._1).mapValues(_._2).reduceGroups((u, v) => math.max(u, v))
          .collect().toMap

        val used = scala.collection.mutable.Set[String]()
        val batch = scala.collection.mutable.ArrayBuffer[(String, String)]()
        var newMax = Long.MinValue
        var stop = false
        for ((a, b, c) <- top if !stop) {
          val concat = a + b
          if (c < minCount) stop = true
          else if (batch.isEmpty) {
            batch += ((a, b)); used += a; used += b
            newMax = maxAdj.getOrElse((a, b), 0L)
            // string-aliasing argmax: sequential-correct to apply, but
            // count invariance is gone for the rest of the ranking
            if (symbolSet.contains(concat)) stop = true
          } else if (!used(a) && !used(b) && !symbolSet.contains(concat) &&
              !batch.exists(p => p._1 + p._2 == concat) && c > newMax) {
            batch += ((a, b)); used += a; used += b
            newMax = math.max(newMax, maxAdj.getOrElse((a, b), 0L))
          } else stop = true
        }
        candBc.destroy()
        merges ++= batch
        symbolSet ++= batch.map(p => p._1 + p._2)
        val ms = batch.toIndexedSeq
        hist = hist
          .map(ws => WordSyms(
            ms.foldLeft(ws.syms) { case (s, (a, b)) => applyMerge(s, a, b) }, ws.n))
          .transform(Cut(_))
      }
    }
    merges.toSeq
  }

  /** Persist a learned merge list as a loadable model artifact
    * (VERDICT r9 #3 — the tokenizer is the artifact a training
    * pipeline ships FIRST, and until round 10 it was the only model
    * here without the [[VectorIndex.save]] lifecycle): `merges/` holds
    * one `(rank, lhs, rhs)` row per merge — rank IS the application
    * order, the entire model state — and `meta/` the format version
    * and count. Committed atomically via
    * [[graft.sources.ArtifactCommit.swap]] (never a partial
    * vocabulary; a rerun converges). KB-scale at production
    * vocabularies (50k rows of short strings). */
  def save(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], dir: String): Unit = {
    import spark.implicits._
    graft.sources.ArtifactCommit.swap(spark, dir) { tmp =>
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
        .coalesce(1).write.parquet(s"$tmp/merges")
      Seq((1L, merges.size.toLong)).toDF("format", "n_merges")
        .coalesce(1).write.parquet(s"$tmp/meta")
    }
  }

  /** Load a saved vocabulary: the merge list in application order.
    * Collects driver-side (KB by construction — the model-table rule);
    * integrity-checked against the meta count and rank contiguity so a
    * torn or hand-edited artifact fails loud instead of silently
    * tokenizing differently. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    graft.sources.ArtifactCommit.recoverSwapAt(spark, dir)
    val meta = spark.read.parquet(s"$dir/meta").collect().head
    require(meta.getLong(0) == 1L,
      s"unsupported bpe vocabulary format ${meta.getLong(0)} at $dir")
    val n = meta.getLong(1)
    val rows = spark.read.parquet(s"$dir/merges").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    require(rows.length.toLong == n &&
      rows.iterator.zipWithIndex.forall { case ((r, _, _), i) => r == i.toLong },
      s"corrupt bpe vocabulary at $dir: expected $n contiguous ranks, " +
        s"got ${rows.length}")
    rows.map(t => (t._2, t._3)).toSeq
  }

  /** Left-to-right greedy application of one merge (standard BPE rule:
    * after "aa"+"a" on "aaaa" the result is ["aa","aa"], not 3 overlaps). */
  private[operators] def applyMerge(s: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += a + b; i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toSeq
  }

  /** Merge list → rank lookup. First occurrence wins on a duplicate
    * pair: after pass r merges every (a,b), a later duplicate pass can
    * only re-fire if string-aliasing re-creates the pair (x+y == a) —
    * a pathology training essentially never emits; [[encodeWord]] is
    * defined over the first-wins map and BpeEncoderSpec pins fold
    * equality on trained and ScalaCheck-random lists. */
  def ranksOf(merges: Seq[(String, String)]): Map[(String, String), Int] = {
    val m = scala.collection.mutable.HashMap[(String, String), Int]()
    merges.zipWithIndex.foreach { case (p, i) => if (!m.contains(p)) m(p) = i }
    m.toMap
  }

  /** Production-speed encode of one word: a min-heap of the ranks whose
    * pair is currently adjacent, popped in rank order — the tiktoken
    * loop shape, but with FOLD semantics pinned exactly: each rank is
    * applied at most once (one left-to-right [[applyMerge]] pass), and a
    * pair CREATED by rank r with rank p < r is ignored, because the
    * fold's pass p already ran. Cost O((|word| + applied) · log |word|)
    * per word — independent of vocabulary size, where the fold pays
    * O(nMerges · |word|) (a 50k-merge production vocabulary makes the
    * fold ~1000× the work of the ~dozen merges that actually fire). */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] =
    encodeWordTallied(word, ranks, null)

  /** [[encodeWord]] plus an optional per-rank application TALLY
    * (`tally(r) += symbols removed by rank r`): the heap pops ranks in
    * ascending order and runs the same one-pass [[applyMerge]] per
    * rank as the fold, so the tallies are the fold's — which is what
    * lets [[countTokensCurve]] derive every PREFIX count from one
    * heap-speed encode instead of one fold (the fold pays
    * O(nMerges·|word|); measured 1.45× on the 12-merge fixture, ~1000×
    * at production vocabularies). */
  private def encodeWordTallied(word: String,
      ranks: Map[(String, String), Int], tally: Array[Long]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    if (syms.length < 2 || ranks.isEmpty) return syms
    val heap = scala.collection.mutable.PriorityQueue.empty[Int](Ordering.Int.reverse)
    val seen = scala.collection.mutable.Set[Int]()
    def push(a: String, b: String, floor: Int): Unit =
      ranks.get((a, b)).foreach { r =>
        if (r > floor && !seen(r)) { seen += r; heap.enqueue(r) }
      }
    syms.iterator.sliding(2).withPartial(false)
      .foreach(p => push(p.head, p(1), Int.MinValue))
    val byRank = ranks.map(_.swap)
    while (heap.nonEmpty) {
      val r = heap.dequeue()
      val (a, b) = byRank(r)
      // still adjacent? (an earlier merge may have consumed an operand)
      var i = 0; var present = false
      while (i + 1 < syms.length && !present) {
        if (syms(i) == a && syms(i + 1) == b) present = true; i += 1
      }
      if (present) {
        val before = syms
        syms = applyMerge(syms, a, b)
        if (tally != null) tally(r) += (before.length - syms.length).toLong
        // new adjacencies all touch the merged symbol a+b; future ranks only
        val ab = a + b
        var j = 0
        while (j < syms.length) {
          if (syms(j) == ab) {
            if (j > 0) push(syms(j - 1), ab, r)
            if (j + 1 < syms.length) push(ab, syms(j + 1), r)
          }
          j += 1
        }
        // guard: applyMerge must have fired (present was true)
        require(syms.length < before.length, s"merge ($a,$b) did not apply")
      }
    }
    syms
  }

  /** The merge list as a foldable array<array<string>> literal — the
    * model-state argument of the native `graft_bpe_*` expressions
    * ([[graft.expressions.BpeTable]]). */
  private def mergesLit(merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    typedLit(merges.map(p => Seq(p._1, p._2)))

  /** Tokenize every document with a learned merge list: one row per doc
    * with the full BPE token array (`bpe_tokens`) and its length.
    *
    * r13: the encode is the native `graft_bpe_*` expression pair
    * ([[graft.expressions.BpeTable]] — in-place int-array form of
    * [[encodeWord]], BpeExprSpec pins token-for-token equality to the
    * pre-r13 typed-map tokenize it keeps), not a typed `Dataset.map`:
    * the plan stays one whole-stage-codegen Project with no encoder
    * ser/de, and because
    * `bpe_tokens` and `n_bpe_tokens` are INDEPENDENT expressions,
    * column pruning drops the token-string materialization wherever
    * only the count is consumed — every declared query path. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    graft.expressions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val m = mergesLit(merges)
    val t = coalesce(col(textCol), lit(""))
    docs.select(col(idCol).cast("long").as(idCol),
      call_function("graft_bpe_tokens", t, m).as("bpe_tokens"),
      call_function("graft_bpe_ntokens", t, m).as("n_bpe_tokens"))
  }

  /** Heap-speed per-rank application counts: counts(i) = how many
    * times merge i fired. Because each firing drops the symbol count by
    * exactly 1 and a k-prefix encode IS the fold stopped after rank k,
    * the token count under ANY prefix k is |chars| − Σ_{i<k} counts(i)
    * — one pass yields the whole merge-curve (q234's fusion). Equal to
    * the fold's per-rank counts because the heap applies the same
    * ascending rank sequence over the same intermediate states
    * (BpeEncoderSpec's `foldApplyCounts` reference pins the equality on
    * trained and random lists). */
  private[operators] def heapApplyCounts(word: String,
      ranks: Map[(String, String), Int], nRanks: Int): Array[Long] = {
    val tally = new Array[Long](nRanks)
    encodeWordTallied(word, ranks, tally)
    tally
  }

  /** ONE-SCAN merge-curve encode: token counts per doc under every
    * requested PREFIX of the merge list — (idCol, n_merges,
    * n_bpe_tokens), |sizes| rows per doc from a single narrow typed
    * map (the fused form q234's scaladoc promised instead of one
    * corpus scan per curve point). Exactness: prefix-k count =
    * char count − merges-ranked-below-k applications of the full
    * fold, since the fold after k ranks is exactly the k-prefix
    * encoder's final state (BpeEncoderSpec pins fold == heap). */
  def countTokensCurve(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(k => k >= 0 && k <= merges.size),
      s"curve sizes must lie in [0, ${merges.size}] (got $sizes)")
    graft.expressions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol).cast("long").as(idCol),
        explode(call_function("graft_bpe_curve",
          coalesce(col(textCol), lit("")), mergesLit(merges),
          typedLit(sizes.map(_.toLong)))).as("kv"))
      .select(col(idCol), col("kv.n_merges").as("n_merges"),
        col("kv.n_bpe_tokens").as("n_bpe_tokens"))
  }

  /** Per-doc BPE token count: (idCol, n_bpe_tokens). r13: the native
    * count expression — no token strings, no typed-map boundary, one
    * codegen'd Project (see [[tokenize]]). Null text counts 0 tokens,
    * as in [[tokenize]] and [[countTokensCurve]]. */
  def countTokens(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    graft.expressions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col(idCol).cast("long").as(idCol),
      call_function("graft_bpe_ntokens", coalesce(col(textCol), lit("")),
        mergesLit(merges)).as("n_bpe_tokens"))
  }
}
