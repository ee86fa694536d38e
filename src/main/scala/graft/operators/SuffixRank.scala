package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DistributedRank
import graft.core.Cut

/** Distributed suffix-array construction by PREFIX DOUBLING — the exact
  * substring-duplication primitive (Manber & Myers SODA'90; the
  * structure Lee et al. 2022 "Deduplicating Training Data Makes
  * Language Models Better" builds single-node to find every duplicated
  * span ≥ L tokens). graft's production span dedup is the hashed
  * family (q129 span copies, q175 winnowing — cheap, approximate);
  * this operator is the EXACT complement: it finds all duplicated
  * substrings of every length at once, with no hash-collision or
  * sampling miss, as the adjacent-suffix LCP array.
  *
  * Shape: suffixes live per document (doc_id, pos) and never cross doc
  * boundaries. Ranks double in log2(maxDocLen) rounds; each round is a
  * constant number of hash exchanges over O(positions) rows — a
  * doc_id-keyed self-shift join pairs rank(p) with rank(p+k), the
  * DISTINCT pair table gets a dense rank through the window-free
  * two-pass [[graft.functions.DistributedRank]] (never an
  * un-partitioned window), and the new rank joins back. After round 0
  * the sort keys are two longs — token strings are compared exactly
  * once. Rounds stop early when the class count plateaus (if a
  * doubling step splits nothing it never will — identical-to-the-end
  * suffixes keep tied ranks forever, so plateau, not all-distinct, is
  * the sound stop). Each level is lineage-cut through
  * [[graft.core.Cut.freshStats]]: iterative lineage would otherwise grow
  * 2^rounds (the WalkRank/KMeans iteration rule), and plan-stat BigInts
  * would compound per round (see its scaladoc).
  *
  * At 100 TB: positions = tokens, so each round sorts/shuffles the
  * token count — linear per round, log(maxDocLen) rounds, no step ever
  * materializes pairs beyond the O(positions) rank tables. That cost
  * is the honest price of exactness; run it on the slice that needs a
  * guarantee (contamination audits, legal-grade dedup) and route bulk
  * dedup through the hashed family.
  */
object SuffixRank {

  /** Rank-level ladder. `toks` carries one row per (doc_id, pos, tok),
    * pos 0-based and dense within each doc. Returns (k, frame) pairs,
    * k ascending in powers of two; each frame is (doc_id, pos, r) where
    * equal r ⟺ equal min(k, remaining)-token prefixes — with the
    * end-of-doc pad ranked below every real token, so a short suffix
    * sorts before everything it prefixes (list order). Top-level ties ⟺
    * identical FULL suffixes: the ladder stops either at k ≥ maxDocLen
    * (min(k, remaining) = remaining everywhere) or at a class-count
    * plateau — and a doubling that splits nothing proves, by induction,
    * that no longer prefix can split a class either, so the plateau
    * level itself is never materialized (its partition equals its
    * parent's; [[adjacentLcp]]'s sentinel relies on this guarantee).
    *
    * Levels 1 and 2 come out of ONE fused alphabet pass: the same
    * O(positions) self-shift that a doubling round would pay ranks
    * unigrams and (token, next-token) bigrams together — both distinct
    * tables are Heaps-law sub-linear, sortBy+zipWithIndex each — saving
    * a full positions-scale doubling round (~1/log(maxDocLen) of the
    * ladder). */
  def levels(toks: DataFrame): Seq[(Long, DataFrame)] = {
    val spark = toks.sparkSession
    import spark.implicits._
    val t = toks
      .select(col("doc_id").cast("long"), col("pos").cast("long"),
        col("tok").cast("string"))
      .transform(Cut.freshStats)
    val maxLen = t.groupBy($"doc_id").agg(count(lit(1)).as("__n"))
      .agg(coalesce(max($"__n"), lit(0L))).head().getLong(0)
    // fused alphabet pass: end-of-doc pad "" sorts below every real
    // token; the \u0001 prefix on real next-tokens keeps a (theoretical)
    // empty-string token distinct from the pad while preserving the
    // tokens' relative string order
    val nxt = t.select($"doc_id", ($"pos" - 1L).as("pos"),
      $"tok".as("__nt0"))
    val big = t.join(nxt, Seq("doc_id", "pos"), "left")
      .select($"doc_id", $"pos", $"tok",
        when($"__nt0".isNull, lit(""))
          .otherwise(concat(lit("\u0001"), $"__nt0")).as("__nt"))
      .transform(Cut.freshStats)
    val alpha1 = big.select($"tok").distinct().as[String].rdd
      .sortBy(identity).zipWithIndex()
      .toDF("tok", "__r1")
    val alpha2 = big.select($"tok", $"__nt").distinct()
      .as[(String, String)].rdd
      .sortBy(identity).zipWithIndex()
      .map { case ((a, b), i) => (a, b, i) }
      .toDF("tok", "__nt", "__r2")
    val cur1 = big.join(alpha1, Seq("tok"))
      .select($"doc_id", $"pos", ($"__r1" + 1L).as("r"))
      .transform(Cut.freshStats)
    var cur = big.join(alpha2, Seq("tok", "__nt"))
      .select($"doc_id", $"pos", ($"__r2" + 1L).as("r"))
      .transform(Cut.freshStats)
    var k = 2L
    var out = Vector(1L -> cur1, k -> cur)
    // ranks are dense 1..n, so max(r) IS the class count — one narrow
    // agg over the checkpointed level, no distinct shuffle (coalesce:
    // max is NULL on an empty corpus, where the count is 0)
    def classes(df: DataFrame): Long =
      df.agg(coalesce(max($"r"), lit(0L))).head().getLong(0)
    var nr = classes(cur)
    var plateau = false
    while (k < maxLen && !plateau) {
      val shifted = cur.select($"doc_id", ($"pos" - lit(k)).as("pos"),
        $"r".as("__rk"))
      val paired = cur.join(shifted, Seq("doc_id", "pos"), "left")
        .select($"doc_id", $"pos", $"r",
          coalesce($"__rk", lit(0L)).as("r2")) // pad 0 < every real rank
      val pairs = paired.select($"r", $"r2").distinct()
      val ranked = DistributedRank.withRowNumber(pairs, "__nr",
        col("r"), col("r2"))
        .transform(Cut.freshStats)
      // the distinct (r, r2) pair count IS the next level's class count
      // — checking it on the (small, checkpointed) pair-rank table
      // BEFORE the positions-scale join-back skips materializing a
      // plateau level the descent never needs; a non-plateau round
      // reuses the same checkpointed ranks in the join-back
      val n2 = ranked.count()
      if (n2 == nr) plateau = true
      else {
        cur = paired.join(ranked, Seq("r", "r2"))
          .select($"doc_id", $"pos", $"__nr".as("r"))
          .transform(Cut.freshStats)
        k *= 2
        out :+= (k -> cur)
        nr = n2
      }
    }
    out
  }

  /** Per-position duplication depth: for every (doc_id, pos), `best` =
    * the length of the longest substring starting there that also occurs
    * at some OTHER corpus position. By the suffix-array property that
    * any pair's LCP is the min of the adjacent LCPs between them, each
    * position's maximizing partner is an immediate neighbour in suffix
    * order, so `best` = max of the two adjacent LCPs — and the VALUE is
    * intrinsic to the suffix multiset, independent of tie order. */
  def bestPerPosition(toks: DataFrame): DataFrame = {
    val lcp = adjacentLcp(levels(toks))
    val spark = lcp.sparkSession
    import spark.implicits._
    lcp.select($"a_doc".as("doc_id"), $"a_pos".as("pos"), $"lcp")
      .unionAll(lcp.select($"b_doc".as("doc_id"), $"b_pos".as("pos"), $"lcp"))
      .groupBy($"doc_id", $"pos").agg(max($"lcp").as("best"))
  }

  /** Adjacent-suffix LCP array from a [[levels]] ladder: one row per
    * consecutive pair of the suffix order (rank, doc_id, pos), with the
    * exact token LCP. Descends the ladder top-down — at level k the
    * pair advances by k iff the rank-k values at the current matched
    * offset agree (an equi join per side; offsets past the doc end find
    * no row and never advance). A TOP-level match means the suffixes
    * are identical to the end ([[levels]]'s plateau/k≥maxLen guarantee),
    * so it advances by a sentinel far past any document length and the
    * final min-remaining-length clip brings it back to the true value —
    * advancing by the top k instead would cap computed LCP at 2K−1 and
    * UNDERCOUNT on duplicate-heavy corpora that plateau early (two
    * identical 'a b c d' docs plateau at K=2 but have LCP 4). Below the
    * top, distinct powers {K/2 … 2, 1} reach every value ≤ K−1 exactly.
    * Adjacency itself comes from the window-free global row number, so
    * the whole array costs 2·levels + 3 equi joins and never funnels
    * through one task. */
  def adjacentLcp(lvls: Seq[(Long, DataFrame)]): DataFrame =
    adjacentLcpRn(lvls).drop("__rn")

  /** [[adjacentLcp]] keeping the GLOBAL SUFFIX-ORDER row number: one
    * row per consecutive pair, `__rn` = the a-side suffix's 1-based
    * position in suffix order (so the pair spans `__rn → __rn+1`).
    * The rn is what lets a consumer rebuild the ordered LCP ARRAY
    * (l(rn+1) = this pair's lcp) for span-min queries — the cross-set
    * decontamination pass (q261) and the persisted
    * [[SuffixIndex]] order table both ride it. */
  def adjacentLcpRn(lvls: Seq[(Long, DataFrame)]): DataFrame = {
    val fin = lvls.last._2
    val spark = fin.sparkSession
    import spark.implicits._
    // past any plausible token count per doc; a_pos + SENTINEL stays
    // far from Long overflow and matches no real offset, so levels
    // below the top never advance a sentinel pair further
    val SENTINEL = 1L << 40
    val lens = fin.groupBy($"doc_id").agg((max($"pos") + 1L).as("__len"))
    val ordered = DistributedRank.withRowNumber(fin, "__rn",
      col("r"), col("doc_id"), col("pos"))
    val a = ordered.select($"__rn", $"doc_id".as("a_doc"), $"pos".as("a_pos"))
    val b = ordered.select(($"__rn" - 1L).as("__rn"),
      $"doc_id".as("b_doc"), $"pos".as("b_pos"))
    var adj = a.join(b, Seq("__rn"))
      .withColumn("lcp", lit(0L))
      .transform(Cut.freshStats)
    // unlike the levels ladder (self-join per round — exponential
    // lineage AND stat growth), this descent adds two joins against
    // already-checkpointed level frames per step: lineage and plan-stat
    // digits grow LINEARLY, so the whole descent stays one lazy DAG —
    // no per-level materialization, one fused execution at the consumer
    lvls.reverse.zipWithIndex.foreach { case ((k, lv), i) =>
      val adv = if (i == 0) SENTINEL else k
      val lvA = lv.select($"doc_id".as("__ad"), $"pos".as("__ap"),
        $"r".as("__ra"))
      val lvB = lv.select($"doc_id".as("__bd"), $"pos".as("__bp"),
        $"r".as("__rb"))
      adj = adj
        .join(lvA, $"a_doc" === $"__ad" && $"__ap" === $"a_pos" + $"lcp",
          "left")
        .join(lvB, $"b_doc" === $"__bd" && $"__bp" === $"b_pos" + $"lcp",
          "left")
        .withColumn("lcp", when($"__ra".isNotNull && $"__rb".isNotNull &&
          $"__ra" === $"__rb", $"lcp" + lit(adv)).otherwise($"lcp"))
        .drop("__ad", "__ap", "__ra", "__bd", "__bp", "__rb")
    }
    adj
      .join(lens.select($"doc_id".as("a_doc"), $"__len".as("__la")),
        Seq("a_doc"))
      .join(lens.select($"doc_id".as("b_doc"), $"__len".as("__lb")),
        Seq("b_doc"))
      .select($"__rn", $"a_doc", $"a_pos", $"b_doc", $"b_pos",
        least($"lcp", $"__la" - $"a_pos", $"__lb" - $"b_pos").as("lcp"))
  }

}
