package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Bipartite random-walk rank (PageRank-style with damping): the
  * centrality primitive corpus curation uses for source/domain quality
  * (Common Crawl ranks hosts by centrality before sampling). A right-side
  * node is central when many left-side nodes that also touch other
  * central right-side nodes include it.
  *
  * Scale shape: NO pair materialization ever — each iteration is two
  * grouped equi-joins over the EDGE list (walk mass to the left side,
  * then back), so cost is O(E) per iteration with a fixed iteration
  * count (the `walk_rank_e` ScaleProbe row measures per-iteration cost
  * linear in E). The ONE loop input — the edge list with BOTH endpoint
  * degrees pre-attached — is cut through [[graft.core.Cut]] before
  * iterating (the KMeans/BpeTrainer pattern): without it every round's
  * lazy plan re-scans and re-shuffles the source from scratch and plan
  * size grows per round. Degrees attach via two KEY-PARTITIONED window counts, not
  * degree-frame joins: each window is one exchange + per-key count over
  * the edge list itself — no aggregate subtree to build, no join, and no
  * broadcast-size assumption on the endpoint population (a web-scale
  * graph has billions of distinct endpoints; a forced degree-frame
  * broadcast would be the q171 bigram-histogram mistake). The right-side degree rides the per-round aggregate as
  * first(dp) — constant per group — so no per-round dimension join
  * re-attaches it; the node count is ONE driver-side count over the
  * materialized edges (a bounded 1-value action, the k-means loop
  * shape). Each round is then exactly two joins + two grouped aggs over
  * in-memory input; only the rank frame stays lazy.
  *
  * Reference analogue: none (the reference has no graph primitive);
  * beyond-reference H-family operator like the dedup suite. */
object WalkRank {

  /** Rank the `pCol` side of the bipartite graph `edges(oCol, pCol)`.
    * Returns one row per distinct `pCol` value: (p, dp, r) where `dp` is
    * its degree and `r` its stationary mass after `iters` rounds of
    * `r ← teleport/N + damping · Σ walk-through-o mass`. The teleport
    * mass is an explicit parameter, NOT derived as `1 − damping`: the
    * binary double `1.0 - 0.85` is one ulp away from the literal `0.15`
    * an oracle writes, and that ulp survives into the hash. Duplicate
    * edges are collapsed first (a multi-edge would double-count mass). */
  def bipartite(edges: DataFrame, oCol: String, pCol: String,
      iters: Int = 3, damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e0 = edges.select(col(oCol).as("o"), col(pCol).as("p")).distinct()
    val edgesF = e0
      .withColumn("dn", count(lit(1)).over(Window.partitionBy(col("o"))))
      .withColumn("dp", count(lit(1)).over(Window.partitionBy(col("p"))))
      .transform(Cut(_))
    val np = edgesF.select(col("p")).distinct().count().toDouble
    // empty graph → empty rank frame (the 1/np init would ANSI-throw)
    if (np == 0.0)
      return edgesF.select(col("p"), col("dp"), lit(0.0).as("r"))
    var rank = edgesF.select(col("p"), col("dp")).distinct()
      .withColumn("r", lit(1.0) / np)
    for (_ <- 1 to iters) {
      // edgesF on both hops: the only scan either join performs is over
      // the checkpointed edge list
      val walkToO = edgesF.join(rank.select(col("p"), col("r")), Seq("p"))
        .groupBy(col("o")).agg(sum(col("r") / col("dp")).as("qo"))
      rank = edgesF.join(walkToO, Seq("o"))
        .groupBy(col("p"))
        .agg((lit(damping) * sum(col("qo") / col("dn"))).as("rd"),
          first(col("dp")).as("dp"))
        .select(col("p"), col("dp"),
          (lit(teleport) / np + col("rd")).as("r"))
    }
    rank
  }

  /** Personalized (seeded) variant — TrustRank-style: teleport mass is
    * distributed over a SEED set proportionally to `seedWeights(pCol,
    * wCol)` instead of uniformly over all nodes, so rank measures
    * centrality AS SEEN FROM the trusted seeds (the whitelist-
    * propagation recipe web-corpus curation uses for source quality:
    * seed a few audited-good domains, walk the link structure, harvest
    * the high-rank tail). Non-seed nodes get zero teleport mass and
    * earn rank only through walk mass; integer seed weights keep the
    * normalized teleport fractions w/Σw bit-identical across engines
    * (one double divide per seed, same operands both sides).
    *
    * Same scale shape as [[bipartite]]: the seed frame joins the
    * checkpointed edge list once (left join, O(seeds) extra rows kept
    * on the rank frame), every round is still two equi joins + two
    * grouped aggs. */
  def bipartiteSeeded(edges: DataFrame, oCol: String, pCol: String,
      seedWeights: DataFrame, wCol: String,
      iters: Int = 3, damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val e0 = edges.select(col(oCol).as("o"), col(pCol).as("p")).distinct()
    val edgesF = e0
      .withColumn("dn", count(lit(1)).over(Window.partitionBy(col("o"))))
      .withColumn("dp", count(lit(1)).over(Window.partitionBy(col("p"))))
      .transform(Cut(_))
    val seeds = seedWeights
      .select(col(pCol).as("p"), col(wCol).cast("double").as("w"))
      .groupBy(col("p")).agg(sum(col("w")).as("w"))
    val wTotRow = seeds.agg(sum(col("w"))).head
    // no seeds at all (e.g. an empty corpus) → empty rank frame; seeds
    // PRESENT but with non-positive mass is a caller bug and throws
    if (wTotRow.isNullAt(0))
      return edgesF.select(col("p"), col("dp"), lit(0.0).as("r")).limit(0)
    val wTot = wTotRow.getDouble(0)
    require(wTot > 0.0, "seed weights must have positive total mass")
    // t_p = w/Σw on seeds; the whitelist is broadcast-small by premise
    val seedsN = Cut(seeds.select(col("p"), (col("w") / wTot).as("t")))
    // intermediate rank frames hold only REACHED parts: a part with zero
    // rank contributes exactly zero to every walk sum, so dropping it is
    // exact — the full part set is restored once, on the final output.
    // Each round: two equi joins over checkpointed edges + one broadcast
    // left join to re-attach the (tiny) teleport column.
    var rank = seedsN.select(col("p"), col("t").as("r"))
    for (_ <- 1 to iters) {
      val walkToO = edgesF.join(rank.select(col("p"), col("r")), Seq("p"))
        .groupBy(col("o")).agg(sum(col("r") / col("dp")).as("qo"))
      rank = edgesF.join(walkToO, Seq("o"))
        .groupBy(col("p"))
        .agg((lit(damping) * sum(col("qo") / col("dn"))).as("rd"))
        .join(broadcast(seedsN), Seq("p"), "left")
        .select(col("p"),
          (lit(teleport) * coalesce(col("t"), lit(0.0)) + col("rd")).as("r"))
    }
    edgesF.select(col("p"), col("dp")).distinct()
      .join(rank, Seq("p"), "left")
      .select(col("p"), col("dp"), coalesce(col("r"), lit(0.0)).as("r"))
  }
}
