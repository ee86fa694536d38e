package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Connected components over an edge list — the dedup-CLUSTERING step of
  * a training-data pipeline: near-dup pair lists (q47-q50) become
  * canonical clusters, and "keep the minimum id per cluster" is then an
  * EXACT dedup policy (full transitive closure), the exact-recall
  * complement to [[NearDup.lshDropIds]]'s bucket-local min-neighbor
  * suppression (which trades recall for a join-free plan).
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round every node takes the minimum label among
  * itself and its neighbors; fixpoint = each node holds the minimum id
  * of its component. Rounds needed = graph diameter. Each round is ONE
  * shuffle (join edges with labels + min-agg) over O(|E|) rows, and each
  * round's result is cut through [[graft.core.Cut]]: iterative
  * DataFrame loops otherwise stack lineage until planning itself
  * dominates. For adversarial diameters (long chains) switch to
  * [[alternatingStar]], whose round count is O(log n) regardless of diameter —
  * near-dup graphs in practice are dense cliques with tiny diameters, so
  * plain propagation converges in a handful of rounds.
  */
object ConnectedComponents {

  /** (id, comp) for every node appearing in `edges`, comp = min node id
    * of the component. Isolated nodes (no edges) are absent by
    * construction — union the node table back in if singletons matter.
    * Fails loudly after `maxIter` rounds rather than returning a
    * silently-unfinished labeling. */
  def minLabel(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val sym = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .union(edges
        .select(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b")))
      .where(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .transform(Cut(_)) // reused every round — scan the pair join once
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(Cut(_))
    var iter = 0
    var converged = sym.isEmpty
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("comp")).as("nmin"))
      val next = labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
        .select(labels("id").as("id"),
          least(labels("comp"), coalesce(col("nmin"), labels("comp"))).as("comp"),
          labels("comp").as("prev"))
        .transform(Cut(_))
      converged = next.where(col("comp") < col("prev")).isEmpty
      labels = next.drop("prev")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(diameter too large — use alternatingStar)")
    labels
  }

  /** Connected components over a BIPARTITE membership list (id, bucket):
    * ids are connected iff they share a bucket. Components equal
    * [[minLabel]] over the explicit pair list "share ≥ 1 bucket" — but
    * NO pair list is ever materialized: each round is two grouped
    * min-joins over O(|memberships|) rows, so a clique of c members in
    * one bucket costs c rows per round instead of c² pair rows up
    * front. This is the 100 TB form for dedup clustering, where the
    * membership list is exactly [[NearDup.lshBands]]'s output.
    *
    * Single-member buckets are dropped up front, so the node set
    * matches the pair graph's (ids with no partner are absent — same
    * contract as minLabel over pairs). A full round propagates labels
    * two pair-graph hops (id → bucket → id); near-dup graphs are
    * bucket-cliques with tiny diameters, so a handful of rounds
    * converge, and the same [[alternatingStar]] escape hatch applies past
    * `maxIter`. */
  def minLabelByBucket(memberships: DataFrame, idCol: String,
      bucketCol: String, maxIter: Int = 25): DataFrame = {
    val m = memberships
      .select(col(idCol).cast("long").as("id"), col(bucketCol).as("bkt"))
      .where(col("id").isNotNull && col("bkt").isNotNull)
      .distinct()
    val multi = m.groupBy(col("bkt")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2).select(col("bkt"))
    val mm = Cut(m.join(multi, Seq("bkt"), "left_semi"))
    var labels = mm.select(col("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(Cut(_))
    var iter = 0
    var converged = mm.isEmpty
    while (!converged && iter < maxIter) {
      val bucketMin = mm.join(labels, Seq("id"))
        .groupBy(col("bkt")).agg(min(col("comp")).as("bmin"))
      val idMin = mm.join(bucketMin, Seq("bkt"))
        .groupBy(col("id")).agg(min(col("bmin")).as("nmin"))
      val next = labels.join(idMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          col("comp").as("prev"))
        .transform(Cut(_))
      converged = next.where(col("comp") < col("prev")).isEmpty
      labels = next.drop("prev")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"bipartite connected components did not converge in $maxIter rounds")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): converges in O(log n) rounds REGARDLESS of graph
    * diameter — the form [[minLabel]]'s scaladoc points to for
    * adversarial chains, where plain min-propagation needs
    * diameter-many rounds.
    *
    *   large-star(u): every neighbor v > u re-attaches to
    *     m = min(Γ(u) ∪ {u});
    *   small-star(u): every neighbor v < u, and u itself, attach to m.
    *
    * Each half-round is one grouped min + one join over O(|E|) rows;
    * at the fixpoint the edge set is a union of stars centered at
    * component minima, so the labeling is one final grouped least().
    * Returns (id, comp) with comp = component minimum — identical
    * contract (and spec-proven identical output) to [[minLabel]]. */
  def alternatingStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, onRound: Int => Unit = _ => ()): DataFrame = {
    var e = edges
      .select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .transform(Cut(_))

    // one star half-round: re-attach the selected neighbors to
    // m(u) = min(Γ(u) ∪ {u}); keepLarger selects v > u (large) or v < u
    // plus u itself (small)
    def halfRound(cur: DataFrame, large: Boolean): DataFrame = {
      val nbrs = cur.select(col("u").as("a"), col("v").as("b"))
        .union(cur.select(col("v").as("a"), col("u").as("b")))
      val m = nbrs.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
      val attach =
        if (large)
          nbrs.join(m, Seq("a")).where(col("b") > col("a"))
            .select(col("m").as("u"), col("b").as("v"))
        else
          nbrs.join(m, Seq("a")).where(col("b") < col("a"))
            .select(col("m").as("u"), col("b").as("v"))
            .union(m.select(col("m").as("u"), col("a").as("v")))
      attach
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .transform(Cut(_))
    }

    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      val next = halfRound(halfRound(e, large = true), large = false)
      converged = next.count() == e.count() && next.except(e).isEmpty
      e = next
      iter += 1
      onRound(iter)
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating-star did not converge in $maxIter rounds")
    // stars: comp(x) = least(x, min neighbor)
    e.select(col("u").as("id"), col("v").as("nb"))
      .union(e.select(col("v").as("id"), col("u").as("nb")))
      .groupBy(col("id"))
      .agg(least(min(col("nb")), col("id")).as("comp"))
  }
}
