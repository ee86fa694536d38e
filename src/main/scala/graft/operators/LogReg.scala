package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cut

/** In-engine TRAINER for the hashed linear classifier — the missing
  * training half of the model-based family: [[HashedLinearModel]]
  * scores with md5-derived stand-in weights ("production swaps in
  * learned weights"); this trains those weights, closing the
  * FineWeb-Edu/DCLM loop (teacher labels → linear student over the
  * Weinberger hashing-trick feature space → corpus-scale keep/drop)
  * without leaving the engine.
  *
  * Full-batch gradient descent with the HARD-sigmoid link
  * σ_h(x) = clip(1/2 + x/4, 0, 1) — the piecewise-linear logistic of
  * quantized training (Courbariaux et al. 2015 BinaryConnect use
  * exactly this link; slope 1/4 matches the logistic's derivative at
  * 0). The hard link is what closes the ENTIRE training loop over
  * exact integer arithmetic: labels scale to M = 2^[[MScale]], weights
  * live on the 2^-[[WScale]] dyadic lattice, the learning rate is a
  * power of two, and every step is integer sums plus one truncating
  * DIV (Spark `DIV` and DuckDB `//` both truncate toward zero) — so a
  * trained-model query carries a HASH-MATCHED oracle with the rounds
  * unrolled as CTEs (the q139 fixed-unroll precedent) and no cross-row
  * float sum anywhere. Production swaps σ_h for the float sigmoid —
  * the update differs only in the link's value; the per-round plan is
  * identical.
  *
  * Scale shape (the KMeans/WalkRank iteration contract): the labeled
  * feature frame is checkpointed ONCE — per-round work never re-reads
  * or re-tokenizes the corpus. Each round is exactly
  *   1. one join of features against the O(dims)-bounded weight frame
  *      (broadcast — a MODEL frame bounded by the dims hyperparameter,
  *      not a corpus census, so the forced hint is allowed by the
  *      broadcast-audit rule; fastText-scale 2M buckets ≈ 32 MB),
  *   2. one doc-keyed hash agg (logit + residual),
  *   3. one shuffle join of the O(docs) residuals back onto the
  *      feature frame (corpus-tracking — NO hint, AQE decides),
  *   4. one bucket-keyed hash agg (the gradient, O(dims) rows),
  * and the new weight frame is cut through [[graft.core.Cut]] (O(dims)
  * rows). Overflow headroom: gradients
  * sum r·c with |r| ≤ 2^20, so ~10^13 corpus positions stay inside a
  * long with two decades to spare; per-doc logits are bounded by
  * docLen · 2^[[WMaxLog2]] · 2^10 ≈ 2^48 at 10k-token docs.
  */
object LogReg {

  /** Weight lattice: weights are integer multiples of 2^-WScale. */
  val WScale = 8
  /** Probability/label scale: labels and σ_h live in units of
    * 2^-MScale (y=1 ↦ 2^MScale). */
  val MScale = 20
  /** Weight clamp (lattice units): |w| ≤ 2^WMaxLog2 keeps logits and
    * gradient products far from Long range at any corpus size. */
  val WMaxLog2 = 24

  /** Hashed bag-of-buckets features: one row per (doc, bucket) with the
    * integer token count — or presence 1 when `binary` (the fastText
    * default; presence features collapse the document-length direction
    * that dominates count features and measurably speeds separation on
    * shared-vocabulary corpora) — plus an intercept row (b = -1, c = 1)
    * per doc. `toks` carries one row per (doc, token). */
  def features(toks: DataFrame, idCol: String, tokCol: String, dims: Int,
      salt: String = "hlm", binary: Boolean = false): DataFrame = {
    val keyed = toks
      .select(col(idCol), HashedLinearModel.bucket(col(tokCol), dims, salt).as("b"))
    val f =
      if (binary) keyed.distinct().select(col(idCol), col("b"), lit(1L).as("c"))
      else keyed.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
    f.unionByName(
      toks.select(col(idCol)).distinct()
        .select(col(idCol), lit(-1L).as("b"), lit(1L).as("c")))
  }

  /** Class-balanced integer document weights (sklearn's
    * class_weight='balanced' on an 8x integer lattice):
    * wt_y = (8N) DIV (2·n_y), so both classes contribute comparable
    * residual mass to every gradient — without it, a rare-positive
    * teacher (the FineWeb-Edu regime: few high-quality docs) trains to
    * the majority class. Exact integers; returns (idCol, y, wt). */
  def balancedLabels(labels: DataFrame, idCol: String): DataFrame = {
    val cls = labels.groupBy(col("y")).agg(count(lit(1)).as("__ny"))
    val n = labels.agg(count(lit(1)).as("__n"))
    labels.join(broadcast(cls), Seq("y"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("y"),
        expr("(__n * 8) DIV (2 * __ny)").as("wt"))
  }

  /** Train `iters` full-batch rounds over `feats` ((idCol, b, c) from
    * [[features]]) against `labels` ((idCol, y) with y ∈ {0, 1}, plus
    * an integer per-doc weight column when `weightCol` is set — see
    * [[balancedLabels]]). η = 2^etaLog2 (dyadic, ≤ 2^(MScale-WScale) so
    * the update divisor stays integral); with `decay` the rate halves
    * every round (η_t = 2^(etaLog2-t)) — full-batch steps on a
    * saturating link oscillate at constant rate, and dyadic halving
    * damps the oscillation while staying exact (measured: presence
    * features + balanced weights + halving reach 100% on the separable
    * fixture by round 6 where constant-rate configs ring between the
    * two class-majority predictions indefinitely). Returns the SPARSE
    * weight frame (b, w): missing bucket = weight 0, b = -1 the
    * intercept, w in 2^-WScale lattice units. Deterministic: every
    * quantity is an exact integer, so the result is independent of
    * partitioning, merge order, and retries. */
  def train(feats: DataFrame, labels: DataFrame, idCol: String,
      iters: Int, etaLog2: Int = 0, decay: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    require(etaLog2 <= MScale - WScale,
      s"etaLog2 must be <= ${MScale - WScale} (got $etaLog2)")
    val spark = feats.sparkSession
    val half = 1L << (MScale - 1)
    val slope = 1L << (MScale - WScale - 2) // σ_h slope 1/4 in M units
    val m = 1L << MScale
    val wmax = 1L << WMaxLog2
    val wtCol = weightCol.map(col).getOrElse(lit(1L))
    // labels fold into the checkpointed feature frame ONCE
    val lf = feats
      .join(labels.select(col(idCol),
        (col("y").cast("long") * m).as("__ym"),
        wtCol.cast("long").as("__wt")), Seq(idCol))
      .select(col(idCol).as("__id"), col("b").cast("long").as("b"),
        col("c").cast("long").as("c"), col("__ym"), col("__wt"))
      .transform(Cut(_))
    // gradient normalizer = total residual mass: the intercept rows are
    // exactly one per doc, so this sums each doc's weight once
    val wTot = lf.where(col("b") === -1L)
      .agg(coalesce(sum(col("__wt")), lit(0L))).head().getLong(0)
    var w: DataFrame = spark.range(0)
      .select(col("id").as("b"), col("id").as("w"))
    // an empty training set trains to all-zero weights — the empty
    // sparse frame (missing bucket = 0), not an error: a gate trained
    // on no data passes everything at logit 0, and empty-input sweeps
    // (EmptyInputSpec) must run every query end to end. Loudly, though
    // (round-8 ADVICE): an ACCIDENTALLY empty label join — a broken
    // key in a caller — would otherwise silently ship a pass-everything
    // gate.
    if (wTot == 0) {
      System.err.println("[LogReg] WARNING: empty training set (no " +
        "labeled feature rows) — returning all-zero weights; a gate " +
        "built from them keeps EVERYTHING at logit 0. If the input was " +
        "not meant to be empty, check the label join key.")
      return w
    }
    for (it <- 0 until iters) {
      val shift = MScale - WScale - etaLog2 + (if (decay) it else 0)
      val denom = wTot * (1L << shift)
      val logit = lf.join(broadcast(w), Seq("b"), "left")
        .groupBy(col("__id"))
        .agg(max(col("__ym")).as("__ym"), max(col("__wt")).as("__wt"),
          sum(col("c") * coalesce(col("w"), lit(0L))).as("__l"))
      val pm = least(greatest(lit(half) + col("__l") * lit(slope), lit(0L)),
        lit(m))
      val resid = logit.select(col("__id"),
        ((col("__ym") - pm) * col("__wt")).as("__r"))
      val grad = lf.join(resid, Seq("__id"))
        .groupBy(col("b"))
        .agg(sum(col("c") * col("__r")).as("__g"))
      // Δw = (η_t · weighted mean gradient) on the lattice:
      // g DIV (W · 2^shift) — exact; both engines truncate toward zero
      val upd = grad.select(col("b"),
        expr(s"__g DIV CAST($denom AS BIGINT)").as("__d"))
      w = w.join(upd, Seq("b"), "full_outer")
        .select(col("b"),
          least(greatest(coalesce(col("w"), lit(0L)) +
            coalesce(col("__d"), lit(0L)), lit(-wmax)), lit(wmax)).as("w"))
        .where(col("w") =!= 0L) // keep the frame sparse
        .transform(Cut(_))
    }
    w
  }

  /** Per-doc logit under trained weights, in 2^-WScale lattice units:
    * (idCol, logit_w). p ≥ 1/2 ⟺ logit_w ≥ 0 (σ_h and the sigmoid are
    * both monotone with σ(0) = 1/2), so thresholding logit_w IS
    * thresholding the probability — the [[HashedLinearModel]]
    * contract. */
  def score(feats: DataFrame, weights: DataFrame, idCol: String): DataFrame =
    feats.join(broadcast(weights), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("c") * coalesce(col("w"), lit(0L))).as("logit_w"))
}
