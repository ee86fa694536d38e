package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Cut, Tables}
import graft.functions.VectorFunctions._
import graft.operators.VectorIndex

/** Similarity search over the `embeddings` table (SURVEY H-8):
  * brute-force cosine top-k as the exactness baseline, and two scale
  * paths — random-hyperplane LSH buckets and an IVF (inverted-file)
  * skeleton with computed centroids and 2-probe search.
  *
  * Scale design: the query side is always the tiny relation and is
  * broadcast; the big side is scanned once. The LSH/IVF variants cut the
  * candidate set per query from |all| to |bucket| — the bucket id is a
  * join key, so at 100 TB the probe is a shuffle-free broadcast join
  * against a bucket-partitioned table.
  */
object SimilarityQueries extends QueryPack {

  private val NQ = 5   // query vectors: vec_id < 5
  private val TOPK = 5
  private val DIM = 64
  private val NPLANES = 8

  /** Deterministic ±1 hyperplane matrix derived from md5(p+"_"+j): both
    * engines receive it as an inlined literal, so no cross-engine hashing
    * is involved at query time. */
  private[queries] val planes: Seq[Seq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NPLANES).map { p =>
      (0 until DIM).map { j =>
        val hex = md.digest(s"${p}_$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (Integer.parseInt(hex.substring(0, 1), 16) < 8) 1 else -1
      }
    }
  }

  /** Signed projection of an embedding onto plane p (double precision,
    * left-to-right sum — identical in DuckDB). Uses the codegen'd native
    * dot product; the ±1 plane is a float-array literal. */
  private def proj(v: org.apache.spark.sql.Column, p: Int) =
    dot(v, array(planes(p).map(w => lit(w.toFloat)): _*))

  /** Band key over planes [lo, hi): bit (p-lo) set when the projection
    * onto plane p is ≥ 0. The full-width key is the ANN bucket id; narrow
    * slices are the recall-tunable bands of the near-dup blocker (q50). */
  private[queries] def bandKey(v: org.apache.spark.sql.Column, lo: Int, hi: Int) =
    (lo until hi).map(p =>
      when(proj(v, p) >= 0, lit(1L << (p - lo))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** LSH bucket id: all 8 plane sign bits. */
  private def bucketId(v: org.apache.spark.sql.Column) = bandKey(v, 0, NPLANES)

  /** DuckDB mirror of [[bandKey]]: plane literals inlined as list
    * constants, identical double-precision projection arithmetic. */
  private[queries] def duckBandKey(lo: Int, hi: Int, col: String = "embedding"): String =
    (lo until hi).map { p =>
      val arr = planes(p).mkString("[", ",", "]")
      s"""CASE WHEN list_sum(list_transform(range(1, ${DIM + 1}),
         |  i -> $col[i]::DOUBLE * ($arr)[i]::DOUBLE)) >= 0
         |THEN CAST(${1L << (p - lo)} AS BIGINT) ELSE CAST(0 AS BIGINT) END""".stripMargin
    }.mkString(" + ")

  /** Brute-force cosine top-k: every query vector against every other
    * vector, rank by cosine (rounded to 6 for a stable cross-engine
    * order) with vec_id as the tie-break. */
  private val q51: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val scored = broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= TOPK)
      .select($"q_id", $"rnk".cast("long").as("rnk"), $"n_id", $"cos")
      .orderBy($"q_id", $"rnk")
  }

  /** LSH-bucketed ANN: assign every vector an 8-plane bucket id, then
    * search each query only within its own bucket (top-3). */
  private val q52: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", bucketId($"embedding").as("bucket"),
        l2norm($"embedding").as("nrm"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"bucket",
        $"nrm".as("q_nrm"))
    val scored = broadcast(q).join(e, Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"q_id", $"rnk".cast("long").as("rnk"), $"n_id", $"cos")
      .orderBy($"q_id", $"rnk")
  }

  /** IVF skeleton: centroids = per-label mean vector (the "coarse
    * quantizer" — at scale these come from k-means: the deterministic
    * Lloyd trainer is [[graft.operators.KMeans.lloyd]], whose cluster
    * ids play exactly this label's role), each query probes its top-2
    * nearest centroids and searches only those lists (top-3).
    * Exercises posexplode → per-dimension agg → re-assembled vector. */
  private val q53: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cent = e.select($"label", posexplode($"embedding"))
      .groupBy($"label", $"pos")
      // round(6) kills partial-agg summation-order noise so both engines
      // see bit-identical centroids
      .agg(round(avg($"col".cast("double")), 6).as("v"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"v"))).as("pv"))
      .select($"label".as("c_label"),
        transform($"pv", x => x.getField("v")).as("c_emb"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wc = Window.partitionBy($"q_id")
      .orderBy(round(cosine($"q_emb", $"c_emb"), 6).desc, $"c_label")
    val probes = broadcast(q).crossJoin(broadcast(cent))
      .withColumn("crnk", row_number().over(wc))
      .filter($"crnk" <= 2)
      .select($"q_id", $"q_emb", $"c_label")
    val en = e.select($"vec_id", $"label", $"embedding",
      l2norm($"embedding").as("nrm"))
    val scored = probes
      .withColumn("q_nrm", l2norm($"q_emb"))
      .join(en, $"label" === $"c_label" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"q_id", $"rnk".cast("long").as("rnk"), $"n_id", $"cos")
      .orderBy($"q_id", $"rnk")
  }

  /** Int8 symmetric quantization of the embedding column (the compression
    * step before shipping vectors to an ANN index): per vector,
    * scale = max|x|, q = floor(x/scale·127 + 0.5) — already in [-127,127]
    * since x/scale ∈ [-1,1], so no clamp — and the per-element squared
    * reconstruction error is reported as exact integer picounits
    * (floor(err·1e12)); the sum is a long, so no float aggregation
    * order-noise can flip the hash. Shape: posexplode + per-vector window
    * max + one grouped agg — shuffles only on vec_id/label, codegen'd
    * end to end. */
  private val q91: Q = (s, d) => {
    import s.implicits._
    val ex = Tables.embeddings(s, d)
      .where($"embedding".isNotNull)
      .select($"label", $"vec_id", posexplode($"embedding"))
      .toDF("label", "vec_id", "pos", "x")
    val w = Window.partitionBy($"vec_id")
    // max over FLOATs, cast to double after — both engines see the exact
    // same scale value
    val withM = ex.withColumn("mx", max(abs($"x")).over(w)).where($"mx" > 0)
    val xd = $"x".cast("double")
    val md = $"mx".cast("double")
    val qv = floor(xd / md * 127 + 0.5)
    val err = (xd - qv * md / 127) * (xd - qv * md / 127)
    withM
      .select($"label", $"vec_id", floor(err * 1e12).cast("long").as("epico"))
      .groupBy($"label")
      .agg(
        countDistinct($"vec_id").as("n_vecs"),
        count(lit(1)).as("n_elems"),
        sum($"epico").as("sum_err_pico"))
      .orderBy($"label")
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the 3 most-similar vectors carrying a DIFFERENT label — the
    * negatives that actually teach a contrastive model, vs q125's
    * uniform ring negatives. Same broadcast-probe plan as q51 (anchors
    * broadcast, one scan of the corpus, per-anchor top-k window); at
    * production scale the corpus side routes through the IVF probe
    * (q53) instead of the full scan, with identical output contract. */
  private val q131: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding", l2norm($"embedding").as("nrm"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val scored = broadcast(q).join(e, $"label" =!= $"q_label")
      .select($"q_id", $"vec_id".as("n_id"), $"label".cast("long").as("n_label"),
        round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"n_id")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"q_id", $"rnk".cast("long").as("rnk"), $"n_id", $"n_label", $"cos")
      .orderBy($"q_id", $"rnk")
  }

  /** Embedding-space health report per label — the diagnostic an
    * embedding pipeline publishes before anyone trains on the vectors:
    * per-class centroid norm, mean cosine of members to their own
    * centroid (cohesion), and the nearest other centroid with its cosine
    * (separation — the confusable class).
    *
    * Scale shape: the only pass over the big table is one narrow
    * posexplode + a (label, dim)-keyed partial agg — O(labels·dim)
    * output — plus one broadcast join of the O(labels) centroid frame
    * for the per-row cosine; the centroid×centroid separation matrix is
    * O(labels²) rows of pure arithmetic. Nothing collects to the driver.
    *
    * Cross-engine float contract: centroids are EXACT — each component
    * is widened float→double (exact), scaled by 2²⁰, rounded to an
    * integer, and integer-summed (order-independent), so both engines
    * derive bit-identical centroid arrays; every cosine after that is
    * the q51 sequential-double contract, and the per-label mean follows
    * the q43/q76 integer-micro-unit pattern. */
  private val q181: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .where($"label".isNotNull && $"embedding".isNotNull)
    val comp = e
      .select($"label", posexplode($"embedding"))
      .toDF("label", "i", "v")
      .groupBy($"label", $"i")
      .agg(sum(round($"v".cast("double") * 1048576).cast("long")).as("sv"),
        count(lit(1)).as("n"))
    val cent = comp
      .select($"label", $"i",
        ($"sv".cast("double") / ($"n" * 1048576.0)).as("c"), $"n")
      .groupBy($"label")
      .agg(sort_array(collect_list(struct($"i", $"c"))).getField("c")
          .as("centroid"),
        max($"n").as("n_vecs"))
    val own = e.join(broadcast(cent.select($"label", $"centroid")), Seq("label"))
      .select($"label",
        round(dot($"embedding", $"centroid") /
          (l2norm($"embedding") * l2norm($"centroid")), 6).as("cos"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(round($"cos" * 1000000).cast("long")) /
          (count(lit(1)) * 1000000.0), 4).as("avg_cos"))
    val sep = cent.as("a").join(cent.as("b"), $"a.label" =!= $"b.label")
      .select($"a.label".as("label"), $"b.label".as("other"),
        round(dot($"a.centroid", $"b.centroid") /
          (l2norm($"a.centroid") * l2norm($"b.centroid")), 6).as("ccos"))
    val wNn = Window.partitionBy($"label").orderBy($"ccos".desc, $"other")
    val nn = sep.withColumn("rk", row_number().over(wNn)).filter($"rk" === 1)
      .select($"label", $"other".cast("long").as("nn_label"),
        $"ccos".as("nn_cos"))
    own
      .join(cent.select($"label",
        round(l2norm($"centroid"), 6).as("centroid_norm")), Seq("label"))
      .join(nn, Seq("label"))
      .select($"label".cast("long").as("label"), $"n_vecs", $"centroid_norm",
        $"avg_cos", $"nn_label", $"nn_cos")
      .orderBy($"label")
  }

  /** SSL-prototypes data pruning (Sorscher et al. NeurIPS'22, "Beyond
    * neural scaling laws"): in the abundant-data regime, the examples
    * worth DROPPING are the most prototypical — closest to their
    * cluster's centroid — because they carry the least marginal signal.
    * Cells here are the 4-bit hyperplane sign key (engine-replicable, so
    * the whole path is oracle-gated; production swaps in
    * [[graft.operators.SemDeDup.kmeansCells]] exactly as q173 does);
    * per cell the top ⌈n/4⌉ by centroid-cosine is the prune set:
    * (cell, prank, vec_id, proto_cos).
    *
    * Scale shape: centroids come from q181's exact integer pattern (one
    * narrow posexplode + (cell, dim)-keyed partial agg — components
    * quantized ×2²⁰ and integer-summed, so both engines derive
    * bit-identical centroid arrays regardless of row order); the scoring
    * pass is one broadcast join of the O(cells·dim) centroid frame. The
    * per-cell rank is WINDOW-FREE: cells are corpus-scale partitions (16
    * cells over 100 TB), so a cell-partitioned window would funnel ~6 TB
    * through single tasks — instead one global two-pass
    * [[graft.functions.DistributedRank]] over the combined numeric key
    * `cell·4 + (1 − cos)` (monotone in (cell, cos desc); the +[0,2]
    * cosine range never crosses the ·4 cell stride) minus each cell's
    * exclusive prefix count (an O(cells) triangular broadcast join, the
    * DistributedRank offset trick). The quartile cut is the pure integer
    * predicate `4·prank ≤ n+3` ⇔ prank ≤ ⌈n/4⌉ — no float crosses the
    * keep decision. */
  private val q186: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull)
      .select($"vec_id", $"embedding", bandKey($"embedding", 0, 4).as("cell"))
    graft.operators.PrototypePrune.ranked(e, "vec_id", "embedding", "cell")
      .where($"prank" * 4 <= $"cn" + 3)
      .select($"cell", $"prank", $"vec_id", $"proto_cos")
      .orderBy($"cell", $"prank")
  }

  /** Matryoshka truncated-dimension recall eval (Kusupati et al.
    * NeurIPS'22, "Matryoshka Representation Learning"): before serving a
    * cheaper prefix of the embedding, measure what retrieval loses —
    * for each query, top-5 by full 64-dim cosine vs top-5 by the first
    * 8/16/32 dims; output per (q_id, d) the overlap count (recall@5
    * numerator, an exact integer).
    *
    * Scale shape: ONE corpus scan scores every dim tier in the same
    * codegen stage (prefix dots via slice — no per-tier rescan); per
    * (query, tier) top-5 runs through the bounded-state
    * [[graft.functions.TopKAggregator]] (each task reduces its slice to
    * ≤ 5 rows BEFORE the exchange — a (q_id, d)-partitioned window would
    * funnel the whole corpus through NQ·|dims| tasks). Scores cross the
    * aggregator as integer cosine micro-units, so ordering is
    * deterministic across engines and partition orders; the final grid
    * left-join keeps zero-overlap tiers visible. */
  private val q187: Q = (s, d) => {
    import s.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val dims = Seq(8, 16, 32, 64)
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull)
      .select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val scored = broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .select($"q_id" +: $"vec_id".as("n_id") +: dims.map { dd =>
        val a = slice($"q_emb", 1, dd)
        val b = slice($"embedding", 1, dd)
        round(round(dot(a, b) / (l2norm(a) * l2norm(b)), 6) * 1000000)
          .cast("long").as(s"c_$dd")
      }: _*)
    val topk = scored
      .select($"q_id", $"n_id", explode(array(dims.map(dd =>
        struct(lit(dd).as("d"), col(s"c_$dd").as("cu"))): _*)).as("x"))
      .select(concat_ws("|", $"q_id", $"x.d").as("k"),
        struct($"n_id".as("id"), $"x.cu".as("score")).as("s"))
      .as[(String, ScoredId)]
      .groupByKey(_._1)
      .agg(new TopKAggregator(TOPK).toColumn.name("top"))
      .flatMap { case (k, hits) =>
        val Array(qid, dd) = k.split('|')
        hits.iterator.map(h => (qid.toLong, dd.toLong, h.id))
      }.toDF("q_id", "d", "n_id")
    val full = topk.where($"d" === 64).select($"q_id", $"n_id")
    val hits = topk.where($"d" =!= 64)
      .join(full, Seq("q_id", "n_id"))
      .groupBy($"q_id", $"d")
      .agg(count(lit(1)).as("hits"))
    val grid = q.select($"q_id")
      .crossJoin(dims.filter(_ != 64).map(_.toLong).toDF("d"))
    grid.join(hits, Seq("q_id", "d"), "left")
      .select($"q_id", $"d", coalesce($"hits", lit(0L)).as("hits"))
      .orderBy($"q_id", $"d")
  }

  /** Greedy k-center coreset selection (Gonzalez '85 farthest-first —
    * the 2-approximation; the diversity-based data-selection primitive:
    * each pick is the example FARTHEST from everything already kept, so
    * k points cover the embedding space with provably ≤2× the optimal
    * radius). Seed = min vec_id (deterministic); each step emits
    * (step, vec_id, radius) where radius is the selected point's
    * min-distance to the prior centers — the classic decreasing coverage
    * curve a curation run plots to choose k.
    *
    * Scale shape: the bounded driver loop of KMeans/BpeTrainer — k−1
    * iterations, each ONE narrow corpus scan (cosine distances to ≤k
    * driver-collected centers as inlined literal arrays — KB-sized, no
    * join) closed by a TakeOrdered(1); nothing but single rows ever
    * collects. At production k (thousands) the same selection sequence
    * runs with a Cut running-min column (one narrow pass
    * per pick instead of re-evaluating k literal dots); the fixture form
    * keeps the plan stateless. Distances are round-6 so the argmax order
    * is the q51 cross-engine double contract. */
  private val q188: Q = (s, d) => {
    import s.implicits._
    val kSel = 6
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull)
      .select($"vec_id", $"embedding")
    val seed = e.orderBy($"vec_id").limit(1).collect()
    if (seed.isEmpty) {
      e.select(lit(0L).as("step"), $"vec_id", lit(0.0).as("radius"))
        .where(lit(false))
    } else {
      def centerCol(c: Array[Float]) = array(c.map(f => lit(f)): _*)
      def distTo(c: Array[Float]) = {
        val cc = centerCol(c)
        round(lit(1.0) - dot($"embedding", cc) /
          (l2norm($"embedding") * l2norm(cc)), 6)
      }
      var centers =
        Vector((seed(0).getLong(0), seed(0).getSeq[Float](1).toArray))
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
        (0L, centers.head._1, None))
      var i = 1
      var exhausted = false
      while (i < kSel && !exhausted) {
        val mind = centers.map(c => distTo(c._2)).reduce(least(_, _))
        val top = e.where(!$"vec_id".isInCollection(centers.map(_._1)))
          .select($"vec_id", $"embedding", mind.as("mind"))
          .orderBy($"mind".desc, $"vec_id").limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          centers :+= ((top(0).getLong(0), top(0).getSeq[Float](1).toArray))
          picks += ((i.toLong, top(0).getLong(0), Some(top(0).getDouble(2))))
        }
        i += 1
      }
      picks.toSeq.toDF("step", "vec_id", "radius").orderBy($"step")
    }
  }

  /** Label-noise screen (confident-learning-lite, Northcutt et al.
    * JAIR'21's intuition on embedding geometry): a vector whose cosine
    * to its OWN label's centroid sits far below the label's typical
    * cohesion is a mislabel candidate. Flag members more than 2σ below
    * the label mean — entirely in INTEGER arithmetic: cosines quantize
    * to milli-units x, and the 2σ test (x−μ)² > 4σ² becomes the pure
    * integer predicate (x·n − S)² > 4·(n·Q − S²) with S=Σx, Q=Σx²
    * (exact under any partitioning / engine; magnitudes bounded ≲1e9·n
    * — documented safe to n≈10⁶ members per label, beyond which the
    * milli grid coarsens one notch). Output: flagged (label, vec_id,
    * cos_milli, dev_ppm) where dev_ppm = (S−x·n)·10⁶ DIV n·1000 — how
    * many milli-cosines below the mean, as ppm of the cosine scale.
    *
    * Scale shape: q181's integer-exact centroids (one narrow posexplode
    * + (label, dim) partial agg), one broadcast join for the member
    * cosine pass, one O(labels) moment frame broadcast back for the
    * test — the corpus is scanned twice and never shuffled on a
    * corpus-scale key. */
  private val q192: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .where($"label".isNotNull && $"embedding".isNotNull && $"vec_id".isNotNull)
    val comp = e
      .select($"label", posexplode($"embedding"))
      .toDF("label", "i", "v")
      .groupBy($"label", $"i")
      .agg(sum(round($"v".cast("double") * 1048576).cast("long")).as("sv"),
        count(lit(1)).as("n"))
    val cent = comp
      .select($"label", $"i", ($"sv".cast("double") / ($"n" * 1048576.0)).as("c"))
      .groupBy($"label")
      .agg(sort_array(collect_list(struct($"i", $"c"))).getField("c")
        .as("centroid"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .select($"label", $"vec_id",
        round(round(dot($"embedding", $"centroid") /
          (l2norm($"embedding") * l2norm($"centroid")), 6) * 1000)
          .cast("long").as("x"))
    val mom = scored.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"x").as("ss"),
        sum($"x" * $"x").as("qq"))
    scored.join(broadcast(mom), Seq("label"))
      .where(($"x" * $"n" - $"ss") < 0 &&
        ($"x" * $"n" - $"ss") * ($"x" * $"n" - $"ss") >
          lit(4L) * ($"n" * $"qq" - $"ss" * $"ss"))
      .select($"label".cast("long").as("label"), $"vec_id",
        $"x".as("cos_milli"),
        expr("((ss - x * n) * 1000000) DIV (n * 1000)").as("dev_ppm"))
      .orderBy($"label", $"vec_id")
  }

  /** Retrieval-eval metrics — MRR and nDCG@10 per query (the numbers a
    * retrieval stack reports before swapping rankers; complements q187's
    * overlap-recall): ground truth is label agreement, the ranking is
    * the q51 cosine order. MRR ships EXACT (10⁶ DIV first-relevant
    * rank); nDCG@10 is Σ relᵢ/log2(i+1) over the top 10 normalized by
    * the ideal prefix — ≤10 log2 terms of exact integers per query
    * (q136/q150 ln-parity + q146's bounded-sum rationale), rounded 4.
    * IDCG uses the corpus-true relevant count (same-label size − 1)
    * capped at 10, so a query with fewer than 10 relevant docs is not
    * penalized for the impossible.
    *
    * Scale shape: scoring is the q51 broadcast-probe scan; top-10 per
    * query via the bounded-state TopKAggregator (map-side ≤10 rows per
    * task — no corpus window); labels join back onto the O(queries·10)
    * result; label sizes are an O(labels) broadcast census. */
  private val q197: Q = (s, d) => {
    import s.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull && $"label".isNotNull)
      .select($"vec_id", $"label", $"embedding", l2norm($"embedding").as("nrm"))
    val q = e.filter($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val topk = broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .select($"q_id".cast("string").as("k"),
        struct($"vec_id".as("id"),
          round(round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6)
            * 1000000).cast("long").as("score")).as("s"))
      .as[(String, ScoredId)]
      .groupByKey(_._1)
      .agg(new TopKAggregator(10).toColumn.name("top"))
      .flatMap { case (k, hits) =>
        hits.iterator.zipWithIndex.map { case (h, i) =>
          (k.toLong, (i + 1).toLong, h.id)
        }
      }.toDF("q_id", "rnk", "n_id")
    val labeled = topk
      .join(e.select($"vec_id".as("n_id"), $"label".as("n_label")), Seq("n_id"))
      .join(broadcast(q.select($"q_id", $"q_label")), Seq("q_id"))
      .select($"q_id", $"rnk", ($"n_label" === $"q_label").cast("long").as("rel"))
    val sizes = e.groupBy($"label").agg(count(lit(1)).as("lsz"))
    // ideal-prefix discount sum computed IN-QUERY from exploded ranks
    // (O(queries·10) rows) — no driver-side float constant crosses the
    // engine boundary; both engines sum the same ≤10 log2 terms
    // lsz > 1 guard: a 1-member label has zero relevant neighbors —
    // Spark's sequence(1, 0) would default to step -1 and emit [1, 0]
    // (idcg = 1/log2(1) = Inf) while DuckDB's range(1, 1) is empty; the
    // identical filter on both sides drops such queries from the report
    val idcg = q.join(broadcast(sizes), $"q_label" === $"label" && $"lsz" > 1)
      .select($"q_id", explode(sequence(lit(1L), least($"lsz" - 1, lit(10L))))
        .as("i"))
      .groupBy($"q_id")
      .agg(sum(lit(1.0) / log2($"i".cast("double") + 1.0)).as("idcg"))
    val dcg = labeled.groupBy($"q_id")
      .agg(sum($"rel").as("n_rel"),
        min(when($"rel" === 1, $"rnk")).as("first_rel"),
        sum($"rel".cast("double") / log2($"rnk".cast("double") + 1.0))
          .as("dcg"))
    dcg.join(broadcast(idcg), Seq("q_id"))
      .select($"q_id", $"n_rel",
        $"first_rel".as("first_rel_rank"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).as("rr_ppm"),
        round($"dcg" / $"idcg", 4).as("ndcg"))
      .orderBy($"q_id")
  }

  /** Hybrid retrieval — the production RAG pattern: a lexical ranker
    * (Okapi BM25, [[TextQueries.bm25PerDoc]]) and a dense ranker
    * (embedding cosine, query-by-example on vec 7) fused with
    * reciprocal-rank fusion (Cormack et al. SIGIR'09). The vector store
    * is keyed by document id (doc_id == vec_id), so this is also the one
    * query exercising the documents↔embeddings join surface.
    *
    * Scale shape: each ranker's global rank runs through
    * [[graft.functions.DistributedRank]] (two-pass range-bucket rank —
    * NO single-task window over the corpus); the dense score pass is the
    * q51 broadcast-probe scan; fusion is a doc_id equi join of two
    * rank frames and the final top-10 is a TakeOrdered, not a window.
    * RRF contributions are exact integers (round(10⁹/(60+r))), so the
    * fused key crossing the hash is a BIGINT — no float tie ambiguity.
    * Docs missing from one ranker (no text ⇒ no lexical rank) keep the
    * other side's contribution via the full outer join — and rank
    * columns then carry NULL, matching the oracle. */
  private val q184: Q = (s, d) => {
    import s.implicits._
    import graft.functions.DistributedRank
    val qvId = 7L
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"))
    val qv = e.filter($"vec_id" === qvId)
      .select($"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val denseScores = e.filter($"vec_id" =!= qvId).crossJoin(broadcast(qv))
      .select($"vec_id".as("doc_id"),
        round(dot($"q_emb", $"embedding") / ($"q_nrm" * $"nrm"), 6).as("cos"))
    val dense = DistributedRank
      .withRowNumber(denseScores, "r_dense", -$"cos", $"doc_id")
      .select($"doc_id", $"r_dense")
    val lexScores = TextQueries.bm25PerDoc(s, d)
      .where($"doc_id" =!= qvId)
      .select($"doc_id", $"bm25_u")
    val lex = DistributedRank
      .withRowNumber(lexScores, "r_lex", -$"bm25_u", $"doc_id")
      .select($"doc_id", $"r_lex")
    def contrib(r: org.apache.spark.sql.Column) =
      coalesce(round(lit(1000000000) / (lit(60) + r)).cast("long"), lit(0L))
    dense.join(lex, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_lex", $"r_dense",
        (contrib($"r_dense") + contrib($"r_lex")).as("rrf_u"))
      .orderBy($"rrf_u".desc, $"doc_id")
      .limit(10)
  }

  // ---- persisted IVF index lifecycle (q199/q200) ---------------------

  private val NCELLS = 8

  /** Literal coarse centroids for the oracle-gated index-lifecycle
    * queries: md5-derived DYADIC components k/16, k ∈ [-8, 8] — exactly
    * representable as float AND double, with shortest-decimal reprs
    * that parse back exactly in both engines, so cell assignment is
    * bit-identical everywhere (the q193 ring-constants pattern).
    * Production swaps in KMeans centroids via
    * [[graft.operators.VectorIndex.build]] — the index machinery is
    * identical either way ([[graft.operators.VectorIndex.buildWith]]). */
  private[queries] val ivfCents: Vector[(Long, Array[Float])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until NCELLS).map { c =>
      (c.toLong, (0 until DIM).map { j =>
        val hex = md.digest(s"ivf_${c}_$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        ((Integer.parseInt(hex.substring(0, 2), 16) % 17) - 8) / 16.0f
      }.toArray)
    }.toVector
  }

  /** Literal probe vector (same dyadic construction, disjoint salt). */
  private val ivfQuery: Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until DIM).map { j =>
      val hex = md.digest(s"ivfq_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      ((Integer.parseInt(hex.substring(0, 2), 16) % 17) - 8) / 16.0f
    }.toArray
  }

  private def sqd(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Cells probed for [[ivfQuery]] — a pure function of the two literal
    * vals above, computed once driver-side and inlined into BOTH the
    * Spark plan and the oracle SQL (no data-dependent model state ever
    * crosses engines). */
  private val ivfProbed: Seq[Long] = ivfCents
    .map { case (c, ct) => (c, sqd(ivfQuery, ct)) }
    .sortBy { case (c, dd) => (dd, c) }.take(2).map(_._1)

  /** Build the lifecycle fixture index under a DETERMINISTIC scratch
    * dir (one per tag and corpus, deleted and rebuilt per invocation — a fresh
    * createTempDirectory each call leaked two fully built indexes per
    * Verify/Bench run, round-7 ADVICE): build (literal cells, REAL
    * residual PQ train + fused encode) on the vec_id%10≠0 slice →
    * save → load → frozen-model append of the %10=0 slice as batch 1.
    * Returns the index path. */
  private def buildLifecycleIndex(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String): String = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding")
    val tmp = tmpArtifactDir(s"graft_lifecycle_$tag", d)
    val p = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val built = VectorIndex.buildWith(e.where($"vec_id" % 10 =!= 0),
      "vec_id", "embedding", DIM, ivfCents, m = 8, ks = 16, iters = 2)
    VectorIndex.save(built, "vec_id", tmp)
    val (loaded, idCol) = VectorIndex.load(s, tmp)
    VectorIndex.appendTo(tmp, loaded, idCol,
      e.where($"vec_id" % 10 === 0), "embedding", batchId = 1L)
    tmp
  }

  /** Persisted-index LIFECYCLE, driver-visible (the one round-6 headline
    * component that had no CORRECTNESS row): build → save → load →
    * frozen-model append → IVF-Flat search, every step through
    * [[graft.operators.VectorIndex]] against parquet on disk. Coarse
    * cells are the literal dyadic centroids so the oracle replicates
    * assignment + probe + exact L2 rank in pure SQL; the residual PQ
    * still trains and encodes for real (exercised here; its accuracy
    * claims are VectorIndexSpec/IvfPqSpec territory). Output: top-10
    * (rnk, vec_id, cell, d2) for the literal probe over 2 probed cells
    * — appended vectors must be searchable for the row to match. */
  private val q199: Q = (s, d) => {
    import s.implicits._
    val path = buildLifecycleIndex(s, d, "ivf199")
    val (full, _) = VectorIndex.load(s, path)
    val e = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding")
    val hits = VectorIndex.searchFlat(full, e, "vec_id", "embedding",
      ivfQuery, probes = 2, k = 10)
    val w = Window.orderBy($"d2", $"vec_id")
    hits.withColumn("rnk", row_number().over(w))
      .select($"rnk".cast("long").as("rnk"), $"vec_id",
        $"cluster".cast("long").as("cell"), round($"d2", 6).as("d2"))
      .orderBy($"rnk")
  }

  /** Index census over the SAME lifecycle (the serve-side inventory an
    * index owner publishes): per-cell member counts split by build vs
    * append batch — read straight from the codes table's (batch_id,
    * cluster) partition layout, proving the append landed in its own
    * partition and the build slice stayed untouched. */
  private val q200: Q = (s, d) => {
    import s.implicits._
    val path = buildLifecycleIndex(s, d, "ivf200")
    s.read.schema(VectorIndex.codesSchema("vec_id")).parquet(path + "/codes")
      .groupBy($"cluster")
      .agg(sum(($"batch_id" === -1L).cast("long")).as("n_build"),
        sum(($"batch_id" === 1L).cast("long")).as("n_append"))
      .select($"cluster".cast("long").as("cell"), $"n_build", $"n_append")
      .orderBy($"cell")
  }

  /** Metadata-FILTERED vector search (the filtered-ANN shape every
    * production vector store serves — FAISS IDSelector / the
    * pre-filter-vs-post-filter trade in Qdrant/Milvus docs): retrieve
    * nearest neighbors among ONLY the vectors whose document passes a
    * metadata predicate (here `documents.lang = 'en'` via the
    * doc_id==vec_id seam). Strategy is PRE-filtering: the predicate
    * becomes a semi join onto the corpus BEFORE cell routing, so the
    * probed-cell candidate set is already filtered and exact top-k
    * within the allowed set is guaranteed — the right choice when the
    * filter is selective; a permissive filter would instead post-filter
    * an inflated-k unfiltered search and skip the semi join. Cell
    * routing reuses the frozen literal quantizer of q199
    * ([[graft.operators.VectorIndex.assignCells]] — assignment-only,
    * no index build) and the probe set is the same driver-inlined pure
    * function of literals, so the oracle replicates routing exactly.
    *
    * Scale shape: ONE narrow assignment pass over the filtered slice,
    * the semi join shuffles on vec_id (no broadcast hint — the allowed
    * set tracks corpus size; AQE decides), candidates are
    * probes/cells of the FILTERED corpus, top-k is a TakeOrdered. At
    * 100 TB against a persisted index the same predicate lands on the
    * codes table (metadata stored alongside codes → pruned at the
    * scan) — the plan shape is unchanged. */
  private val q208: Q = (s, d) => {
    import s.implicits._
    val ok = Tables.documents(s, d)
      .where($"lang" === "en" && $"doc_id".isNotNull)
      .select($"doc_id".as("vec_id"))
    val e = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding")
    val allowed = e.join(ok, Seq("vec_id"), "left_semi")
    val cells = VectorIndex.assignCells(allowed, "vec_id", "embedding",
      ivfCents)
    val members = cells.where($"cluster".isin(ivfProbed: _*))
    val qlit = typedlit(ivfQuery.toSeq)
    val qq = ivfQuery.map(x => x.toDouble * x).sum
    val hits = allowed.join(members, Seq("vec_id"))
      .select($"vec_id", $"cluster",
        (dot($"embedding", $"embedding") - lit(2.0) * dot($"embedding", qlit)
          + lit(qq)).as("d2"))
      .orderBy($"d2", $"vec_id")
      .limit(10)
    val w = Window.orderBy($"d2", $"vec_id")
    hits.withColumn("rnk", row_number().over(w))
      .select($"rnk".cast("long").as("rnk"), $"vec_id",
        $"cluster".cast("long").as("cell"), round($"d2", 6).as("d2"))
      .orderBy($"rnk")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk ACL'19 — the
    * CCMatrix/WikiMatrix recipe for mining parallel training pairs from
    * comparable corpora): a candidate pair (x, y) across the language
    * boundary scores margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y))/2),
    * where avgK is the mean cosine of the vector's K nearest
    * cross-side neighbors — the normalization that kills "hub" vectors
    * which sit close to everything and would dominate a raw-cosine
    * ranking. Run here in the INCREMENTAL batch shape production mining
    * uses daily: a bounded new batch of side-A (en, vec_id < NQ·20)
    * against the full side-B corpus, so the pair frame is
    * O(batch · corpus) — the q51 broadcast-probe scan, linear in the
    * corpus — never corpus². At full-corpus×corpus mining scale the
    * candidate set comes from the ANN family (q52/q53/[[graft.operators
    * .VectorIndex]]) and margin scoring is unchanged on the candidates.
    *
    * Cross-engine closure: cosines round to 6 then become exact
    * integer micro-units; avgK is an integer DIV K; margin ships as
    * integer ppm = cos_u·2·10⁶ DIV (avgA_u + avgB_u) — no float
    * crosses the hash. Pairs with a non-positive normalizer are
    * excluded identically on both sides. */
  private val q204: Q = (s, d) => {
    import s.implicits._
    val K = 4
    val lang = Tables.documents(s, d).select($"doc_id".as("vec_id"), $"lang")
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull)
      .join(lang, Seq("vec_id"))
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"), $"lang")
      .where($"nrm" > 0)
    val a = e.where($"lang" === "en" && $"vec_id" < NQ * 20)
      .select($"vec_id".as("a_id"), $"embedding".as("a_emb"),
        $"nrm".as("a_nrm"))
    val b = e.where($"lang" =!= "en")
      .select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
        $"nrm".as("b_nrm"))
    val pairs = broadcast(a).join(b)
      .select($"a_id", $"b_id",
        round(round(dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"), 6)
          * 1000000).cast("long").as("cos_u"))
    val wa = Window.partitionBy($"a_id").orderBy($"cos_u".desc, $"b_id")
    val avgA = pairs.withColumn("rk", row_number().over(wa)).where($"rk" <= K)
      .groupBy($"a_id")
      .agg(expr(s"sum(cos_u) DIV $K").as("avga_u"))
    val wb = Window.partitionBy($"b_id").orderBy($"cos_u".desc, $"a_id")
    val avgB = pairs.withColumn("rk", row_number().over(wb)).where($"rk" <= K)
      .groupBy($"b_id")
      .agg(expr(s"sum(cos_u) DIV $K").as("avgb_u"))
    pairs.join(avgA, Seq("a_id")).join(avgB, Seq("b_id"))
      .where($"avga_u" + $"avgb_u" > 0)
      .withColumn("margin_ppm",
        expr("cos_u * 2000000 DIV (avga_u + avgb_u)"))
      .select($"a_id", $"b_id", $"cos_u", $"margin_ppm")
      .orderBy($"margin_ppm".desc, $"a_id", $"b_id")
      .limit(20)
  }

  /** IVF probe→recall OPERATING CURVE — the tuning report every index
    * owner reads before picking nprobe (FAISS's `nprobe` sweep; the
    * recall-vs-scan-fraction trade in the IVF literature): for each of
    * the NQ query vectors and each probe depth p ∈ {1,2,4,8}, how many
    * of the EXACT top-10 neighbors does searching only the p nearest
    * cells recover, and how many candidates did that cost. p = 8 probes
    * every cell, so its rows are the built-in sanity check (hits = 10
    * whenever ≥10 candidates exist). Cells are the q199 literal dyadic
    * quantizer, so the oracle replicates routing exactly.
    *
    * Scale shape: cell ids attach to the corpus ONCE (one vec_id join —
    * against a persisted index the cell is already a column of the codes
    * table, q208 note, and this join vanishes); queries broadcast onto
    * one corpus scan (q51 shape); BOTH the ground truth and the per-cell
    * rankings reduce through the bounded-state TopKAggregator (map-side
    * ≤10 rows per task — no corpus-sized window anywhere); the probe-
    * depth grid joins only the O(NQ·cells·10) per-cell survivors, never
    * the corpus (global top-10 at any depth is a subset of the union of
    * per-cell top-10s); candidate counts come from the O(NQ·cells) cell
    * census. Distances close as round-6 integer micro-units (q204). */
  private val q215: Q = (s, d) => {
    import s.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val e = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding")
    val assign = VectorIndex.assignCells(e, "vec_id", "embedding", ivfCents)
      .withColumnRenamed("cluster", "cell")
    val ea = e.join(assign, Seq("vec_id"))
    val q = e.where($"vec_id" < NQ)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val pairs = broadcast(q).join(ea, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"), $"cell",
        round(round(dot($"embedding", $"embedding")
          - lit(2.0) * dot($"q_emb", $"embedding")
          + dot($"q_emb", $"q_emb"), 6) * 1000000).cast("long").as("d2_u"))
    def topkOf(keyed: org.apache.spark.sql.DataFrame) = keyed
      .as[(String, ScoredId)].groupByKey(_._1)
      .agg(new TopKAggregator(10).toColumn.name("top"))
    val gt = topkOf(pairs.select($"q_id".cast("string").as("k"),
        struct($"n_id".as("id"), (-$"d2_u").as("score")).as("s")))
      .flatMap { case (k, hs) => hs.map(h => (k.toLong, h.id)) }
      .toDF("q_id", "n_id")
    val cellTop = topkOf(pairs.select(
        concat_ws("_", $"q_id", $"cell").as("k"),
        struct($"n_id".as("id"), (-$"d2_u").as("score")).as("s")))
      .flatMap { case (k, hs) =>
        val Array(qi, ce) = k.split("_")
        hs.map(h => (qi.toLong, ce.toLong, h.id, -h.score))
      }.toDF("q_id", "cell", "n_id", "d2_u")
    val cellCnt = pairs.groupBy($"q_id", $"cell").agg(count(lit(1)).as("cnt"))
    val cents = ivfCents.map { case (c, ct) => (c, ct.toSeq) }
      .toDF("cell", "cent")
    val wpr = Window.partitionBy($"q_id").orderBy($"cd2", $"cell")
    val pr = broadcast(q).join(broadcast(cents))
      .select($"q_id", $"cell",
        (dot($"q_emb", $"q_emb") - lit(2.0) * dot($"q_emb", $"cent")
          + dot($"cent", $"cent")).as("cd2"))
      .withColumn("pr", row_number().over(wpr))
      .select($"q_id", $"cell", $"pr")
    val ps = Seq(1, 2, 4, 8).toDF("p")
    val wip = Window.partitionBy($"q_id", $"p").orderBy($"d2_u", $"n_id")
    val ivf10 = cellTop.join(pr, Seq("q_id", "cell"))
      .join(broadcast(ps), $"pr" <= $"p")
      .withColumn("rnk", row_number().over(wip)).where($"rnk" <= 10)
    val hits = ivf10.join(gt, Seq("q_id", "n_id"), "left_semi")
      .groupBy($"q_id", $"p").agg(count(lit(1)).as("hits"))
    val ncand = cellCnt.join(pr, Seq("q_id", "cell"))
      .join(broadcast(ps), $"pr" <= $"p")
      .groupBy($"q_id", $"p").agg(sum($"cnt").as("n_cand"))
    q.select($"q_id").crossJoin(broadcast(ps))
      .join(ncand, Seq("q_id", "p"), "left")
      .join(hits, Seq("q_id", "p"), "left")
      .select($"p".cast("long").as("p"), $"q_id",
        coalesce($"n_cand", lit(0L)).as("n_cand"),
        coalesce($"hits", lit(0L)).as("hits"))
      .orderBy($"p", $"q_id")
  }

  /** Semantic TRAINING-ORDER report — the curation decision behind
    * in-context pretraining (Shi et al. 2023 "In-Context Pretraining:
    * Language Modeling Beyond Document Boundaries"): packing related
    * documents adjacently in the training stream beats random/id order.
    * The orderable proxy here: sort the corpus by (cell, distance to own
    * centroid, vec_id) under the q199 literal quantizer, and score an
    * ordering by the cosine mass of ADJACENT pairs — reported for the
    * semantic order vs the naive id order (same n_pairs, so the sums
    * compare directly; no cross-engine division, cosines close as
    * round-6 integer micro-units and sum as integers).
    *
    * Scale shape: cell + own-centroid distance ride a narrow pass
    * (broadcast literal centroids), both global orders come from the
    * window-free two-pass DistributedRank (never a single-task window),
    * and adjacency is a pure integer rank self-join — every step linear
    * in the corpus. At 100 TB the stream writer consumes the same rank
    * as its shard/offset key. */
  private val q217: Q = (s, d) => {
    import s.implicits._
    import graft.functions.DistributedRank
    val e0 = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"))
      .where($"nrm" > 0)
    val assign = VectorIndex.assignCells(e0, "vec_id", "embedding", ivfCents)
      .withColumnRenamed("cluster", "cell")
    val cents = ivfCents.map { case (c, ct) => (c, ct.toSeq) }
      .toDF("cell", "cent")
    val ea = e0.join(assign, Seq("vec_id")).join(broadcast(cents), Seq("cell"))
      .select($"vec_id", $"embedding", $"nrm", $"cell",
        (dot($"embedding", $"embedding") - lit(2.0) * dot($"embedding", $"cent")
          + dot($"cent", $"cent")).as("d2c"))
    def adjCos(ranked: org.apache.spark.sql.DataFrame, strategy: String) = {
      val a = ranked.select($"rn",
        $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
      val b = ranked.select(($"rn" - 1L).as("rn"),
        $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
      a.join(b, Seq("rn"))
        .select(round(round(dot($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm"),
          6) * 1000000).cast("long").as("cos_u"))
        .agg(count(lit(1)).as("n_pairs"), sum($"cos_u").as("sum_cos_u"))
        .select(lit(strategy).as("strategy"), $"n_pairs", $"sum_cos_u")
    }
    val sem = DistributedRank.withRowNumber(ea, "rn",
      col("cell"), col("d2c"), col("vec_id"))
    val byId = DistributedRank.withRowNumber(ea, "rn", col("vec_id"))
    adjCos(byId, "by_id").unionAll(adjCos(sem, "semantic"))
      .orderBy($"strategy")
  }

  /** Late-interaction (multi-vector) retrieval — the ColBERT MaxSim
    * operator (Khattab & Zaharia SIGIR'20): score(q, d) =
    * Σ_i max_j cos(q_i, d_j) over the two sides' vector SETS, the
    * scoring shape every multi-vector store (ColBERT/PLAID-style)
    * serves. Production token vectors come from a per-token encoder;
    * the fixture stands in M=8 deterministic 8-dim slices of the
    * embedding — the OPERATOR (per-pair cosine grid → per-query-vector
    * max → sum) is identical. Per-(i,j) cosines close as round-6
    * integer micro-units BEFORE max/sum, so the whole score is
    * order-independent exact integer arithmetic; sides with any
    * zero-norm slice are excluded identically in both engines.
    *
    * Scale shape: slice norms ride the corpus scan as 8 narrow columns;
    * the 64-term MaxSim grid is INLINE expression work per pair (no
    * explode — the pair frame never multiplies); queries broadcast onto
    * one corpus scan (q51 shape) and top-10 reduces through the
    * bounded-state TopKAggregator. At 100 TB candidates come from the
    * ANN family first (q52/q53/VectorIndex) and MaxSim reranks the
    * bounded candidate set — the operator is unchanged. */
  private val q218: Q = (s, d) => {
    import s.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val M = 8
    val SD = DIM / M
    def sl(c: org.apache.spark.sql.Column, i: Int) = slice(c, i * SD + 1, SD)
    def withNorms(df: org.apache.spark.sql.DataFrame, p: String) = df
      .select($"vec_id" +: $"embedding" +:
        (0 until M).map(i => l2norm(sl($"embedding", i)).as(s"$p$i")): _*)
      .where((0 until M).map(i => col(s"$p$i") > 0.0).reduce(_ && _))
    val e = withNorms(Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"embedding"), "dn")
    val q = withNorms(e.where($"vec_id" < NQ)
      .select($"vec_id", $"embedding"), "qn")
      .select($"vec_id".as("q_id") +: $"embedding".as("q_emb") +:
        (0 until M).map(i => col(s"qn$i")): _*)
    def cosU(i: Int, j: Int) =
      round(round(dot(sl($"q_emb", i), sl($"embedding", j))
        / (col(s"qn$i") * col(s"dn$j")), 6) * 1000000).cast("long")
    val scoreU = (0 until M)
      .map(i => greatest((0 until M).map(j => cosU(i, j)): _*))
      .reduce(_ + _)
    val scored = broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .select($"q_id".cast("string").as("k"),
        struct($"vec_id".as("id"), scoreU.as("score")).as("s"))
    scored.as[(String, ScoredId)].groupByKey(_._1)
      .agg(new TopKAggregator(10).toColumn.name("top"))
      .flatMap { case (k, hs) =>
        hs.iterator.zipWithIndex.map { case (h, r) =>
          (k.toLong, (r + 1).toLong, h.id, h.score)
        }
      }.toDF("q_id", "rnk", "n_id", "score_u")
      .orderBy($"q_id", $"rnk")
  }

  /** Right-to-be-forgotten DELETE-PROPAGATION audit (the GDPR/CCPA
    * erasure report every production data platform serves): a deletion
    * list keyed on documents (here doc_id ≡ 0 mod 97 — production
    * receives an external id table, same plan) must propagate through
    * every DERIVED artifact: the embeddings table (doc_id==vec_id seam)
    * and the vector index's codes (per CELL — the per-partition
    * footprint a targeted dynamic-partition rewrite touches, the
    * [[graft.operators.VectorIndex.appendTo]] overwrite contract).
    * Output: per artifact (and per index cell) total / to-delete /
    * after counts — the erasure evidence an auditor reads.
    *
    * Scale shape: the deletion list is corpus-tracking, so joins carry
    * NO forced broadcast (audit rule — AQE decides); each row of the
    * report is one hash agg over a left join on the artifact's key;
    * cell assignment is the narrow [[VectorIndex.assignCells]] pass
    * (a stored codes column at a persisted index). */
  private val q221: Q = (s, d) => {
    import s.implicits._
    val del = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"doc_id" % 97 === 0)
      .select($"doc_id")
    val docs = Tables.documents(s, d).where($"doc_id".isNotNull)
      .select($"doc_id")
    val embs = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"embedding".isNotNull)
    def row(tbl: org.apache.spark.sql.Column,
        df: org.apache.spark.sql.DataFrame, key: String,
        grp: Seq[org.apache.spark.sql.Column] = Nil) = df
      .join(del.select($"doc_id".as(key), lit(1L).as("__del")), Seq(key),
        "left")
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce($"__del", lit(0L))).as("n_delete"))
      .select(tbl.as("tbl"), $"n_total", $"n_delete",
        ($"n_total" - $"n_delete").as("n_after"))
    val codes = VectorIndex.assignCells(embs, "vec_id", "embedding",
      ivfCents)
    row(lit("documents"), docs, "doc_id")
      .unionAll(row(lit("embeddings"), embs.select($"vec_id"), "vec_id"))
      .unionAll(row(concat(lit("index_cell_"), $"cluster"),
        codes, "vec_id", Seq($"cluster")))
      .orderBy($"tbl")
  }

  /** Erasure EXECUTED against the persisted index — the acting
    * counterpart q221's audit called for (round-8 verdict #4), driver-
    * visible as a q200-style before/after census: build the lifecycle
    * index (literal dyadic cells, real PQ), then
    * [[graft.operators.VectorIndex.forget]] the vec_id % 97 = 0
    * deletion list (q221's erasure-key convention), then read the codes
    * table BACK from disk and report, per cell, members before, members
    * after, and rows forgotten. The before-census is materialized
    * before the delete (it reads the very files forget rewrites); the
    * after-census re-lists the table, so the row only matches the
    * oracle if the targeted partition rewrite actually removed the ids
    * from disk AND left every surviving row in place. Scrub semantics
    * (which partitions are rewritten vs deleted, untouched bytes,
    * search exclusion, retry idempotence) are VectorIndexSpec
    * territory. */
  private val q241: Q = (s, d) => {
    import s.implicits._
    val path = buildLifecycleIndex(s, d, "ivf241")
    val schema = VectorIndex.codesSchema("vec_id")
    val before = s.read.schema(schema).parquet(path + "/codes")
      .groupBy($"cluster").agg(count(lit(1)).as("n_before"))
      .transform(Cut(_))
    val del = Tables.embeddings(s, d)
      .where($"vec_id".isNotNull && $"vec_id" % 97 === 0)
      .select($"vec_id")
    VectorIndex.forget(s, path, del, "vec_id")
    val after = s.read.schema(schema).parquet(path + "/codes")
      .groupBy($"cluster").agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("cluster"), "left")
      .select($"cluster".cast("long").as("cell"), $"n_before",
        coalesce($"n_after", lit(0L)).as("n_after"),
        ($"n_before" - coalesce($"n_after", lit(0L))).as("n_forgotten"))
      .orderBy($"cell")
  }

  /** SEMANTIC eval-set decontamination census — the embedding-space
    * complement of q89's 5-gram decontamination (the gap both audits
    * name: paraphrased benchmark items survive n-gram screens; Yang et
    * al. 2023 "Rethinking Benchmark and Contamination" flag exactly
    * this). q177 (DedupQueries) is this stage's LSH-ROUTED form — cell
    * keys bound each train row's candidate set and the output is the
    * flagged PAIR list with nearest neighbors; this query is the EXACT
    * tier and the census consumer: true max cosine (no routing miss —
    * the number that certifies "nothing above τ survives, at any
    * angle LSH might drop"), aggregated per SOURCE across the
    * doc_id==vec_id seam for the curation decision table. The held-out
    * benchmark slice is vec_id % 97 = 0 (the q224 eval-split
    * convention); every candidate training vector's contamination
    * score is its MAX cosine against the benchmark, and the census
    * reports, per source, how many documents a τ=0.35 gate would
    * quarantine.
    *
    * Cross-engine closure: per-pair cosine through the codegen'd
    * [[graft.expressions.FloatDotProduct]] vs DuckDB's identical
    * left-to-right double sum, rounded to 6 BEFORE the max (the q51
    * rule) — max/count over identical multisets then hash exactly.
    *
    * Scale shape: a benchmark is BOUNDED (thousands of items) while the
    * candidate corpus grows — so the right 100 TB plan is one corpus
    * scan against a runtime-broadcast eval side. The join carries NO
    * forced hint: in this fixture the eval slice is carved from the
    * corpus itself (1/97 — corpus-tracking, the q171/q137 audit rule),
    * and AQE's size-based planning broadcasts it while it fits, which
    * for a real benchmark is always. Pre-routing through the IVF cells
    * (q208's assignCells) cuts the per-doc candidate set when even one
    * scan × |benchmark| is too hot. */
  private val q226: Q = (s, d) => {
    import s.implicits._
    val TAU = 0.35
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull)
      .select($"vec_id", $"embedding", l2norm($"embedding").as("nrm"))
    val ev = e.where($"vec_id" % 97 === 0)
      .select($"vec_id".as("e_id"), $"embedding".as("e_emb"),
        $"nrm".as("e_nrm"))
    val maxCos = e.where($"vec_id" % 97 =!= 0)
      .crossJoin(ev)
      .select($"vec_id",
        round(dot($"embedding", $"e_emb") / ($"nrm" * $"e_nrm"), 6).as("cos"))
      .groupBy($"vec_id").agg(max($"cos").as("mc"))
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull)
      .select($"doc_id", $"source")
    docs.join(maxCos, docs("doc_id") === maxCos("vec_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"mc" >= TAU, 1L).otherwise(0L)).as("n_flagged"),
        max($"mc").as("max_cos"))
      .orderBy($"source")
  }

  /** GDPR erasure FAN-OUT (round 11, VERDICT r10 #3 — q221's audit and
    * q241/q250/q258/q262's single-store erasures completed as ONE
    * operation): stand up all five persisted artifacts — vector index,
    * shard export, streaming export, band index (fresh, deterministic
    * slices) and the suffix index (a CLONE of the shared fingerprint-
    * gated artifact — see the inline cost note) — then drain ONE
    * deletion feed (doc_id ≡ 0 mod 97, the house erasure key) through
    * [[graft.operators.ErasureHub]] and report the cross-artifact
    * completion census. Every `n_keys_after` is re-read from the
    * artifact's files, so the row only hash-matches if all five
    * erasures actually landed on disk; crash-mid-fan-out convergence is
    * ErasureHubSpec territory.
    *
    * Fresh builds each run (dir deleted first): a forgotten artifact
    * must never serve a later run's "before" census — BandIndex keeps
    * its BUILD fingerprint after forget, so ensure() would cache-hit on
    * the scrubbed tree and the census would drift run to run. */
  private val q270: Q = (s, d) => {
    import s.implicits._
    import graft.operators.{BandIndex, ErasureHub, SeqPacker, SuffixIndex, VectorIndex}
    import graft.streaming.StreamingExport
    val base = tmpArtifactDir("graft_erasure270", d)
    val fs = graft.sources.ArtifactCommit.fsOf(s, base)
    // fresh-build wipe EXCLUDES base/hub (r11 ADVICE): the hub dir holds
    // a crashed fan-out's pending erasure commitment (ids WAL), which a
    // retry must DRAIN (ErasureHub.run unions it into the feed), never
    // destroy — deleting it would contradict the hub's crash contract
    // even though this fixture's feed happens to be re-derived
    // deterministically. Only the artifact subtrees are rebuilt fresh.
    val basePath = new org.apache.hadoop.fs.Path(base)
    if (fs.exists(basePath))
      fs.listStatus(basePath).filterNot(_.getPath.getName == "hub")
        .foreach(st => fs.delete(st.getPath, true))
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull &&
        length(trim($"text")) > 0)
      .select($"doc_id", $"text", $"lang", $"n_chars")
      .transform(Cut(_)) // five artifact builds consume it; scan once
    // the five stand-ups are disjoint trees — build them CONCURRENTLY
    // (the ErasureHub.run drain rationale: each is fixed-job-count
    // dominated; wall time = slowest build, not the sum)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // vector index: a REAL build (cells + PQ train + encode) over the
    // vec_id % 5 slice — erasure semantics are size-independent, and the
    // full lifecycle build is q199/q241's claim, not this query's
    val ivfDir = base + "/ivf"
    val fIvf = Future {
      val emb5 = Tables.embeddings(s, d)
        .where($"vec_id".isNotNull && $"embedding".isNotNull &&
          $"vec_id" % 5 === 0)
        .select($"vec_id", $"embedding")
      VectorIndex.save(VectorIndex.buildWith(emb5, "vec_id", "embedding",
        DIM, ivfCents, m = 8, ks = 16, iters = 2), "vec_id", ivfDir)
    }
    // suffix index: CLONE the shared fingerprint-gated q212/q214/q261
    // artifact and forget on the clone — the ladder's log2(maxDocLen)
    // global exchanges cost ~17 s even on a 1/13 slice (probed; the
    // round count, not the rows, dominates), while ensure() is a warm
    // no-op and the tree copy is O(artifact bytes). The builder args
    // are bit-identical to DedupQueries' (same docs slice, same
    // TextFunctions.tokens split), so whichever query runs first builds
    // the one shared artifact.
    val sufDir = base + "/suffix"
    val fSuf = Future {
      val sufDocs = Tables.documents(s, d)
        .where($"text".isNotNull && $"doc_id".isNotNull &&
          length(trim($"text")) > 0)
        .select($"doc_id", $"text")
      val sharedSuf = tmpArtifactDir("graft_suffix_index", d)
      SuffixIndex.ensure(sharedSuf, sufDocs,
        sufDocs.select($"doc_id",
          posexplode(graft.functions.TextFunctions.tokens($"text")))
          .toDF("doc_id", "pos", "tok"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(sharedSuf),
        fs, new org.apache.hadoop.fs.Path(sufDir), false,
        s.sparkContext.hadoopConfiguration)
    }
    val fBand = Future {
      BandIndex.ensure(base + "/band",
        docs.where($"doc_id" % 7 === 0), "doc_id", "text",
        DedupQueries.K, DedupQueries.NH, DedupQueries.B, DedupQueries.R)
    }
    // bucket grain %2 (not %4): leaf-dir COUNT is the partitioned-write
    // cost knob on local FS (the q258 rule) and the forget rewrite
    // touches every shard the 1/97 feed lands in
    def perDoc(m5: Int) = docs.where($"doc_id" % 5 === m5)
      .select($"lang", ($"doc_id" % 2).as("bucket"), $"doc_id".as("ord1"),
        $"doc_id", (lit(1L) + $"n_chars" % 511).as("toks"))
    val shardDir = base + "/shards"
    val fShards = Future {
      SeqPacker.writeShards(SeqPacker.packDocs(perDoc(0), 512), shardDir)
    }
    val exportDir = base + "/stream"
    val fStream = Future {
      for ((bid, m) <- Seq((0L, 1L), (1L, 6L)))
        StreamingExport.appendBatch(
          SeqPacker.packDocs(perDoc(1).where($"doc_id" % 10 === m), 512).toDF(),
          exportDir, bid)
    }
    val bandDir = Await.result(fBand, Duration.Inf)
    Seq(fIvf, fSuf, fShards, fStream)
      .foreach(Await.result(_, Duration.Inf))
    val del = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"doc_id" % 97 === 0).select($"doc_id")
    ErasureHub.run(s, base + "/hub", del, "doc_id", Seq(
      ErasureHub.Target("band_index",
        () => BandIndex.readFps(s, bandDir).select($"doc_id"),
        ids => { BandIndex.forget(s, bandDir, ids, "id"); () }),
      ErasureHub.Target("shard_export",
        () => SeqPacker.readShards(s, shardDir)._1.select($"docId"),
        ids => { SeqPacker.forgetShards(s, shardDir, ids, "id", 512); () }),
      ErasureHub.Target("stream_export",
        () => StreamingExport.readPlaced(s, exportDir).select($"docId"),
        ids => { StreamingExport.forget(s, exportDir, ids, "id"); () }),
      ErasureHub.Target("suffix_index",
        () => SuffixIndex.read(s, sufDir).select($"doc_id"),
        ids => { SuffixIndex.forget(s, sufDir, ids, "id"); () }),
      ErasureHub.Target("vector_index",
        () => s.read.schema(VectorIndex.codesSchema("vec_id"))
          .parquet(ivfDir + "/codes").select($"vec_id"),
        ids => { VectorIndex.forget(s, ivfDir, ids, "id"); () })
    )).orderBy($"artifact")
  }

  val queries: Map[String, Q] = Map(
    "q270_erasure_fanout" -> q270,
    "q241_forget_census" -> q241,
    "q226_semantic_decontam" -> q226,
    "q221_forget_audit" -> q221,
    "q218_late_interaction" -> q218,
    "q217_semantic_order" -> q217,
    "q215_probe_recall" -> q215,
    "q204_bitext_margin" -> q204,
    "q199_ivf_lifecycle" -> q199,
    "q200_index_census" -> q200,
    "q208_filtered_ann" -> q208,
    "q184_hybrid_retrieval" -> q184,
    "q186_prototype_prune" -> q186,
    "q187_matryoshka_recall" -> q187,
    "q188_kcenter_coreset" -> q188,
    "q192_mislabel_screen" -> q192,
    "q197_retrieval_eval" -> q197,
    "q181_centroid_diag" -> q181,
    "q131_hard_negatives" -> q131,
    "q51_knn_brute" -> q51,
    "q52_ann_lsh" -> q52,
    "q53_ann_ivf" -> q53,
    "q91_quantize_int8" -> q91
  )

  // ---- oracle SQL ----------------------------------------------------

  private def duckDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${DIM + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** Prefix dot over the first dd dims — the [[duckDot]] of a Matryoshka
    * truncation. */
  private def duckDotD(a: String, b: String, dd: Int) =
    s"list_sum(list_transform(range(1, ${dd + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  private def duckCos(a: String, b: String) =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  /** Bucket id mirror: the full 8-plane band. */
  private val duckBucket: String = duckBandKey(0, NPLANES)

  /** Dyadic float array as a DuckDB list literal (shortest-decimal reprs
    * of k/16 values parse back exactly — see [[ivfCents]]). */
  private def duckList(a: Array[Float]): String =
    a.map(_.toString).mkString("[", ", ", "]")

  /** Shared q199/q200/q208 CTE prefix: corpus (optionally pre-filtered —
    * the q208 metadata semi join) + literal centroids + the
    * deterministic nearest-cell assignment (sequential double sum,
    * (d2, cell) tie order — exactly `VectorIndex.nearestCell`). */
  private def duckIvfAssignFrom(extraWhere: String): String = {
    val vals = ivfCents
      .map { case (c, ct) => s"($c, ${duckList(ct)})" }.mkString(",\n    ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL$extraWhere),
       |cents AS (SELECT c, cent FROM (VALUES
       |    $vals) t(c, cent)),
       |dists AS (
       |  SELECT vec_id, c, list_sum(list_transform(range(1, ${DIM + 1}),
       |    i -> (embedding[i]::DOUBLE - cent[i]::DOUBLE)
       |       * (embedding[i]::DOUBLE - cent[i]::DOUBLE))) AS d2c
       |  FROM e CROSS JOIN cents),
       |assign AS (
       |  SELECT vec_id, c AS cell FROM (
       |    SELECT vec_id, c,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2c, c) AS rk
       |    FROM dists) WHERE rk = 1)""".stripMargin
  }

  private val duckIvfAssign: String = duckIvfAssignFrom("")

  val oracle: Map[String, String] = Map(
    "q270_erasure_fanout" ->
      """WITH del AS (SELECT doc_id AS id FROM documents
        |    WHERE doc_id IS NOT NULL AND doc_id % 97 = 0),
        |docs AS (SELECT doc_id FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND length(trim(text)) > 0),
        |c AS (
        |  SELECT 'band_index' AS artifact, count(*) AS nb,
        |    sum(CASE WHEN doc_id IN (SELECT id FROM del) THEN 1 ELSE 0 END) AS nh
        |  FROM docs WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 'shard_export', count(*),
        |    sum(CASE WHEN doc_id IN (SELECT id FROM del) THEN 1 ELSE 0 END)
        |  FROM docs WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'stream_export', count(*),
        |    sum(CASE WHEN doc_id IN (SELECT id FROM del) THEN 1 ELSE 0 END)
        |  FROM docs WHERE doc_id % 10 IN (1, 6)
        |  UNION ALL
        |  SELECT 'suffix_index', count(*),
        |    sum(CASE WHEN doc_id IN (SELECT id FROM del) THEN 1 ELSE 0 END)
        |  FROM docs
        |  UNION ALL
        |  SELECT 'vector_index', count(*),
        |    sum(CASE WHEN vec_id IN (SELECT id FROM del) THEN 1 ELSE 0 END)
        |  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |    AND vec_id % 5 = 0)
        |SELECT artifact, nb AS n_keys_before,
        |  CAST(nh AS BIGINT) AS n_keys_hit,
        |  CAST(nb - nh AS BIGINT) AS n_keys_after
        |FROM c ORDER BY artifact""".stripMargin,
    "q226_semantic_decontam" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
         |ev AS (SELECT vec_id AS e_id, embedding AS e_emb FROM e
         |       WHERE vec_id % 97 = 0),
         |mc AS (
         |  SELECT e.vec_id,
         |    max(round(${duckCos("e.embedding", "ev.e_emb")}, 6)) AS mc
         |  FROM e CROSS JOIN ev
         |  WHERE e.vec_id % 97 <> 0
         |  GROUP BY e.vec_id)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN mc.mc >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  max(mc.mc) AS max_cos
         |FROM documents d JOIN mc ON d.doc_id = mc.vec_id
         |WHERE d.doc_id IS NOT NULL
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q241_forget_census" ->
      // the lifecycle index holds EVERY corpus vector (build slice at
      // batch -1 + frozen-model append at batch 1), so before = all,
      // after = all minus the % 97 erasure list, per literal cell
      s"""WITH $duckIvfAssign,
         |b AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_before
         |      FROM assign GROUP BY cell),
         |a AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_after
         |      FROM assign WHERE vec_id % 97 <> 0 GROUP BY cell)
         |SELECT CAST(b.cell AS BIGINT) AS cell, n_before,
         |  coalesce(a.n_after, 0) AS n_after,
         |  n_before - coalesce(a.n_after, 0) AS n_forgotten
         |FROM b LEFT JOIN a USING (cell) ORDER BY cell""".stripMargin,
    "q221_forget_audit" ->
      s"""WITH $duckIvfAssign,
         |del AS (SELECT doc_id FROM documents
         |        WHERE doc_id IS NOT NULL AND doc_id % 97 = 0),
         |docs AS (
         |  SELECT 'documents' AS tbl, count(*) AS n_total,
         |    CAST(sum(CASE WHEN x.doc_id IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_delete
         |  FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) t
         |  LEFT JOIN del x USING (doc_id)),
         |em AS (
         |  SELECT 'embeddings' AS tbl, count(*) AS n_total,
         |    CAST(sum(CASE WHEN x.doc_id IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_delete
         |  FROM e LEFT JOIN del x ON x.doc_id = e.vec_id),
         |cells AS (
         |  SELECT 'index_cell_' || CAST(a.cell AS VARCHAR) AS tbl,
         |    count(*) AS n_total,
         |    CAST(sum(CASE WHEN x.doc_id IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_delete
         |  FROM assign a LEFT JOIN del x ON x.doc_id = a.vec_id
         |  GROUP BY a.cell),
         |u AS (SELECT * FROM docs UNION ALL SELECT * FROM em
         |      UNION ALL SELECT * FROM cells)
         |SELECT tbl, n_total, n_delete, n_total - n_delete AS n_after
         |FROM u ORDER BY tbl""".stripMargin,
    // MaxSim mirror: slice dots spelled with explicit base offsets; the
    // per-(i,j) grid is unnested (same integer values as Spark's inline
    // expressions — round-6 micro-units close BEFORE max/sum, both
    // order-independent)
    "q218_late_interaction" -> {
      val M = 8
      val SD = DIM / M
      def sliceDot(a: String, ai: String, b: String, bi: String) =
        s"""list_sum(list_transform(range(1, ${SD + 1}),
           |      k -> $a[$ai * $SD + k]::DOUBLE * $b[$bi * $SD + k]::DOUBLE))"""
          .stripMargin
      val normList = (0 until M).map(i =>
        s"sqrt(${sliceDot("embedding", i.toString, "embedding", i.toString)})")
        .mkString("[", ",\n     ", "]")
      s"""WITH e0 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
         |nrm AS (SELECT vec_id, embedding,
         |    $normList AS ns
         |  FROM e0),
         |ok AS (SELECT * FROM nrm WHERE list_min(ns) > 0),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb, ns AS qns
         |      FROM ok WHERE vec_id < $NQ),
         |d AS (SELECT vec_id AS n_id, embedding AS d_emb, ns AS dns FROM ok),
         |ij AS (SELECT i.range AS i, j.range AS j
         |       FROM range(0, $M) i CROSS JOIN range(0, $M) j),
         |cg AS (
         |  SELECT q.q_id, d.n_id, ij.i,
         |    CAST(round(round(${sliceDot("q_emb", "ij.i", "d_emb", "ij.j")}
         |      / (qns[ij.i + 1] * dns[ij.j + 1]), 6) * 1000000) AS BIGINT)
         |      AS cu
         |  FROM q JOIN d ON d.n_id <> q.q_id CROSS JOIN ij),
         |mx AS (SELECT q_id, n_id, i, max(cu) AS m FROM cg GROUP BY 1, 2, 3),
         |sc AS (SELECT q_id, n_id, CAST(sum(m) AS BIGINT) AS score_u
         |       FROM mx GROUP BY 1, 2)
         |SELECT q_id, rnk, n_id, score_u FROM (
         |  SELECT q_id, n_id, score_u,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY score_u DESC, n_id) AS rnk
         |  FROM sc) WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin
    },
    "q217_semantic_order" ->
      s"""WITH $duckIvfAssign,
         |e2 AS (
         |  SELECT e.vec_id, e.embedding, a.cell,
         |    sqrt(${duckDot("e.embedding", "e.embedding")}) AS nrm,
         |    ${duckDot("e.embedding", "e.embedding")}
         |      - 2.0 * ${duckDot("e.embedding", "c.cent")}
         |      + ${duckDot("c.cent", "c.cent")} AS d2c
         |  FROM e JOIN assign a USING (vec_id)
         |  JOIN cents c ON c.c = a.cell
         |  WHERE sqrt(${duckDot("e.embedding", "e.embedding")}) > 0),
         |sem AS (SELECT vec_id, embedding, nrm,
         |  row_number() OVER (ORDER BY cell, d2c, vec_id) AS rn FROM e2),
         |byid AS (SELECT vec_id, embedding, nrm,
         |  row_number() OVER (ORDER BY vec_id) AS rn FROM e2),
         |ps AS (
         |  SELECT 'semantic' AS strategy,
         |    CAST(round(round(${duckDot("a.embedding", "b.embedding")}
         |      / (a.nrm * b.nrm), 6) * 1000000) AS BIGINT) AS cos_u
         |  FROM sem a JOIN sem b ON b.rn = a.rn + 1
         |  UNION ALL
         |  SELECT 'by_id',
         |    CAST(round(round(${duckDot("a.embedding", "b.embedding")}
         |      / (a.nrm * b.nrm), 6) * 1000000) AS BIGINT)
         |  FROM byid a JOIN byid b ON b.rn = a.rn + 1)
         |SELECT strategy, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(cos_u) AS BIGINT) AS sum_cos_u
         |FROM ps GROUP BY strategy ORDER BY strategy""".stripMargin,
    "q215_probe_recall" ->
      s"""WITH $duckIvfAssign,
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |      WHERE vec_id < $NQ),
         |pairs AS (
         |  SELECT q.q_id, e.vec_id AS n_id, a.cell,
         |    CAST(round(round(${duckDot("e.embedding", "e.embedding")}
         |      - 2.0 * ${duckDot("q.q_emb", "e.embedding")}
         |      + ${duckDot("q.q_emb", "q.q_emb")}, 6) * 1000000) AS BIGINT)
         |      AS d2_u
         |  FROM q JOIN e ON e.vec_id <> q.q_id
         |  JOIN assign a ON a.vec_id = e.vec_id),
         |gt AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY d2_u, n_id) AS rk
         |  FROM pairs) WHERE rk <= 10),
         |pr AS (
         |  SELECT q_id, c AS cell, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${duckDot("q_emb", "q_emb")}
         |      - 2.0 * ${duckDot("q_emb", "cent")}
         |      + ${duckDot("cent", "cent")}, c) AS pr
         |  FROM q CROSS JOIN cents),
         |ps AS (SELECT unnest([1, 2, 4, 8]) AS p),
         |ivf AS (
         |  SELECT ps.p, pa.q_id, pa.n_id,
         |    row_number() OVER (PARTITION BY pa.q_id, ps.p
         |                       ORDER BY pa.d2_u, pa.n_id) AS rk
         |  FROM pairs pa
         |  JOIN pr ON pr.q_id = pa.q_id AND pr.cell = pa.cell
         |  JOIN ps ON pr.pr <= ps.p),
         |h AS (SELECT i.q_id, i.p, count(*) AS hits
         |      FROM ivf i JOIN gt ON gt.q_id = i.q_id AND gt.n_id = i.n_id
         |      WHERE i.rk <= 10 GROUP BY 1, 2),
         |nc AS (
         |  SELECT pa.q_id, ps.p, count(*) AS n_cand
         |  FROM pairs pa
         |  JOIN pr ON pr.q_id = pa.q_id AND pr.cell = pa.cell
         |  JOIN ps ON pr.pr <= ps.p GROUP BY 1, 2)
         |SELECT CAST(g.p AS BIGINT) AS p, g.q_id,
         |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
         |FROM (SELECT q_id, p FROM q CROSS JOIN ps) g
         |LEFT JOIN nc ON nc.q_id = g.q_id AND nc.p = g.p
         |LEFT JOIN h ON h.q_id = g.q_id AND h.p = g.p
         |ORDER BY 1, 2""".stripMargin,
    "q204_bitext_margin" ->
      s"""WITH e AS (
         |  SELECT v.vec_id, v.embedding, d.lang,
         |    sqrt(${duckDot("v.embedding", "v.embedding")}) AS nrm
         |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id
         |  WHERE v.embedding IS NOT NULL AND v.vec_id IS NOT NULL),
         |a AS (SELECT vec_id AS a_id, embedding AS a_emb, nrm AS a_nrm
         |  FROM e WHERE lang = 'en' AND vec_id < ${NQ * 20} AND nrm > 0),
         |b AS (SELECT vec_id AS b_id, embedding AS b_emb, nrm AS b_nrm
         |  FROM e WHERE lang <> 'en' AND nrm > 0),
         |pairs AS (
         |  SELECT a_id, b_id,
         |    CAST(round(round(${duckDot("a_emb", "b_emb")} / (a_nrm * b_nrm), 6)
         |      * 1000000) AS BIGINT) AS cos_u
         |  FROM a CROSS JOIN b),
         |avga AS (
         |  SELECT a_id, CAST(sum(cos_u) // 4 AS BIGINT) AS avga_u FROM (
         |    SELECT a_id, cos_u,
         |      row_number() OVER (PARTITION BY a_id
         |                         ORDER BY cos_u DESC, b_id) AS rk
         |    FROM pairs) WHERE rk <= 4 GROUP BY a_id),
         |avgb AS (
         |  SELECT b_id, CAST(sum(cos_u) // 4 AS BIGINT) AS avgb_u FROM (
         |    SELECT b_id, cos_u,
         |      row_number() OVER (PARTITION BY b_id
         |                         ORDER BY cos_u DESC, a_id) AS rk
         |    FROM pairs) WHERE rk <= 4 GROUP BY b_id),
         |m AS (
         |  SELECT p.a_id, p.b_id, p.cos_u,
         |    CAST(p.cos_u * 2000000 // (x.avga_u + y.avgb_u) AS BIGINT)
         |      AS margin_ppm
         |  FROM pairs p JOIN avga x USING (a_id) JOIN avgb y USING (b_id)
         |  WHERE x.avga_u + y.avgb_u > 0)
         |SELECT a_id, b_id, cos_u, margin_ppm FROM m
         |ORDER BY margin_ppm DESC, a_id, b_id LIMIT 20""".stripMargin,
    "q199_ivf_lifecycle" -> {
      val qq = ivfQuery.map(x => x.toDouble * x).sum
      s"""WITH $duckIvfAssign,
         |q AS (SELECT ${duckList(ivfQuery)}::DOUBLE[] AS qv),
         |cand AS (
         |  SELECT e.vec_id, a.cell,
         |    ${duckDot("embedding", "embedding")}
         |      - 2.0 * ${duckDot("embedding", "qv")} + $qq AS d2
         |  FROM e JOIN assign a USING (vec_id) CROSS JOIN q
         |  WHERE a.cell IN (${ivfProbed.mkString(", ")}))
         |SELECT rnk, vec_id, CAST(cell AS BIGINT) AS cell, round(d2, 6) AS d2
         |FROM (SELECT vec_id, cell, d2,
         |        row_number() OVER (ORDER BY d2, vec_id) AS rnk FROM cand)
         |WHERE rnk <= 10 ORDER BY rnk""".stripMargin
    },
    "q208_filtered_ann" -> {
      val qq = ivfQuery.map(x => x.toDouble * x).sum
      val filt = s"""
         |    AND vec_id IN (SELECT doc_id FROM documents
         |                   WHERE lang = 'en' AND doc_id IS NOT NULL)"""
        .stripMargin
      s"""WITH ${duckIvfAssignFrom(filt)},
         |q AS (SELECT ${duckList(ivfQuery)}::DOUBLE[] AS qv),
         |cand AS (
         |  SELECT e.vec_id, a.cell,
         |    ${duckDot("embedding", "embedding")}
         |      - 2.0 * ${duckDot("embedding", "qv")} + $qq AS d2
         |  FROM e JOIN assign a USING (vec_id) CROSS JOIN q
         |  WHERE a.cell IN (${ivfProbed.mkString(", ")}))
         |SELECT rnk, vec_id, CAST(cell AS BIGINT) AS cell, round(d2, 6) AS d2
         |FROM (SELECT vec_id, cell, d2,
         |        row_number() OVER (ORDER BY d2, vec_id) AS rnk FROM cand)
         |WHERE rnk <= 10 ORDER BY rnk""".stripMargin
    },
    "q200_index_census" ->
      s"""WITH $duckIvfAssign
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_build,
         |  CAST(sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_append
         |FROM assign GROUP BY cell ORDER BY cell""".stripMargin,
    "q184_hybrid_retrieval" ->
      s"""WITH ${TextQueries.bm25Cte},
         |sc2 AS (SELECT doc_id, bm25_u FROM sc WHERE doc_id <> 7),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 7),
         |dense AS (
         |  SELECT e.vec_id AS doc_id,
         |    round(${duckCos("e.embedding", "q.q_emb")}, 6) AS cos
         |  FROM embeddings e, q WHERE e.vec_id <> 7),
         |dr AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY cos DESC, doc_id) AS r_dense
         |  FROM dense),
         |lx AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY bm25_u DESC, doc_id) AS r_lex
         |  FROM sc2),
         |f AS (
         |  SELECT coalesce(dr.doc_id, lx.doc_id) AS doc_id, r_lex, r_dense,
         |    coalesce(CAST(round(1000000000 / (60 + r_dense)) AS BIGINT), 0)
         |      + coalesce(CAST(round(1000000000 / (60 + r_lex)) AS BIGINT), 0)
         |      AS rrf_u
         |  FROM dr FULL OUTER JOIN lx ON dr.doc_id = lx.doc_id)
         |SELECT doc_id, r_lex, r_dense, rrf_u FROM f
         |ORDER BY rrf_u DESC, doc_id LIMIT 10""".stripMargin,
    "q187_matryoshka_recall" -> {
      def blk(dd: Int) =
        s"""SELECT q.q_id, e.vec_id AS n_id, $dd AS d,
           |    CAST(round(round(${duckDotD("q.q_emb", "e.embedding", dd)} /
           |      (sqrt(${duckDotD("q.q_emb", "q.q_emb", dd)})
           |       * sqrt(${duckDotD("e.embedding", "e.embedding", dd)})), 6)
           |      * 1000000) AS BIGINT) AS cu
           |  FROM q JOIN e ON e.vec_id <> q.q_id""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |  WHERE vec_id < $NQ),
         |scored AS (
         |  ${Seq(8, 16, 32, 64).map(blk).mkString("\n  UNION ALL\n  ")}),
         |r AS (SELECT q_id, d, n_id,
         |    row_number() OVER (PARTITION BY q_id, d
         |                       ORDER BY cu DESC, n_id) AS rk
         |  FROM scored),
         |tk AS (SELECT q_id, d, n_id FROM r WHERE rk <= $TOPK),
         |grid AS (SELECT q_id, CAST(dd.d AS BIGINT) AS d
         |  FROM (SELECT DISTINCT q_id FROM q), (VALUES (8), (16), (32)) dd(d)),
         |h AS (SELECT a.q_id, CAST(a.d AS BIGINT) AS d, count(*) AS hits
         |  FROM tk a JOIN tk f
         |    ON f.q_id = a.q_id AND f.d = 64 AND f.n_id = a.n_id
         |  WHERE a.d <> 64 GROUP BY 1, 2)
         |SELECT q_id, d, CAST(coalesce(hits, 0) AS BIGINT) AS hits
         |FROM grid LEFT JOIN h USING (q_id, d)
         |ORDER BY q_id, d""".stripMargin
    },
    "q188_kcenter_coreset" -> {
      // unrolled greedy farthest-first: c_i = argmax over min-dist to
      // c_0..c_{i-1} (mind folded via least, selected ids excluded)
      val k = 6
      def dcos(a: String, b: String) = s"round(1 - ${duckCos(a, b)}, 6)"
      val sb = new StringBuilder
      sb ++= "e AS (SELECT vec_id, embedding FROM embeddings\n" +
        "  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),\n" +
        "c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),\n" +
        s"d0 AS (SELECT e.vec_id, e.embedding,\n" +
        s"    ${dcos("e.embedding", "c.embedding")} AS mind\n" +
        s"  FROM e, c0 c)"
      for (i <- 1 until k) {
        val excl = (0 until i).map(j => s"SELECT vec_id FROM c$j")
          .mkString(" UNION ALL ")
        sb ++= s",\np$i AS (SELECT vec_id, mind FROM d${i - 1}\n" +
          s"  WHERE vec_id NOT IN ($excl)\n" +
          s"  ORDER BY mind DESC, vec_id LIMIT 1),\n" +
          s"c$i AS (SELECT e.vec_id, e.embedding, p.mind\n" +
          s"  FROM e JOIN p$i p USING (vec_id))"
        if (i < k - 1)
          sb ++= s",\nd$i AS (SELECT d.vec_id, d.embedding,\n" +
            s"    least(d.mind, ${dcos("d.embedding", "c.embedding")}) AS mind\n" +
            s"  FROM d${i - 1} d, c$i c)"
      }
      val sel = (Seq(
        "SELECT CAST(0 AS BIGINT) AS step, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c0") ++
        (1 until k).map(i =>
          s"SELECT CAST($i AS BIGINT), vec_id, mind FROM c$i"))
        .mkString("\nUNION ALL ")
      s"WITH ${sb.toString}\n$sel\nORDER BY step"
    },
    "q197_retrieval_eval" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
         |    AND label IS NOT NULL),
         |q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
         |  FROM e WHERE vec_id < $NQ),
         |scored AS (
         |  SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
         |    CAST(round(round(${duckCos("q.q_emb", "e.embedding")}, 6)
         |      * 1000000) AS BIGINT) AS cu
         |  FROM q JOIN e ON e.vec_id <> q.q_id),
         |topk AS (
         |  SELECT q_id, rnk, CAST(n_label = q_label AS BIGINT) AS rel FROM (
         |    SELECT q_id, q_label, n_label, n_id, cu,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY cu DESC, n_id) AS rnk
         |    FROM scored) WHERE rnk <= 10),
         |sizes AS (SELECT label, count(*) AS lsz FROM e GROUP BY label),
         |idcg AS (
         |  SELECT q_id, sum(1.0 / log2(i + 1.0)) AS idcg FROM (
         |    SELECT q.q_id, unnest(range(1, least(s.lsz - 1, 10) + 1)) AS i
         |    FROM q JOIN sizes s ON q.q_label = s.label AND s.lsz > 1)
         |  GROUP BY q_id),
         |d AS (
         |  SELECT q_id, CAST(sum(rel) AS BIGINT) AS n_rel,
         |    min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         |    sum(rel::DOUBLE / log2(rnk + 1.0)) AS dcg
         |  FROM topk GROUP BY q_id)
         |SELECT q_id, n_rel, first_rel AS first_rel_rank,
         |  coalesce(CAST(1000000 // first_rel AS BIGINT), 0) AS rr_ppm,
         |  round(dcg / idcg, 4) AS ndcg
         |FROM d JOIN idcg USING (q_id) ORDER BY q_id""".stripMargin,
    "q192_mislabel_screen" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label IS NOT NULL AND embedding IS NOT NULL
         |    AND vec_id IS NOT NULL),
         |comp AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(round(embedding[i]::DOUBLE * 1048576) AS BIGINT))
         |      AS BIGINT) AS sv,
         |    count(*) AS n
         |  FROM e, range(1, ${DIM + 1}) r(i) GROUP BY label, i),
         |cent AS (
         |  SELECT label,
         |    list(sv::DOUBLE / (n * 1048576.0) ORDER BY i) AS centroid
         |  FROM comp GROUP BY label),
         |scored AS (
         |  SELECT e.label, e.vec_id,
         |    CAST(round(round(${duckCos("e.embedding", "c.centroid")}, 6)
         |      * 1000) AS BIGINT) AS x
         |  FROM e JOIN cent c USING (label)),
         |mom AS (
         |  SELECT label, count(*) AS n, CAST(sum(x) AS BIGINT) AS ss,
         |    CAST(sum(x * x) AS BIGINT) AS qq
         |  FROM scored GROUP BY label)
         |SELECT CAST(label AS BIGINT) AS label, vec_id, x AS cos_milli,
         |  CAST(((ss - x * n) * 1000000) // (n * 1000) AS BIGINT) AS dev_ppm
         |FROM scored JOIN mom USING (label)
         |WHERE (x * n - ss) < 0
         |  AND (x * n - ss) * (x * n - ss) > 4 * (n * qq - ss * ss)
         |ORDER BY label, vec_id""".stripMargin,
    "q186_prototype_prune" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |    CAST(${duckBandKey(0, 4)} AS BIGINT) AS cell
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |comp AS (
         |  SELECT cell, i,
         |    CAST(sum(CAST(round(embedding[i]::DOUBLE * 1048576) AS BIGINT))
         |      AS BIGINT) AS sv,
         |    count(*) AS n
         |  FROM e, range(1, ${DIM + 1}) r(i) GROUP BY cell, i),
         |cent AS (
         |  SELECT cell,
         |    list(sv::DOUBLE / (n * 1048576.0) ORDER BY i) AS centroid
         |  FROM comp GROUP BY cell),
         |scored AS (
         |  SELECT e.cell, e.vec_id,
         |    round(${duckCos("e.embedding", "c.centroid")}, 6) AS proto_cos
         |  FROM e JOIN cent c USING (cell)),
         |r AS (
         |  SELECT cell, vec_id, proto_cos,
         |    row_number() OVER (PARTITION BY cell
         |                       ORDER BY proto_cos DESC, vec_id) AS prank,
         |    count(*) OVER (PARTITION BY cell) AS cn
         |  FROM scored)
         |SELECT cell, prank, vec_id, proto_cos FROM r
         |WHERE prank * 4 <= cn + 3 ORDER BY cell, prank""".stripMargin,
    "q181_centroid_diag" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
         |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
         |comp AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(round(embedding[i]::DOUBLE * 1048576) AS BIGINT))
         |      AS BIGINT) AS sv,
         |    count(*) AS n
         |  FROM e, range(1, ${DIM + 1}) r(i) GROUP BY label, i),
         |cent AS (
         |  SELECT label,
         |    list(sv::DOUBLE / (n * 1048576.0) ORDER BY i) AS centroid
         |  FROM comp GROUP BY label),
         |own AS (
         |  SELECT e.label, round(${duckCos("e.embedding", "c.centroid")}, 6) AS cos
         |  FROM e JOIN cent c USING (label)),
         |owna AS (
         |  SELECT label, count(*) AS n_vecs,
         |    round(CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT)
         |      / (count(*) * 1000000.0), 4) AS avg_cos
         |  FROM own GROUP BY label),
         |sep AS (
         |  SELECT a.label, b.label AS other,
         |    round(${duckCos("a.centroid", "b.centroid")}, 6) AS ccos
         |  FROM cent a JOIN cent b ON a.label <> b.label),
         |nn AS (
         |  SELECT label, other AS nn_label, ccos AS nn_cos FROM (
         |    SELECT label, other, ccos,
         |      row_number() OVER (PARTITION BY label
         |                         ORDER BY ccos DESC, other) AS rk
         |    FROM sep) WHERE rk = 1),
         |nrm AS (
         |  SELECT label,
         |    round(sqrt(${duckDot("centroid", "centroid")}), 6) AS centroid_norm
         |  FROM cent)
         |SELECT CAST(label AS BIGINT) AS label, n_vecs, centroid_norm, avg_cos,
         |  CAST(nn_label AS BIGINT) AS nn_label, nn_cos
         |FROM owna JOIN nrm USING (label) JOIN nn USING (label)
         |ORDER BY label""".stripMargin,
    "q131_hard_negatives" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         |    CAST(e.label AS BIGINT) AS n_label,
         |    round(${duckCos("q.embedding", "e.embedding")}, 6) AS cos
         |  FROM embeddings q JOIN embeddings e ON e.label <> q.label
         |  WHERE q.vec_id < $NQ)
         |SELECT q_id, rnk, n_id, n_label, cos FROM (
         |  SELECT q_id, n_id, n_label, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "q51_knn_brute" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         |    round(${duckCos("q.embedding", "e.embedding")}, 6) AS cos
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NQ)
         |SELECT q_id, rnk, n_id, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TOPK ORDER BY q_id, rnk""".stripMargin,
    "q52_ann_lsh" ->
      s"""WITH b AS (SELECT vec_id, embedding, CAST($duckBucket AS BIGINT) AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         |    round(${duckCos("q.embedding", "e.embedding")}, 6) AS cos
         |  FROM b q JOIN b e ON q.bucket = e.bucket AND e.vec_id <> q.vec_id
         |  WHERE q.vec_id < $NQ)
         |SELECT q_id, rnk, n_id, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "q53_ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT label AS c_label,
         |    list(v ORDER BY pos) AS c_emb
         |  FROM (SELECT label, i - 1 AS pos, round(avg(embedding[i]::DOUBLE), 6) AS v
         |        FROM embeddings, range(1, ${DIM + 1}) r(i)
         |        GROUP BY label, i)
         |  GROUP BY label),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |      WHERE vec_id < $NQ),
         |probes AS (
         |  SELECT q_id, q_emb, c_label FROM (
         |    SELECT q.q_id, q.q_emb, c.c_label,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY round(${duckCos("q.q_emb", "c.c_emb")}, 6) DESC, c.c_label) AS crnk
         |    FROM q, cent c)
         |  WHERE crnk <= 2),
         |scored AS (
         |  SELECT p.q_id, e.vec_id AS n_id,
         |    round(${duckCos("p.q_emb", "e.embedding")}, 6) AS cos
         |  FROM probes p JOIN embeddings e
         |    ON e.label = p.c_label AND e.vec_id <> p.q_id)
         |SELECT q_id, rnk, n_id, cos FROM (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "q91_quantize_int8" ->
      """WITH ex AS (SELECT label, vec_id, unnest(embedding) AS x
        |            FROM embeddings WHERE embedding IS NOT NULL),
        |m AS (SELECT label, vec_id, x,
        |        max(abs(x)) OVER (PARTITION BY vec_id) AS mx FROM ex),
        |e AS (SELECT label, vec_id, x::DOUBLE AS xd, mx::DOUBLE AS md,
        |        floor(x::DOUBLE / mx::DOUBLE * 127 + 0.5) AS q
        |      FROM m WHERE mx > 0)
        |SELECT label, count(DISTINCT vec_id) AS n_vecs, count(*) AS n_elems,
        |  CAST(sum(CAST(floor((xd - q * md / 127) * (xd - q * md / 127) * 1e12)
        |    AS BIGINT)) AS BIGINT) AS sum_err_pico
        |FROM e GROUP BY label ORDER BY label""".stripMargin
  )
}
