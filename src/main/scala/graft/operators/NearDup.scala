package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DedupFunctions._
import graft.core.Cut

/** Parameterized near-duplicate detection over a document table — the
  * production surface behind q47/q49/q77 (`queries/DedupQueries`), which
  * call it with the fixture/oracle parameters (k=3, nh=9, b=3, r=3,
  * 32-bit simhash). Production scale is the same code with wider
  * parameters: nh=128/b=32/r=4 MinHash (pair recall ~1-(1-j⁴)³² at
  * jaccard j) and 64-bit simhash (32 bits saturate with bucket
  * collisions at billions of docs).
  *
  * Scale shape (unchanged at any parameter width): signatures are
  * explode + codegen'd grouped min/sum aggs shuffled on the doc id;
  * candidates always come from a band-bucket equi self-join, never an
  * all-pairs product; keep/drop output is O(n) regardless of clique
  * size via min-neighbor suppression.
  */
object NearDup {

  /** MinHash signature: one row per doc, columns mh0..mh{nh-1} (KM
    * family — 2 md5s per shingle regardless of nh). Docs with fewer than
    * k tokens have no shingles and drop out (they cannot near-dup by
    * shingle overlap). */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nh: Int = 9): DataFrame = {
    require(nh >= 1, s"need at least one hash (got $nh)")
    val aggs = minhashAggs(nh)
    shingleRows(docs, idCol, textCol, k)
      .select(col(idCol) +: minhashHashCols(col("s")): _*)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows (id, band_idx, band_hash): b bands of r signature
    * rows. Docs sharing any (band_idx, band_hash) are candidates.
    * The result is hash-distributed on the bucket key: every consumer
    * (pair join, keeper agg) needs exactly that distribution, and the
    * explicit exchange is the reuse point that stops the self-join from
    * recomputing the whole shingle→window→signature subtree per side
    * (measured 1.8× on q47; the shuffle itself is one the join would
    * have done anyway). */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nh: Int = 9, b: Int = 3, r: Int = 3): DataFrame = {
    require(b * r <= nh, s"b*r = ${b * r} bands*rows exceed $nh hashes")
    minhashSignature(docs, idCol, textCol, k, nh)
      .select(col(idCol), posexplode(array(lshBandCols(b, r): _*)))
      .toDF(idCol, "band_idx", "band_hash")
      .repartition(col("band_idx"), col("band_hash"))
  }

  /** MinHash+LSH candidate pairs (doc_a, doc_b, n_bands), doc_a < doc_b.
    * n_bands ∈ [1, b] counts agreeing bands — a cheap jaccard proxy. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nh: Int = 9, b: Int = 3, r: Int = 3): DataFrame = {
    val bands = lshBands(docs, idCol, textCol, k, nh, b, r)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Ids to DROP under min-neighbor suppression: a doc is dropped when
    * any of its band buckets contains a smaller id. One representative
    * per near-dup clique survives without materializing O(clique²)
    * pairs — output stays O(n) at any duplication rate. */
  def lshDropIds(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, nh: Int = 9, b: Int = 3, r: Int = 3): DataFrame = {
    val bands = lshBands(docs, idCol, textCol, k, nh, b, r)
    val keeper = bands.groupBy(col("band_idx"), col("band_hash"))
      .agg(min(col(idCol)).as("keeper"))
    bands.join(keeper, Seq("band_idx", "band_hash"))
      .where(col(idCol) > col("keeper"))
      .select(col(idCol)).distinct()
  }

  /** SimHash per doc over its DISTINCT k-token shingles (raw tokens are
    * degenerate on small shared vocabularies): (id, sim). bits = 32
    * (hash32, oracle width) or 64 (hash64, production width). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"simhash width must be 32 or 64 (got $bits)")
    val h = if (bits == 64) hash64(col("s")) else hash32(col("s"))
    val votes = simhashVoteAggs(col("h"), bits)
    shingleRows(docs, idCol, textCol, k)
      .dropDuplicates(idCol, "s")
      .select(col(idCol), h.as("h"))
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), simhashFromVotes(bits).as("sim"))
  }

  /** SimHash near-dup pairs (doc_a, doc_b, hamming, n_bands) within
    * `maxHamming`, candidates from byte-band buckets (bits/8 bands;
    * posexplode keeps the band position so equal byte values in
    * different positions don't collide). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bits: Int = 32, maxHamming: Int = 6): DataFrame = {
    val sims = simhashes(docs, idCol, textCol, k, bits)
    // same reuse trick as lshBands: one exchange on the bucket key feeds
    // both join sides, so the simhash subtree runs once
    val posBands = sims.select(col(idCol), col("sim"),
      posexplode(array((0 until bits / 8).map(j => simhashBand(col("sim"), j)): _*)))
      .toDF(idCol, "sim", "j", "bv")
      .repartition(col("j"), col("bv"))
    posBands.as("a")
      .join(posBands.as("b"),
        col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .groupBy(col("doc_a"), col("doc_b"), col("hamming"))
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Containment pairs |A∩B| / |A| ≥ tNum/tDen via PREFIX FILTERING
    * (SSJoin): only each doc's ⌊(1−t)·n⌋+1 smallest-by-hash shingles are
    * indexed on the probe side. If containment ≥ t then at most (1−t)·n
    * of A's shingles are missing from B, so some prefix shingle is
    * shared (pigeonhole) — candidate generation is complete. Candidates
    * are then verified with an exact intersection count.
    *
    * Prefixes are taken in ASCENDING GLOBAL DOCUMENT FREQUENCY order
    * (ties on hash, then the shingle itself — fully deterministic): any
    * ⌊(1−t)n⌋+1 shingles satisfy the pigeonhole, but frequency order is
    * what makes the filter WIN — each doc's prefix holds its RAREST
    * shingles, so hot boilerplate shingles sit only on the index side
    * and never generate candidates (hash order scatters hot shingles
    * into ~(1−t) of the prefixes, and the candidate join degenerates
    * toward the grouped form's Σdeg² — measured in ScaleProbe's
    * `containment_lowcol`). The df census is one extra count agg over
    * the shingle rows — the standard SSJoin preprocessing.
    *
    * Cost model: wins when colliding pairs are mostly SUB-threshold
    * (real text: Zipfian shingles, where hot n-grams connect unrelated
    * docs) — those pairs never reach the exact intersection count. On
    * corpora where every collision is a true near-dup pair the verify
    * stage is the whole cost either way and the single grouped
    * self-join ([[containmentPairsGrouped]], q107) is cheaper because
    * it skips the candidate materialization. Output identical either
    * way — NearDupSpec asserts it on the fixture.
    *
    * Threshold is a ratio of integers (default 8/10) so the prefix
    * length and the final test stay in exact integer arithmetic. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, tNum: Int = 8, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    // checkpoint-once (r12): the deduped shingle frame is referenced by
    // the df census, the prefix rank, the candidate probe side AND both
    // verification joins — five references that each re-ran the explode
    // + dedup exchange + count window before the cut
    val sh = shingleRows(docs, idCol, textCol, k)
      .dropDuplicates(idCol, "s")
      .withColumn("n", count(lit(1)).over(byDoc))
      .transform(Cut(_))
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // prefix size ⌊(1−t)n⌋+1:  rk ≤ ⌊n(tDen−tNum)/tDen⌋+1
    //   ⟺  (rk−1)·tDen ≤ n·(tDen−tNum)   (integer rk, n)
    val pref = sh.join(df, Seq("s"))
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("df"), hash32(col("s")), col("s"))))
      .filter((col("rk") - 1) * tDen <= col("n") * (tDen - tNum))
    // size filter (standard SSJoin companion to the prefix filter, also
    // lossless): |A∩B| ≤ |B|, so containment ≥ t forces |B|·tDen ≥ |A|·tNum
    // — undersized B's are pruned before the candidate even materializes
    val cand = pref.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col(s"a.$idCol") =!= col(s"b.$idCol") &&
        col("b.n") * tDen >= col("a.n") * tNum)
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    cand
      .join(sh.select(col(idCol).as("doc_a"), col("s"), col("n").as("na")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("s"), col("n").as("nb")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter(col("inter") * tDen >= col("na") * tNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"))
  }

  /** Containment pairs via a single GROUPED inverted-index self-join —
    * [[containmentPairs]]' hot-shingle sibling, identical output (the
    * equality is both spec-proven and oracle-proven at two thresholds:
    * q107 drives this form, q121 the prefix-filtered one). One exchange
    * on the shingle feeds both join sides; no candidate materialization.
    * Wins when shingles are hot (every pair sharing any shingle would be
    * a candidate anyway); loses to the prefix filter on real text, where
    * shingles are near-unique and the probe side can skip ~t of each
    * doc's rows — ScaleProbe's `containment_lowcol` measures the
    * crossover. */
  def containmentPairsGrouped(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, tNum: Int = 8, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val sh = shingleRows(docs, idCol, textCol, k)
      .dropDuplicates(idCol, "s")
      .withColumn("n", count(lit(1)).over(byDoc))
      .repartition(col("s"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .filter(col("inter") * tDen >= col("na") * tNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"))
  }
}
