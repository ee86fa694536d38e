package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cut, Tables}
import graft.functions.DedupFunctions.shingleRows
import graft.functions.DistributedRank
import graft.functions.TextFunctions.fingerprint
import graft.operators.NearDup

/** Corpus-lifecycle operators: the jobs a training-data pipeline runs
  * AROUND the per-document transforms — dimension history (SCD-2),
  * calendar gap-fill, overlapping chunking, incremental
  * batch-vs-corpus dedup, containment dedup, and per-stratum quota
  * sampling.
  *
  * Reference analogues: the reference maintains slowly-changing user/
  * device dimensions by full daily rewrite (`etl/ReportLog.scala`
  * user-region snapshots; `homed/repots/UserStatistics.scala` re-derives
  * per-day state) — q103 is the incremental interval form of the same
  * history. Its report tables fill missing time slots driver-side when
  * rendering (`homed/repots/LiveChannelStatisticByTimerange.scala`
  * half-hour slot loops); q104 is the engine-side equivalent. The daily
  * "patch yesterday with today's late logs" jobs (`etl/LogDelay.scala`)
  * are the batch-vs-corpus shape of q106.
  *
  * Scale notes (100 TB):
  *   - q103 shuffles once on the dimension key; runs are detected with a
  *     per-key window (bounded by one entity's history, never global).
  *   - q104's calendar × type grid is O(days × types) — broadcast side;
  *     the fact side is one hash agg. Forward-fill windows partition per
  *     series, each series bounded by the calendar length.
  *   - q105 is embarrassingly parallel: split + posexplode of chunk
  *     starts, no shuffle at all before the final ORDER BY.
  *   - q106 computes minhash bands for the NEW batch only and
  *     semi-joins the corpus's band index — the incremental-ingest
  *     shape: at production the corpus bands are a materialized store
  *     (written once, appended per batch), so daily cost is
  *     O(batch + matched buckets), never a corpus rescan.
  *   - q107 is a single grouped inverted-index self-join (one exchange
  *     on the shingle feeds both sides). The prefix-filtered two-phase
  *     variant for rare-shingle corpora lives in
  *     [[graft.operators.NearDup.containmentPairs]] — spec-proven to
  *     produce identical pairs.
  *   - q108's per-stratum rank orders by a salted md5 of the key — a
  *     deterministic uniform shuffle, so the quota keeps a reproducible
  *     uniform sample per language regardless of input order.
  */
object CorpusOpsQueries extends QueryPack {

  /** SCD Type-2 dimension build: collapse each customer's order-priority
    * sequence into validity intervals (version, valid_from, valid_to).
    * Change detection = lag ≠ current per key; version = running count of
    * changes; valid_to = next version's valid_from (open interval
    * '9999-12-31' for the current row) — the standard merge the reference
    * avoids by rewriting whole daily snapshots. */
  private val q103: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"od", $"o_orderkey")
    val runs = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", to_date($"o_orderdate").as("od"),
        $"o_orderpriority".as("prio"))
      .withColumn("prev", lag($"prio", 1).over(w))
      .withColumn("chg", when($"prev".isNull || $"prev" =!= $"prio", 1L).otherwise(0L))
      .withColumn("version", sum($"chg").over(w))
    val wv = Window.partitionBy($"o_custkey").orderBy($"version")
    runs.groupBy($"o_custkey", $"version", $"prio")
      .agg(min($"od").as("vf"), count(lit(1)).as("n_orders"))
      .withColumn("vt", lead($"vf", 1).over(wv))
      .select($"o_custkey", $"version", $"prio".as("o_orderpriority"),
        date_format($"vf", "yyyy-MM-dd").as("valid_from"),
        coalesce(date_format($"vt", "yyyy-MM-dd"), lit("9999-12-31")).as("valid_to"),
        $"n_orders")
      .orderBy($"o_custkey", $"version")
  }

  /** Calendar gap-fill + forward-fill: complete the (event_type × day)
    * grid over the observed span, mark synthesized rows, carry the last
    * observed daily total forward. The grid is generated engine-side
    * (sequence + explode), not driver-side like the reference's slot
    * loops. */
  private val q104: Q = (s, d) => {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", to_date($"ts").as("dy"), $"value")
    val daily = e.groupBy($"event_type", $"dy").agg(round(sum($"value"), 2).as("v"))
    val days = e.agg(min($"dy").as("d0"), max($"dy").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("dy"))
    val grid = e.select($"event_type").distinct().crossJoin(days)
    val w = Window.partitionBy($"event_type").orderBy($"dy")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("event_type", "dy"), "left")
      .withColumn("filled", when($"v".isNull, 1L).otherwise(0L))
      .withColumn("value_ff", coalesce(last($"v", ignoreNulls = true).over(w), lit(0.0)))
      .select($"event_type", date_format($"dy", "yyyy-MM-dd").as("day"),
        $"filled", $"value_ff")
      .orderBy($"event_type", $"day")
  }

  /** Overlapping token-window chunking (size 32, stride 24): the
    * context-window prep step of a training pipeline. Chunk starts are a
    * per-row `sequence`, the chunk itself a `slice` of the token array —
    * all codegen'd collection functions (not lambda HOFs), zero shuffle. */
  private val q105: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .select($"doc_id", $"w",
        posexplode(sequence(lit(0), greatest(size($"w") - 1, lit(0)), lit(24))))
      .toDF("doc_id", "w", "chunk_id", "st")
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        size(slice($"w", $"st" + 1, lit(32))).cast("long").as("n_tok"),
        md5(array_join(slice($"w", $"st" + 1, lit(32)), " ").cast("binary")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Incremental batch-vs-corpus dedup: classify each NEW document
    * (source src19) against the existing corpus (all other sources) as
    * exact_dup (fingerprint already present), near_dup (shares a MinHash
    * LSH band bucket with any corpus doc), or new. Both checks are
    * semi-joins against corpus-side DISTINCT indexes — the daily-ingest
    * form of q46/q47 where the right side is a persisted index, not a
    * rescan. */
  private val q106: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val batch = docs.filter($"source" === "src19")
    val corpus = docs.filter($"source" =!= "src19")
    val exactIds = batch.select($"doc_id", fingerprint($"text").as("fp"))
      .join(corpus.select(fingerprint($"text").as("fp")).distinct(), Seq("fp"), "left_semi")
      .select($"doc_id")
    val nearIds = NearDup.lshBands(batch, "doc_id", "text",
        DedupQueries.K, DedupQueries.NH, DedupQueries.B, DedupQueries.R)
      .join(NearDup.lshBands(corpus, "doc_id", "text",
          DedupQueries.K, DedupQueries.NH, DedupQueries.B, DedupQueries.R)
          .select($"band_idx", $"band_hash").distinct(),
        Seq("band_idx", "band_hash"), "left_semi")
      .select($"doc_id").distinct()
    batch.select($"doc_id")
      .join(exactIds.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"is_exact" === 1, "exact_dup")
          .when($"is_near" === 1, "near_dup")
          .otherwise("new").as("verdict"))
      .orderBy($"doc_id")
  }

  /** Incremental dedup against the PERSISTED band index — q106 through
    * the [[graft.operators.BandIndex]] artifact (round 10: the dedup
    * family's artifact tier, the [[graft.operators.VectorIndex]]/
    * [[graft.operators.SuffixIndex]] lifecycle applied to THE
    * production dedup structure). The corpus side is
    * [[graft.operators.BandIndex.ensure]]d once per corpus
    * (fingerprint-gated — build/save/read, erasure-WAL aware) and the
    * batch classifies against the files on disk with the index's
    * STORED LSH parameters; a green hash against q106's exact oracle
    * text (one-text rule) proves the persisted index classifies
    * identically to the inline rescan it replaces. At 100 TB this is
    * the difference between O(corpus) per nightly batch and O(batch):
    * the rescan is the reference's implied shape, the artifact is the
    * library's. */
  private val q263: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val dir = graft.operators.BandIndex.ensure(
      tmpArtifactDir("graft_band_index", d),
      docs.filter($"source" =!= "src19"), "doc_id", "text",
      DedupQueries.K, DedupQueries.NH, DedupQueries.B, DedupQueries.R)
    graft.operators.BandIndex
      .classify(s, dir, docs.filter($"source" === "src19"),
        "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** Containment near-dup (|A∩B| / |A| ≥ 0.8, A ≠ B): finds documents
    * mostly CONTAINED in another — boilerplate expansions, quote-reply
    * chains — which symmetric Jaccard (q48) under-scores when |B| ≫ |A|.
    *
    * Single grouped inverted-index self-join: one exchange on the
    * shingle (shared by both sides), one pair agg, threshold in integer
    * arithmetic (10·|∩| ≥ 8·|A|). On corpora with HOT shingles (this
    * fixture's 30-word vocabulary) this beats candidate-then-verify —
    * every candidate would be verified anyway, so a separate candidate
    * phase only adds two more joins (measured 4× slower here). On real
    * text, where most shingles are rare, the prefix-filtered two-phase
    * form wins — that variant is
    * [[graft.operators.NearDup.containmentPairs]], spec-proven equal to
    * this one. */
  private val q107: Q = (s, d) => {
    import s.implicits._
    NearDup.containmentPairsGrouped(
        Tables.documents(s, d), "doc_id", "text", DedupQueries.K, 8, 10)
      .select($"doc_a", $"doc_b", $"inter", $"na",
        round($"inter".cast("double") / $"na".cast("double"), 4).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The PREFIX-FILTERED containment form through the oracle gate itself
    * (VERDICT r3 item 3): [[graft.operators.NearDup.containmentPairs]] at
    * a second threshold point (0.9 — stricter prefixes than q107's 0.8,
    * so the pigeonhole index carries ~10% of each doc's shingles). This is
    * the variant that survives a real-text 100 TB corpus, where shingles
    * are near-unique and candidate generation touches a fraction of the
    * inverted index; now hash-verified, not only spec-equal to q107's
    * grouped form. Same output contract as q107. */
  private val q121: Q = (s, d) => {
    import s.implicits._
    NearDup.containmentPairs(
        Tables.documents(s, d), "doc_id", "text", DedupQueries.K, 9, 10)
      .select($"doc_a", $"doc_b", $"inter", $"na",
        round($"inter".cast("double") / $"na".cast("double"), 4).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Linear interpolation across calendar gaps — q104's sibling for
    * metrics where carry-forward lies (rates, gauges): each synthesized
    * day gets prev + (next−prev)·elapsed/span from the nearest observed
    * neighbors; boundary gaps clamp to the nearest observation. All
    * inputs integer cents; ONE closing multiply-divide, then a
    * half-up round back to cents — no accumulated float path. */
  private val q112: Q = (s, d) => {
    import s.implicits._
    val e = Tables.events(s, d).select($"event_type", to_date($"ts").as("dy"), $"value")
    val daily = e.groupBy($"event_type", $"dy")
      .agg(round(sum($"value") * 100).cast("long").as("v_c"))
    val days = e.agg(min($"dy").as("d0"), max($"dy").as("d1"))
      .select(explode(sequence($"d0", $"d1")).as("dy"))
    val grid = e.select($"event_type").distinct().crossJoin(days)
    val wPast = Window.partitionBy($"event_type").orderBy($"dy")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy($"event_type").orderBy($"dy")
      .rowsBetween(0, Window.unboundedFollowing)
    val obsDay = when($"v_c".isNotNull, $"dy")
    grid.join(daily, Seq("event_type", "dy"), "left")
      .withColumn("pv", last($"v_c", ignoreNulls = true).over(wPast))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPast))
      .withColumn("nv", first($"v_c", ignoreNulls = true).over(wNext))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      .select($"event_type", date_format($"dy", "yyyy-MM-dd").as("day"),
        when($"v_c".isNotNull, lit(0L)).otherwise(1L).as("filled"),
        when($"v_c".isNotNull, $"v_c")
          .when($"pv".isNull, $"nv")
          .when($"nv".isNull, $"pv")
          .otherwise(round($"pv" +
            ($"nv" - $"pv") * datediff($"dy", $"pd") / datediff($"nd", $"pd"))
            .cast("long"))
          .as("cents"))
      .orderBy($"event_type", $"day")
  }

  /** Deterministic per-language quota sample (30 docs/lang): rank within
    * each language by a salted md5 of the doc id — a reproducible uniform
    * shuffle — and keep rank ≤ quota. The census output proves which docs
    * were kept without dumping text. */
  private val q108: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"lang")
      .orderBy(md5(concat(lit("smp:"), $"doc_id".cast("string")).cast("binary")), $"doc_id")
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 30)
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"n_chars")
      .orderBy($"lang", $"rk")
  }

  /** Pre-publish data-quality audit: fused constraint census over
    * lineitem (ONE scan for all predicates, stack-unpivoted), foreign-key
    * orphan checks on the two production join keys, and primary-key
    * uniqueness — the engine-side form of Delta CHECK constraints /
    * deequ, here an oracle-checkable report. Healthy fixtures yield
    * n_bad = 0 rows; the oracle proves the CHECKS compute identically,
    * not that the data is dirty. */
  private val q114: Q = (s, d) => {
    import s.implicits._
    import graft.functions.DataAudit
    DataAudit.report(Seq(
      DataAudit.predicateChecks(Tables.lineitem(s, d), Seq(
        "li_qty_range" -> ($"l_quantity" < 1.0 || $"l_quantity" > 50.0),
        "li_price_nonpos" -> ($"l_extendedprice" <= 0.0),
        "li_disc_range" -> ($"l_discount" < 0.0 || $"l_discount" > 0.5))),
      DataAudit.orphanCheck("li_orphan_order", Tables.lineitem(s, d),
        Tables.orders(s, d), "l_orderkey", "o_orderkey"),
      DataAudit.orphanCheck("ord_orphan_cust", Tables.orders(s, d),
        Tables.customer(s, d), "o_custkey", "c_custkey"),
      DataAudit.duplicateKeyCheck("ord_pk_dup", Tables.orders(s, d),
        Seq("o_orderkey"))))
  }

  /** Deterministic shard assignment for training-corpus export — the
    * "global shuffle then write fixed-size shards" step every tokenized
    * dataset ends with. Order = salted hash of the doc id (a reproducible
    * uniform permutation, ties on doc_id), global row number via
    * [[graft.functions.DistributedRank]] (two-pass, NO single-task
    * window), shard = (rn−1) div 64. The census output (docs + char
    * mass per shard) hash-proves the assignment; the actual writer is
    * [[graft.sources.IoOps.writeShards]] (same assignment,
    * partitionBy(shard)). */
  private val q122: Q = (s, d) => {
    import s.implicits._
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("shard:"), $"doc_id".cast("string")))
    val ranked = graft.functions.DistributedRank.withRowNumber(
      Tables.documents(s, d).select($"doc_id", $"n_chars", h.as("hk")),
      "rn", $"hk", $"doc_id")
    ranked
      .select((($"rn" - 1L) / 64L).cast("long").as("shard"), $"n_chars")
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"shard")
  }

  /** Token-budget corpus selection — "take the best documents until the
    * token budget is spent", the selection step of data mixing (the
    * quality-ranked complement of q108's uniform quotas): rank docs by
    * the q43 quality-score lattice (desc, ties on doc_id), keep the
    * prefix whose INCLUSIVE running token total stays ≤ 5000. The
    * running total is [[graft.functions.DistributedRank.withRunningTotal]]
    * — the distributed two-pass prefix sum, so the global greedy scan
    * that looks inherently sequential costs one bucket exchange + a
    * numBuckets-row offsets join at any corpus size. Score is a 0.1-step
    * lattice and tokens are integers: no float boundary can flip a doc
    * in or out between engines. */
  private val q124: Q = (s, d) => {
    import s.implicits._
    import graft.functions.TextFunctions.{isStopword, qualityScoreOf, stopwordRatioOf, tokens}
    val scored = Tables.documents(s, d)
      .select($"lang", $"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"lang", $"doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum(isStopword($"tok").cast("long")).as("n_stop"),
        sum(length($"tok").cast("long")).as("sum_len"))
      .select($"lang", $"doc_id", $"n_tok",
        qualityScoreOf($"n_tok",
          stopwordRatioOf($"n_stop", $"n_tok"),
          round($"sum_len".cast("double") / $"n_tok", 4)).as("score"))
    graft.functions.DistributedRank
      .withRunningTotal(scored, "cum", $"n_tok", -$"score", $"doc_id")
      .where($"cum" <= 5000L)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sel"), sum($"n_tok").as("tok_sel"))
      .orderBy($"lang")
  }

  /** Ring negative sampling for contrastive training: each document
    * (anchor) gets 3 negatives — the next 3 documents in the q122
    * deterministic permutation, ring-wrapped. Because the permutation is
    * a salted-hash shuffle, ring neighbors are uniform random docs, yet
    * the pairing is reproducible across runs/engines (the property
    * in-batch negatives lose when batch composition shifts). Shape:
    * global rank (two-pass DistributedRank), then an equi self-join on
    * the MODULAR target rank — shuffles on the rank value, no window
    * over the full corpus, no all-pairs anything. */
  private val q125: Q = (s, d) => {
    import s.implicits._
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("shard:"), $"doc_id".cast("string")))
    val ranked = graft.functions.DistributedRank.withRowNumberAndTotal(
        Tables.documents(s, d).select($"doc_id", h.as("hk")),
        "rn", "n", $"hk", $"doc_id")
      .select($"doc_id", $"rn", $"n")
      .transform(Cut(_)) // both join sides + 3 offsets read it
    val offsets = ranked
      .select($"doc_id", $"rn", $"n",
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .withColumn("tgt", ($"rn" - 1L + $"j") % $"n" + 1L)
    offsets
      .join(ranked.select($"rn".as("tgt"), $"doc_id".as("neg_id")), Seq("tgt"))
      .select($"doc_id", $"j", $"neg_id")
      .orderBy($"doc_id", $"j")
  }

  /** Normalization-aware exact dedup: real pipelines fingerprint the
    * NORMALIZED text (lowercase, punctuation stripped, whitespace
    * collapsed) — raw-byte fingerprints (q46) miss trivially-reformatted
    * copies. Census per source: raw-distinct vs normalized-distinct and
    * the extra rows only normalization catches. One scan, two hash
    * distincts on uniformly-distributed md5 keys. */
  private val q126: Q = (s, d) => {
    import s.implicits._
    val norm = regexp_replace(
      regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " ")
    Tables.documents(s, d)
      .select($"source",
        fingerprint($"text").as("fp_raw"),
        md5(trim(norm).cast("binary")).as("fp_norm"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"fp_raw").as("n_uniq_raw"),
        countDistinct($"fp_norm").as("n_uniq_norm"),
        (countDistinct($"fp_raw") - countDistinct($"fp_norm"))
          .as("n_caught_by_norm"))
      .orderBy($"source")
  }

  /** Cross-source near-duplicate overlap matrix — the dataset-curation
    * diagnostic behind "how much of source A is already in source B"
    * (deciding mixture weights / drop order between crawls): for every
    * source pair, the number of q48 blocking keys (mh0 = min shingle
    * hash, a 1-row MinHash) present in BOTH — each shared block is a
    * cross-source near-dup candidate family. Shape: distinct
    * (block, source) membership, self-join on the block with src_a <
    * src_b, one pair agg — join fan-out per block is bounded by
    * sources², never by docs². (Exact-fingerprint overlap is the same
    * query with fp in place of mh0; this fixture's exact dups are
    * within-source only, so the near-dup key is the informative one.) */
  private val q127: Q = (s, d) => {
    import s.implicits._
    val blocks = shingleRows(Tables.documents(s, d), "doc_id", "text",
        DedupQueries.K)
      .dropDuplicates("doc_id", "s")
      .groupBy($"doc_id")
      .agg(min(md5(concat(lit("0:"), $"s").cast("binary"))).as("mh0"))
      .join(Tables.documents(s, d).select($"doc_id", $"source"), Seq("doc_id"))
      .select($"mh0", $"source")
      .distinct()
      .repartition($"mh0")
    blocks.as("a")
      .join(blocks.as("b"), $"a.mh0" === $"b.mh0" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"src_a", $"src_b")
  }

  /** α-temperature domain mixture (α=0.5, the multilingual-sampling
    * smoothing of Conneau & Lample): per-source token mass → sampling
    * weight w_s ∝ tokens_s^α, normalized; then the token allocation and
    * per-source sampling rate for a 1M-token training budget. Upweights
    * tail sources, damps head sources — the step that decides how much
    * of each corpus a training run actually reads.
    *
    * Scale shape: one hash agg over documents (partial map-side sums),
    * then arithmetic on |sources| rows; the global normalizer is a
    * 1-row broadcast cross join, never an unpartitioned window. */
  /** Data-constrained REPEAT-EPOCH allocator (the planning step behind
    * Muennighoff et al. 2023 "Scaling Data-Constrained Language Models":
    * when the token budget exceeds the unique corpus, repeat sources —
    * but each repeat is worth less). Marginal utility of epoch k of
    * source s is u_s ≫ k (integer halving — the exact power-of-two decay
    * keeps every engine bit-identical), and epochs are taken globally in
    * utility order until the cumulative token cost exceeds budget
    * B = 2 × total corpus tokens. Within a source utilities strictly
    * decrease while positive, so the greedy prefix never takes epoch k
    * without epoch k−1. B = 5·total DIV 2 (2.5 epochs' worth) leaves a
    * fractional tail after everyone's second epoch, so the cutoff lands
    * mid-tier and only the largest sources win a third pass — the
    * allocation actually differentiates. Where q130 sets relative
    * sampling WEIGHTS, this
    * decides integral repeat COUNTS under an explicit budget — the "how
    * many epochs of each source" table a data-constrained run trains on.
    *
    * Scale shape: one map-side token census per source; everything after
    * lives on O(sources × 8) rows (the single-partition greedy window is
    * bounded by that grid, never by data). */
  private val q216: Q = (s, d) => {
    import s.implicits._
    val per = Tables.documents(s, d)
      .where($"text".isNotNull && $"source".isNotNull)
      .select($"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
      .groupBy($"source").agg(sum($"tok").as("u_tokens"))
    val tot = per.agg(expr("(sum(u_tokens) * 5) DIV 2").as("budget"))
    val ep = (0 until 8).map(k => (k, 1L << k)).toDF("k", "dv")
    val items = per.crossJoin(broadcast(ep))
      .select($"source", $"u_tokens", $"k",
        expr("u_tokens DIV dv").as("util"))
      .where($"util" > 0)
    val w = Window.orderBy($"util".desc, $"source", $"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val taken = items.withColumn("cum", sum($"u_tokens").over(w))
      .crossJoin(broadcast(tot))
      .where($"cum" <= $"budget")
    taken.groupBy($"source")
      .agg(max($"u_tokens").as("u_tokens"),
        count(lit(1)).as("n_epochs"),
        sum($"u_tokens").as("alloc_tokens"),
        sum($"util").as("utility"),
        max($"budget").as("budget"))
      .select($"source", $"u_tokens", $"n_epochs", $"alloc_tokens",
        expr("alloc_tokens * 1000000 DIV budget").as("budget_share_ppm"),
        $"utility")
      .orderBy($"source")
  }

  private val q130: Q = (s, d) => {
    import s.implicits._
    val per = Tables.documents(s, d)
      .select($"source", size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"))
      .withColumn("w_raw", pow($"n_tokens", 0.5))
    val tot = per.agg(sum($"w_raw").as("w_tot"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        round($"w_raw" / $"w_tot", 6).as("mix_weight"),
        round(lit(1000000.0) * $"w_raw" / $"w_tot").cast("long").as("alloc_tokens"),
        round(least(lit(1.0), lit(1000000.0) * $"w_raw" / $"w_tot" / $"n_tokens"), 6)
          .as("sample_rate"))
      .orderBy($"source")
  }

  /** Bipartite random-walk rank (PageRank-style, damping 0.85, 3
    * iterations unrolled): the centrality primitive corpus curation
    * uses for source/domain quality (Common Crawl ranks hosts by
    * centrality before sampling) — demonstrated on the order↔part
    * bipartite graph, where a part is central when many orders that
    * also touch other central parts include it.
    *
    * The walk itself is the parameterized operator
    * [[graft.operators.WalkRank.bipartite]] (see its scaladoc for the
    * checkpoint-once, two-joins-per-round scale shape; the
    * `walk_rank_e` ScaleProbe row measures per-iteration cost linear
    * in E). Ranks are ordered on a 9-digit rounding so cross-engine
    * float-sum ulp noise (≈1e-19 abs here) can't flip the order. */
  private val q139: Q = (s, d) => {
    import s.implicits._
    graft.operators.WalkRank
      .bipartite(Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        iters = 3, damping = 0.85, teleport = 0.15)
      .select($"p".as("p_partkey"), $"dp".as("n_orders"),
        round($"r" * 1000, 6).as("walk_rank_k"))
      .orderBy(round($"r" * 1000, 9).desc, $"p_partkey")
      .limit(10)
  }

  /** Content-defined chunking (CDC) duplicate census — the
    * backup/dedup-systems primitive (Rabin-karp rolling-window
    * breakpoints) applied to training text: chunk boundaries are set
    * where the hash of the local 4-token window meets a mask, so an
    * insertion early in a document shifts ONLY the chunk it lands in —
    * unlike fixed-size chunking where every later chunk changes. The
    * census then measures how much chunk-level content is duplicated
    * per language (the shift-robust complement of q129's fixed-stride
    * span census).
    *
    * Boundary rule: a position p is a cut when the md5-derived hash of
    * tokens[p..p+3] ≡ 0 (mod 16) — expected chunk length 16 tokens;
    * the cut closes the chunk AT p (next chunk starts at p+1); tail
    * positions with no full 4-gram never cut.
    *
    * Scale shape: one window pass per document (partitioned by doc_id,
    * never global) produces leads + the running cut count; chunk
    * reassembly is the codegen'd sort_array(collect_list(struct))
    * .getField idiom (no interpreted HOFs); the census is two hash
    * aggs keyed by (lang, chunk_md5) then lang. Output is O(langs). */
  private val q141: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"doc_id", posexplode(split(trim($"text"), "\\s+")))
      .toDF("lang", "doc_id", "pos", "tok")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val marked = toks
      .withColumn("g", concat_ws(" ", $"tok",
        lead($"tok", 1).over(w), lead($"tok", 2).over(w), lead($"tok", 3).over(w)))
      .withColumn("cut",
        when(lead($"tok", 3).over(w).isNotNull &&
          (conv(substring(md5($"g".cast("binary")), 1, 8), 16, 10)
            .cast("long") % 16) === 0, 1L).otherwise(0L))
      .withColumn("chunk_no", coalesce(
        sum($"cut").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = marked.groupBy($"lang", $"doc_id", $"chunk_no")
      .agg(md5(array_join(sort_array(collect_list(struct($"pos", $"tok")))
          .getField("tok"), " ").cast("binary")).as("h"),
        count(lit(1)).as("len_tok"))
    val census = chunks.groupBy($"lang", $"h")
      .agg(count(lit(1)).as("copies"), max($"len_tok").as("len_tok"))
    census.groupBy($"lang")
      .agg(
        sum($"copies").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(($"copies" >= 2).cast("long")).as("n_dup_chunks"),
        round((sum($"len_tok" * $"copies") / sum($"copies")).cast("double"), 4)
          .as("avg_len_tok"),
        round(sum(($"copies" - 1) * $"len_tok").cast("double") /
          sum($"copies" * $"len_tok"), 6).as("dup_token_frac"))
      .orderBy($"lang")
  }

  /** Per-language percentile quality gate — the FineWeb-style RELATIVE
    * threshold: instead of one global cutoff, each language keeps its
    * middle deciles (ntile 2..9 on a lexical uniqueness score), so a
    * morphology-rich language is not mass-rejected by a threshold tuned
    * on English. ntile is integer-deterministic under the total
    * (score, doc_id) order — no float percentile boundary to disagree
    * on across engines.
    *
    * Scale shape: the per-doc score is one explode + grouped agg
    * (codegen'd); the decile window partitions by lang (parallel across
    * languages; within a language ntile needs the lang's docs sorted —
    * at 100 TB swap in DistributedRank's two-pass ranks like q94, the
    * gate semantics are unchanged). Final census is one hash agg. */
  private val q142: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"source", $"doc_id",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"lang", $"source", $"doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
      .withColumn("score",
        round($"n_uniq".cast("double") / $"n_tok" * 1000000).cast("long"))
    val gated = scored.withColumn("decile",
      ntile(10).over(Window.partitionBy($"lang").orderBy($"score", $"doc_id")))
    gated
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(($"decile" >= 2 && $"decile" <= 9).cast("long")).as("n_kept"),
        sum(when($"decile" >= 2 && $"decile" <= 9, $"n_tok")
          .otherwise(0L)).as("kept_tokens"))
      .withColumn("kept_frac",
        round($"n_kept".cast("double") / $"n_docs", 4))
      .orderBy($"lang", $"source")
  }

  /** k-anonymity audit over the release quasi-identifiers — the
    * privacy gate a corpus passes BEFORE export: any combination of
    * (lang, source, 256-char length bucket) shared by fewer than k=5
    * documents re-identifies; the audit reports, per language, how many
    * equivalence classes violate k and what fraction of rows would need
    * suppression (Sweeney 2002's k-anonymity measure, the standard
    * release check).
    *
    * Scale shape: two map-side-combinable hash aggs (QI-class census,
    * then per-lang rollup) — output O(langs); no windows, no joins. */
  private val q143: Q = (s, d) => {
    import s.implicits._
    val cls = Tables.documents(s, d)
      .groupBy($"lang", $"source", floor($"n_chars" / 256).as("len_b"))
      .agg(count(lit(1)).as("c"))
    cls.groupBy($"lang")
      .agg(
        count(lit(1)).as("n_classes"),
        sum($"c").as("n_docs"),
        min($"c").as("min_class"),
        sum(($"c" < 5).cast("long")).as("k_violations"),
        sum(when($"c" < 5, $"c").otherwise(0L)).as("docs_at_risk"))
      .withColumn("risk_frac",
        round($"docs_at_risk".cast("double") / $"n_docs", 4))
      .orderBy($"lang")
  }

  /** Duplicate-aware loss weighting — the modern ALTERNATIVE to
    * dropping duplicates: keep every copy but weight each 1/copies, so
    * a document cluster contributes one document's worth of gradient
    * mass no matter how often the crawl re-fetched it. Reports, per
    * (lang, source), nominal vs EFFECTIVE document and token mass —
    * the number that actually predicts training epochs over the
    * deduplicated distribution.
    *
    * Determinism: copies are exact integers from an md5-fingerprint
    * census; the float sums (Σ 1/copies, Σ n_tok/copies) accumulate
    * ≤1 ulp each over ≲10⁴ rows per group and are rounded to 4 / 2 —
    * far above the noise floor.
    *
    * Scale shape: ONE exchange on the fingerprint feeds both the
    * copy census and the join back to docs (same key, reused); the
    * final per-(lang, source) rollup is a map-side-combinable hash
    * agg. No broadcast needed, no windows. */
  private val q144: Q = (s, d) => {
    import s.implicits._
    val fp = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"source", $"doc_id",
        md5(trim($"text").cast("binary")).as("fp"),
        size(split(trim($"text"), "\\s+")).cast("long").as("n_tok"))
    val copies = fp.groupBy($"fp").agg(count(lit(1)).as("copies"))
    fp.join(copies, Seq("fp"))
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(($"copies" >= 2).cast("long")).as("n_dup_docs"),
        sum($"n_tok").as("n_tokens"),
        round(sum(lit(1.0) / $"copies"), 4).as("effective_docs"),
        round(sum($"n_tok".cast("double") / $"copies"), 2)
          .as("effective_tokens"))
      .orderBy($"lang", $"source")
  }

  /** Interleaved curriculum batching — order each source's documents
    * easy→hard (ascending lexical-uniqueness score) and round-robin
    * across sources into fixed 64-doc batches, so early training
    * batches are easy AND source-diverse (the curriculum + mixing
    * schedule a pre-training loader implements). Emits the batch
    * composition census a pipeline owner eyeballs before a run.
    *
    * Scale shape: NO global window — the global position is computed
    * arithmetically as (rank_within_source - 1) × n_sources +
    * source_idx from per-source windows (each partitioned, parallel)
    * plus an O(sources) broadcast dim ranked by the two-pass
    * DistributedRank (keeping the repo invariant of NO unpartitioned
    * WindowExec, even on the dim); n_sources arrives as a broadcast
    * 1-row crossJoin (the q104 calendar-grid idiom), so the whole plan
    * stays lazy — no driver-side count. Source index order is the md5
    * hash of the name (engine-agnostic, mirrored in the oracle). */
  private val q145: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"source", $"doc_id",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"source", $"doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
      .withColumn("score",
        round($"n_uniq".cast("double") / $"n_tok" * 1000000).cast("long"))
    val srcs = scored.groupBy($"source").agg(count(lit(1)).as("src_n"))
      .select($"source",
        conv(substring(md5($"source".cast("binary")), 1, 8), 16, 10)
          .cast("long").as("sh"))
    val srcDim = DistributedRank
      .withRowNumber(srcs, "sidx", $"sh", $"source")
      .select($"source", $"sidx".cast("long").as("sidx"))
    val nSrc = srcDim.agg(count(lit(1)).as("n_src"))
    val pos = scored
      .withColumn("rn", row_number()
        .over(Window.partitionBy($"source").orderBy($"score", $"doc_id"))
        .cast("long"))
      .join(broadcast(srcDim), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .withColumn("pos", ($"rn" - 1) * $"n_src" + ($"sidx" - 1))
      .withColumn("batch", floor($"pos" / 64))
    pos.groupBy($"batch")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        round(avg($"score".cast("double")), 2).as("avg_score"),
        sum($"n_tok").as("batch_tokens"))
      .orderBy($"batch")
  }

  /** Robust outlier gate: median + MAD (median absolute deviation) per
    * language, flagging docs with |len − median| > 3·MAD. The robust
    * sibling of a z-score gate — a handful of megabyte-scale outliers
    * move a mean/stddev fence but CANNOT move the median fence, which
    * is why curation filters (length, symbol ratio) quote MAD. Exact
    * medians: n_chars are integers, interpolated medians land on .5
    * and MADs on .25 — all exact in binary, so the 3·MAD comparison is
    * bit-deterministic across engines.
    *
    * Scale shape: exact `percentile` collects each group's values into
    * one aggregation buffer — fine per LANGUAGE (bounded group count,
    * values spill-sorted), and the two O(langs) stat frames broadcast
    * back, so the docs table is never shuffled: two narrow scans + two
    * broadcast joins. At 100 TB swap `percentile` for
    * `approx_percentile(…, 1e-4)` (sketch-mergeable, same plan shape)
    * — q69 pins that family. */
  private val q148: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"lang", $"n_chars")
    val med = docs.groupBy($"lang")
      .agg(percentile($"n_chars", lit(0.5)).as("med"))
    val dev = docs.join(broadcast(med), Seq("lang"))
      .withColumn("adev", abs($"n_chars" - $"med"))
    val mad = dev.groupBy($"lang")
      .agg(percentile($"adev", lit(0.5)).as("mad"))
    dev.join(broadcast(mad), Seq("lang"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(min($"med"), 2).as("med_chars"),
        round(min($"mad"), 2).as("mad_chars"),
        sum(($"adev" > $"mad" * 3).cast("long")).as("n_outliers"))
      .orderBy($"lang")
  }

  /** Distribution-drift monitor: Population Stability Index of each
    * source's length histogram against the corpus-wide histogram —
    * the production check that a crawl snapshot / new source hasn't
    * shifted the length mix before it contaminates training (PSI > 0.2
    * is the classic "investigate" fence). PSI = Σ (p−q)·ln(p/q) over
    * the 64-char buckets (capped at bucket 8) present on both sides;
    * one-sided buckets are counted, not folded into an epsilon term,
    * keeping every emitted number a deterministic function of integer
    * counts.
    *
    * Scale shape: ONE census agg over (source, bucket); the per-source
    * and corpus marginals both derive from that O(sources×9) frame, so
    * the documents table is scanned once and everything downstream is
    * broadcast-sized. */
  private val q150: Q = (s, d) => {
    import s.implicits._
    val cls = Tables.documents(s, d)
      .groupBy($"source", least(floor($"n_chars" / 64), lit(8)).as("len_b"))
      .agg(count(lit(1)).as("c"))
    val srcTot = cls.groupBy($"source").agg(sum($"c").as("st"))
    val corpus = cls.groupBy($"len_b").agg(sum($"c").as("qc"))
    val corpTot = corpus.agg(sum($"qc").as("qt"))
    cls.join(broadcast(srcTot), Seq("source"))
      .join(broadcast(corpus), Seq("len_b"))
      .crossJoin(broadcast(corpTot))
      .withColumn("p", $"c".cast("double") / $"st")
      .withColumn("q", $"qc".cast("double") / $"qt")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(($"p" - $"q") * log($"p" / $"q")), 4).as("psi"))
      .orderBy($"source")
  }

  /** Reciprocal-rank fusion: merge two per-language document rankings
    * (lexical uniqueness and length) into one list via RRF(k=60) —
    * the standard score-free way to combine retrieval/curation
    * rankings whose raw scores aren't commensurable. Top-5 fused per
    * language. Every rrf value is a sum of two reciprocals of small
    * INTEGERS — both engines compute bit-identical doubles, so even
    * the fused-rank ORDER is deterministic (doc_id breaks exact ties
    * from symmetric rank pairs).
    *
    * Scale shape: all three windows partition by lang; the component
    * ranks at web scale would first prune per-partition with the q132
    * TopKAggregator (only rank ≤ N survivors need fusing). */
  private val q152: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"doc_id", $"n_chars",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"lang", $"doc_id", $"n_chars")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
      .withColumn("score",
        round($"n_uniq".cast("double") / $"n_tok" * 1000000).cast("long"))
    val ranked = scored.select($"lang", $"doc_id",
      row_number().over(Window.partitionBy($"lang")
        .orderBy($"score".desc, $"doc_id")).cast("long").as("ra"),
      row_number().over(Window.partitionBy($"lang")
        .orderBy($"n_chars".desc, $"doc_id")).cast("long").as("rb"))
    ranked
      .withColumn("rrf", lit(1.0) / ($"ra" + 60) + lit(1.0) / ($"rb" + 60))
      .withColumn("fused_rank", row_number().over(Window.partitionBy($"lang")
        .orderBy($"rrf".desc, $"doc_id")).cast("long"))
      .where($"fused_rank" <= 5)
      .select($"lang", $"fused_rank", $"doc_id", $"ra", $"rb",
        round($"rrf", 6).as("rrf"))
      .orderBy($"lang", $"fused_rank")
  }

  /** Degree-oriented triangle census over the co-purchase graph (parts
    * sharing an order, one ship-date quarter-pair) — triangle count and
    * global clustering coefficient, the graph-health stats behind
    * community/cohesion analyses. The DISTRIBUTED-scale point is the
    * orientation: direct every edge from its lower-(degree, id) to its
    * higher-(degree, id) endpoint BEFORE the wedge join, so wedges
    * enumerate per-node out-pairs bounded by O(√E) arboricity-style —
    * on a power-law graph the unoriented join explodes on hub nodes
    * (every pair of a hub's neighbors) while the oriented one provably
    * caps out-degree. Each triangle then appears as EXACTLY one
    * directed path a→b→c plus closing edge a→c — counted once, no
    * distinct, no /6.
    *
    * Scale shape: edge build is an order-keyed self-join (pairs per
    * order, not per corpus); wedge join and closing-edge semi-join are
    * equi joins on node keys; every scalar arrives via broadcast 1-row
    * crossJoin — fully lazy, single action. */
  private val q155: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .where($"l_shipdate" >= "1995-01-01" && $"l_shipdate" < "1995-07-01")
      .select($"l_orderkey".as("k"), $"l_partkey".as("v"))
    val e0 = li.toDF("k", "a").join(li.toDF("k", "b"), Seq("k"))
      .where($"a" < $"b").select($"a", $"b").distinct()
    val deg = e0.select($"a".as("v")).union(e0.select($"b"))
      .groupBy($"v").agg(count(lit(1)).as("dg"))
    val lt = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    val o = e0
      .join(deg.toDF("a", "da"), Seq("a")).join(deg.toDF("b", "db"), Seq("b"))
      .select(when(lt, $"a").otherwise($"b").as("s"),
        when(lt, $"b").otherwise($"a").as("t"))
    val w = o.toDF("wa", "wb").join(o.toDF("wb", "wc"), Seq("wb"))
    val tri = w.join(o.toDF("wa", "wc"), Seq("wa", "wc"), "left_semi")
    val wedgesAll = deg.agg((sum($"dg" * ($"dg" - 1)) / 2).cast("long").as("open_wedges"))
    e0.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(w.agg(count(lit(1)).as("n_oriented_wedges"))))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
      .crossJoin(broadcast(wedgesAll))
      .select($"n_edges", $"n_oriented_wedges", $"n_triangles", $"open_wedges",
        when($"open_wedges" > 0,
          round(lit(3.0) * $"n_triangles" / $"open_wedges", 6)).as("global_cc"))
  }

  /** Score-calibration reliability census: bucket each language's docs
    * into lexical-uniqueness-score deciles and measure the EXACT-DUP
    * rate per decile — the "does the quality score actually predict the
    * outcome we filter for" check run before trusting a score as a
    * gate (a flat profile means the score is noise; monotone means the
    * threshold is meaningful). Integer score (q142's), integer-
    * deterministic ntile under a total (score, doc_id) order, dup flag
    * from the exact md5-copy census — the only float is the final
    * rounded rate.
    *
    * Scale shape: one fingerprint exchange (copy census + join back),
    * per-lang decile windows (parallel across languages), one
    * (lang, decile) hash agg. */
  private val q156: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"doc_id",
        md5(trim($"text").cast("binary")).as("fp"),
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"lang", $"doc_id", $"fp")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
      .withColumn("score",
        round($"n_uniq".cast("double") / $"n_tok" * 1000000).cast("long"))
    val copies = scored.groupBy($"fp").agg(count(lit(1)).as("copies"))
    scored.join(copies, Seq("fp"))
      .withColumn("decile", ntile(10)
        .over(Window.partitionBy($"lang").orderBy($"score", $"doc_id"))
        .cast("long"))
      .groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"score").as("min_score"),
        sum(($"copies" >= 2).cast("long")).as("n_dups"),
        round(avg(($"copies" >= 2).cast("double")), 4).as("dup_rate"))
      .orderBy($"lang", $"decile")
  }

  /** Point-in-time (PIT) dimension join — the feature-store join that
    * keeps training features leakage-free: each shipment is enriched
    * with the priority regime its CUSTOMER was in at ship time (the
    * q103 SCD-2 dimension), never a later version. The naive form
    * (equi key + `valid_from <= t < valid_to` filter) fans every fact
    * out across all of its key's versions before filtering; this
    * implementation is the AS-OF carry-forward instead: union the
    * version-change rows with the fact rows, sort per customer by
    * (time, dim-first, version), carry the last dim value forward —
    * ONE exchange on the key, zero fan-out, the q68 shape pointed at a
    * built dimension. The DuckDB oracle states the naive interval
    * join — passing proves the carry-forward equivalent, including the
    * same-day-version-change edge (facts on a change day take that
    * day's LAST version; zero-width versions match nothing). */
  private val q157: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"c").orderBy($"od", $"o_orderkey")
    val runs = Tables.orders(s, d)
      .select($"o_custkey".as("c"), $"o_orderkey",
        to_date($"o_orderdate").as("od"), $"o_orderpriority".as("prio"))
      .withColumn("prev", lag($"prio", 1).over(w))
      .withColumn("chg",
        when($"prev".isNull || $"prev" =!= $"prio", 1L).otherwise(0L))
      .withColumn("version", sum($"chg").over(w))
    val dimRows = runs.groupBy($"c", $"version", $"prio")
      .agg(min($"od").as("t"))
      .select($"c", $"t", lit(0).as("is_fact"), $"version", $"prio",
        lit(null).cast("double").as("qty"))
    val factRows = Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
          .select($"o_orderkey".as("l_orderkey"), $"o_custkey".as("c")),
        Seq("l_orderkey"))
      .select($"c", to_date($"l_shipdate").as("t"), lit(1).as("is_fact"),
        lit(null).cast("long").as("version"), lit(null).cast("string").as("prio"),
        $"l_quantity".as("qty"))
    val wc = Window.partitionBy($"c")
      .orderBy($"t", $"is_fact", $"version")
      .rowsBetween(Window.unboundedPreceding, 0)
    dimRows.unionByName(factRows)
      .withColumn("prio_at_ship",
        last(when($"is_fact" === 0, $"prio"), ignoreNulls = true).over(wc))
      // SCD-2 intervals tile [first_valid_from, ∞) with no holes, so a
      // null carry is EXACTLY "fact predates every version" — the rows
      // an inner interval join drops (this fixture ships 29k lines
      // before their order date, so the branch is exercised)
      .where($"is_fact" === 1 && $"prio_at_ship".isNotNull)
      .groupBy($"prio_at_ship", date_format($"t", "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor($"qty")).cast("long").as("sum_qty"))
      .orderBy($"prio_at_ship", $"month")
  }

  /** Broadcast-boundary decile gate — the 100 TB form of the ntile
    * gates (q142/q156): instead of SORTING every row per language to
    * assign deciles, compute the nine per-language decile BOUNDARIES
    * in one aggregation (O(langs×9) output), broadcast them back, and
    * assign each doc its bucket with nine comparisons — no sort, no
    * per-lang ntile window, plan-asserted broadcast join. Exact
    * `percentile` here (oracle-checkable: Spark and DuckDB interpolate
    * `p·(n−1)` with identical IEEE arithmetic, so every boundary is
    * the same double and `score > boundary` can never disagree); at
    * real scale swap in `approx_percentile` — same plan, sketch-merged
    * boundaries. Buckets differ from ntile's ONLY on ties (ntile
    * force-balances counts; boundaries keep equal scores together —
    * the semantically better behavior for a gate). */
  private val q158: Q = (s, d) => {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .where($"text".isNotNull)
      .select($"lang", $"doc_id",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"lang", $"doc_id")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
      .withColumn("score",
        round($"n_uniq".cast("double") / $"n_tok" * 1000000).cast("long"))
    val ps = (1 to 9).map(_ / 10.0)
    val bounds = scored.groupBy($"lang")
      .agg(percentile($"score", lit(ps.toArray)).as("bs"))
    val bucket = (1 to 9)
      .map(i => ($"score" > element_at($"bs", i)).cast("long"))
      .reduce(_ + _) + 1
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("decile", bucket)
      .groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"score").as("min_score"), max($"score").as("max_score"))
      .orderBy($"lang", $"decile")
  }

  /** Leave-one-out source novelty: what fraction of each source's
    * 5-gram occurrences exists NOWHERE else in the corpus — the "what
    * does this source uniquely add" number that decides whether a
    * source earns its ingestion cost (q127's pairwise overlap matrix
    * says who overlaps whom; this says who is REPLACEABLE). Exclusive
    * mass = occurrences of grams whose source-set is exactly {this
    * source}; ratio over the source's total gram occurrences.
    *
    * Scale shape: shingle extraction's per-doc window exchanges on
    * doc_id and the source-attach join REUSES that partitioning (one
    * side pre-exchanged); then one exchange on the gram key feeds the
    * spread census and the join back (same key, reused); the final
    * per-source rollup is map-side-combinable. Output O(sources), all
    * integers until the final rounded ratio. */
  private val q159: Q = (s, d) => {
    import s.implicits._
    val grams = shingleRows(Tables.documents(s, d), "doc_id", "text", 5)
      .join(Tables.documents(s, d).select($"doc_id", $"source"), Seq("doc_id"))
      .select($"source", $"s".as("g"))
    val perSource = grams.groupBy($"g", $"source")
      .agg(count(lit(1)).as("occ"))
    val spread = perSource.groupBy($"g")
      .agg(count(lit(1)).as("n_sources"))
    perSource.join(spread, Seq("g"))
      .groupBy($"source")
      .agg(
        sum($"occ").as("n_grams"),
        sum(when($"n_sources" === 1, $"occ").otherwise(0L)).as("n_exclusive"),
        count(lit(1)).as("n_distinct"),
        sum(($"n_sources" === 1).cast("long")).as("n_distinct_exclusive"))
      .withColumn("novelty",
        round($"n_exclusive".cast("double") / $"n_grams", 4))
      .orderBy($"source")
  }

  /** Corpus snapshot diff — the incremental-ingestion audit every
    * versioned dataset needs: given two snapshots keyed by doc_id,
    * classify each key as added / removed / changed (content hash
    * differs) / unchanged, and report the census per source. The two
    * snapshots are deterministic views of the fixture (old = doc_id %
    * 7 ≠ 0; new = doc_id % 11 ≠ 3 with every doc_id % 5 = 0 rewritten)
    * so the oracle can rebuild both exactly.
    *
    * Scale shape: ONE full-outer equi join on the snapshot key with an
    * md5 content fingerprint on each side — both sides shuffle once on
    * doc_id (or not at all when snapshots are stored bucketed by key,
    * the layout a 100 TB versioned corpus would use); the census is a
    * hash agg to O(sources) rows. No window, no driver state. */
  private val q165: Q = (s, d) => {
    import s.implicits._
    val base = Tables.documents(s, d).where($"text".isNotNull)
    val old = base.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id", $"source", md5($"text".cast("binary")).as("h_old"))
    val neu = base.filter($"doc_id" % 11 =!= 3)
      .select($"doc_id", $"source".as("src_new"),
        md5(concat($"text",
          when($"doc_id" % 5 === 0, lit(" v2")).otherwise(lit("")))
          .cast("binary")).as("h_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(coalesce($"source", $"src_new").as("source"),
        when($"h_old".isNull, lit("added"))
          .when($"h_new".isNull, lit("removed"))
          .when($"h_old" =!= $"h_new", lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy($"source")
      .agg(
        sum(when($"status" === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when($"status" === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when($"status" === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when($"status" === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy($"source")
  }

  /** Seeded trust propagation (TrustRank shape) — q139's walk with the
    * teleport mass concentrated on a TRUSTED SEED set: parts of urgent
    * orders, weighted by how many urgent orders carry them. The
    * whitelist-propagation recipe corpus curation uses for source
    * quality: audit a few domains by hand, walk the structure, harvest
    * the high-rank tail. Operator:
    * [[graft.operators.WalkRank.bipartiteSeeded]] (checkpoint-once
    * edges, integer seed weights so the normalized teleport fractions
    * are bit-identical across engines); oracle = the unrolled 3-round
    * CTE with the same seeded teleport. */
  private val q168: Q = (s, d) => {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val urgent = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val seeds = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
      .select($"o_orderkey", $"l_partkey").distinct()
      .groupBy($"l_partkey").agg(count(lit(1)).as("w"))
    graft.operators.WalkRank
      .bipartiteSeeded(li, "l_orderkey", "l_partkey", seeds, "w",
        iters = 3, damping = 0.85, teleport = 0.15)
      .select($"p".as("p_partkey"), $"dp".as("n_orders"),
        round($"r" * 1000, 6).as("trust_k"))
      .orderBy(round($"r" * 1000, 9).desc, $"p_partkey")
      .limit(15)
  }

  /** Stratified eval-split with EXACT largest-remainder allocation
    * (Hamilton's method): carve a 10% eval set whose per-(lang, source)
    * counts sum to exactly N DIV 10 — naive per-stratum rounding drifts
    * by up to strata/2 docs, which a paper's "10.0% held out" claim
    * can't absorb. Quotas: floor_i = n_i·T DIV N with remainder
    * numerator n_i·T MOD N; the T − Σfloor leftover goes to the largest
    * remainders (stratum-key tie-break). Selection within a stratum is
    * a salted-hash rank — reproducible, order-independent, and
    * documented joinable back to q122's shards.
    *
    * Scale shape: the allocation windows run over the STRATUM census —
    * O(langs×sources) aggregate rows, metadata not data; the only
    * per-doc work is the salted-hash row_number PARTITIONED by stratum
    * and the final census agg. The per-stratum sort is the honest cost
    * at 100 TB; with huge strata swap rank-≤-alloc for a hash-space
    * threshold (alloc/n of [0, 2³²)) plus an exact residual fix-up,
    * exactly as IoOps.writeShards documents. `sel_sum` (sum of selected
    * doc_ids) pins the SELECTED SET, not just its size, across engines. */
  private val q170: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"lang", $"source", $"doc_id",
        md5(concat($"doc_id".cast("string"), lit("sp")).cast("binary")).as("h"))
    val strata = docs.groupBy($"lang", $"source").agg(count(lit(1)).as("n_i"))
    val tot = strata.agg(sum($"n_i").as("n"),
      expr("CAST(sum(n_i) DIV 10 AS BIGINT)").as("t"))
    // quota arithmetic on the census frame: O(strata) rows — metadata
    val quota = strata.crossJoin(broadcast(tot))
      .select($"lang", $"source", $"n_i", $"n", $"t",
        expr("CAST(n_i * t DIV n AS BIGINT)").as("fl"),
        expr("CAST(n_i * t % n AS BIGINT)").as("rem"))
    // remainder ranking WITHOUT an unpartitioned window (the repo-wide
    // invariant): DistributedRank range-buckets the (negated, so
    // descending) remainder, and the floor total arrives as a 1-row
    // broadcast — even though this frame is census-sized, the shape
    // stays the one that survives a billion strata
    val fls = quota.agg(sum($"fl").as("fl_tot"))
    val alloc = graft.functions.DistributedRank
      .withRowNumber(quota, "rrk", (-$"rem").as("nrem"), $"lang", $"source")
      .crossJoin(broadcast(fls))
      .select($"lang", $"source", $"n_i",
        ($"fl" + when($"rrk" <= $"t" - $"fl_tot", 1L).otherwise(0L)).as("alloc"))
    val wSel = Window.partitionBy($"lang", $"source").orderBy($"h", $"doc_id")
    docs.withColumn("rk", row_number().over(wSel))
      .join(broadcast(alloc), Seq("lang", "source"))
      .groupBy($"lang", $"source")
      .agg(first($"n_i").as("n_docs"), first($"alloc").as("alloc"),
        sum(when($"rk" <= $"alloc", 1L).otherwise(0L)).as("n_eval"),
        sum(when($"rk" <= $"alloc", $"doc_id").otherwise(0L)).as("sel_sum"))
      .orderBy($"lang", $"source")
  }

  /** Language-mix diversity index per source — the datacard line that
    * tells a mixture designer whether a source is monolingual or a true
    * multilingual blend: per-source Shannon entropy of the language
    * distribution (in nats) plus the Simpson concentration index as
    * EXACT integer ppm (Σnᵢ²·10⁶ DIV N² — the probability two random
    * docs share a language; 1e6/simpson ≈ effective language count).
    *
    * Determinism: Simpson is pure integer arithmetic; Shannon is
    * H = ln N − (Σ nᵢ·ln nᵢ)/N — each term one ln of an exact integer
    * (q136/q150 ln-parity precedent), summed over ≤|langs| rows per
    * source (the q146 ≤100-point rationale), rounded to 4.
    *
    * Scale shape: one (source, lang) hash-agg census — everything
    * downstream is O(sources·langs) arithmetic. */
  private val q191: Q = (s, d) => {
    import s.implicits._
    val census = Tables.documents(s, d)
      .where($"source".isNotNull && $"lang".isNotNull)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n_i"))
    census.groupBy($"source")
      .agg(sum($"n_i").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum($"n_i" * $"n_i").as("sq"),
        sum($"n_i".cast("double") * log($"n_i".cast("double"))).as("snln"))
      .select($"source", $"n_docs", $"n_langs",
        expr("(sq * 1000000) DIV (n_docs * n_docs)").as("simpson_ppm"),
        round(log($"n_docs".cast("double")) - $"snln" / $"n_docs", 4)
          .as("shannon_h"))
      .orderBy($"source")
  }

  /** Ring points for q193: shard s's v-th VIRTUAL node sits at
    * md5-derived position `hash32("node_<s>_<v>")` — 5 vnodes per shard
    * (the variance fix real rings ship with; one point per shard makes
    * both arc sizes and the move set lumpy). Computed driver-side once,
    * inlined as the SAME integer literals into the Spark plan and the
    * DuckDB oracle, so no cross-engine hashing is involved at query
    * time (the SimilarityQueries.planes pattern). */
  private val ringNodes: Vector[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (for { s <- 0 until 20; v <- 0 until 5 } yield {
      val hex = md.digest(s"node_${s}_$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      s -> java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }).toVector
  }

  /** Reshard move census — the 100 TB question behind shard-count
    * changes: growing 16 → 20 shards, how much data physically moves
    * under MODULO placement (pos % K — nearly everything reshuffles)
    * vs a CONSISTENT HASH ring (Karger et al. STOC'97 — only the new
    * nodes' arcs move, ≈ 4/20). The ring keeps the original 16 nodes'
    * positions untouched and adds 4, so the move set is EXACTLY the
    * docs landing on new arcs; both placements also report their worst
    * shard fill as the balance check.
    *
    * Scale shape: placement is a literal CASE chain over the ring
    * positions (codegen'd, zero joins — the doc never leaves its
    * partition to learn its shard); the census is one hash agg per
    * scheme over O(shards) groups. Output 2 rows. */
  private val q193: Q = (s, d) => {
    import s.implicits._
    import graft.functions.DedupFunctions.hash32
    val sorted20 = ringNodes.sortBy(_._2)
    val sorted16 = ringNodes.filter(_._1 < 16).sortBy(_._2)
    def ringAssign(pos: org.apache.spark.sql.Column,
        ring: Vector[(Int, Long)]) =
      ring.foldLeft(when(lit(false), lit(-1))) { case (acc, (n, p)) =>
        acc.when(pos <= p, lit(n))
      }.otherwise(lit(ring.head._1))
    val base = Tables.documents(s, d)
      .where($"doc_id".isNotNull)
      .select(hash32($"doc_id".cast("string")).as("pos"))
      .select(
        ($"pos" % 16).as("mb"), ($"pos" % 20).as("ma"),
        ringAssign($"pos", sorted16).as("rb"),
        ringAssign($"pos", sorted20).as("ra"))
    def census(scheme: String, before: String, after: String) =
      base.groupBy(col(after))
        .agg(count(lit(1)).as("c"),
          sum(when(col(before) =!= col(after), 1L).otherwise(0L)).as("mv"))
        .agg(sum($"c").as("n_docs"), sum($"mv").as("n_moved"),
          max($"c").as("max_shard_docs"))
        .select(lit(scheme).as("scheme"), $"n_docs", $"n_moved",
          expr("(n_moved * 1000000) DIV n_docs").as("moved_ppm"),
          $"max_shard_docs")
    census("consistent", "rb", "ra")
      .unionAll(census("modulo", "mb", "ma"))
      .orderBy($"scheme")
  }

  /** Curation funnel census (q206): the stage-by-stage survivor report
    * a corpus build publishes — raw → lexical token-count gate →
    * model-based quality filter ([[graft.operators.CorpusPipeline
    * .qualityFilter]], the q203 classifier as a pipeline stage) → exact
    * dedup (min-id per fingerprint). One row per stage with doc and
    * token mass, so the cost of each gate is readable at a glance (the
    * number FineWeb-style dataset reports lead with).
    *
    * Scale shape: each stage is a semi join on doc_id against an
    * O(survivors) key frame; the census is four aggs over frames that
    * share one tokenizing scan lineage. All output integers. */
  private val q206: Q = (s, d) => {
    import s.implicits._
    import graft.functions.TextFunctions.tokenCount
    val raw = Tables.documents(s, d)
      .where($"text".isNotNull && $"doc_id".isNotNull)
      .select($"doc_id", $"text", tokenCount($"text").as("ntok"))
    val gated = raw.where($"ntok" >= 10 && $"ntok" <= 1000)
    val quality = graft.operators.CorpusPipeline.qualityFilter(
      gated, graft.operators.CorpusPipeline.Config(), 1024, 0L)
    val reps = quality.withColumn("fp", fingerprint($"text"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val deduped = quality.join(reps, Seq("doc_id"), "left_semi")
    def census(stage: Int, name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
        .select(lit(stage.toLong).as("stage_id"), lit(name).as("stage"),
          $"n_docs", coalesce($"n_tokens", lit(0L)).as("n_tokens"))
    census(0, "raw", raw)
      .unionByName(census(1, "lex_gate", gated))
      .unionByName(census(2, "quality_filter", quality))
      .unionByName(census(3, "exact_dedup", deduped))
      .orderBy($"stage_id")
  }

  /** PII / identifier redaction census ([[graft.operators.PiiScrub]]) —
    * the privacy pass's shipping report: per (text surface × detector),
    * how many rows carry a hit, total hits, and the exact char delta a
    * redaction pass would apply. Surfaces span the free-text corpus
    * (documents.text — clean on this fixture, honest zeros) and the
    * structured name columns whose embedded account-number-style digit
    * runs are the hit substrate (Customer#NNNNNNNNN / Supplier#NNNNNNNNN).
    * Detection counts every detector independently on the original text;
    * chars_delta is per-detector single-pattern redaction, so each row of
    * the census is self-contained.
    *
    * Scale shape: detectors are codegen'd row regexes riding the scans
    * (zero shuffles before the grouped agg); the census exchanges
    * O(surfaces) rows, then a 4-row stack melt. The full sequential
    * [[graft.operators.PiiScrub.scrub]] rewrite is the same expressions
    * applied in one projection — this census IS its cost model. */
  private val q213: Q = (s, d) => {
    import s.implicits._
    import graft.operators.PiiScrub
    def surf(df: org.apache.spark.sql.DataFrame, name: String, c: String) =
      df.select(lit(name).as("surface"), col(c).cast("string").as("t"))
    val u = surf(Tables.documents(s, d), "documents.text", "text")
      .unionByName(surf(Tables.customer(s, d), "customer.c_name", "c_name"))
      .unionByName(surf(Tables.part(s, d), "part.p_name", "p_name"))
      .unionByName(surf(Tables.supplier(s, d), "supplier.s_name", "s_name"))
    val aggs = PiiScrub.detectors.zipWithIndex.flatMap {
      case ((_, p, ph), i) => Seq(
        sum(PiiScrub.hitCount($"t", p)).as(s"h$i"),
        sum(when(PiiScrub.hitCount($"t", p) > 0, 1L).otherwise(0L))
          .as(s"rh$i"),
        sum(when($"t".isNull, 0L).otherwise(
          (length(PiiScrub.scrubOne($"t", p, ph)) - length($"t"))
            .cast("long"))).as(s"cd$i"))
    }
    val one = u.groupBy($"surface")
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackArgs = PiiScrub.detectors.zipWithIndex.map {
      case ((n, _, _), i) => s"'$n', h$i, rh$i, cd$i"
    }.mkString(", ")
    one.selectExpr("surface", "n_rows",
        s"stack(${PiiScrub.detectors.size}, $stackArgs)" +
          " AS (detector, n_hits, n_rows_hit, chars_delta)")
      .select($"surface", $"detector", $"n_rows", $"n_rows_hit",
        $"n_hits", $"chars_delta")
      .orderBy($"surface", $"detector")
  }

  /** Committed BPE merge fixture for the export flagship (q223): a
    * 12-merge vocabulary model over the fixture corpus' character
    * space, applied in learned order. Literal model state — like q199's
    * dyadic centroids — so both engines replicate tokenization exactly;
    * BpeEncoderSpec pins the heap encoder equal to the merge fold on
    * the full fixture vocabulary under exactly this list. */
  private[graft] val packMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e",            // the
    "d" -> "a", "da" -> "t", "dat" -> "a", // data
    "a" -> "r", "p" -> "ar",            // part, spark
    "r" -> "o", "ro" -> "w",            // row, group
    "s" -> "t",                         // stream, fast, sort tails
    "o" -> "r",                         // order, sort, vector
    "q" -> "u")                         // query

  /** Shared oracle CTE chains for the q223 pipeline and its round-9
    * bisection sentinels — ONE text both the flagship and each
    * diagnostic reuse, so a sentinel result indicts the stage, not a
    * transcription drift. */
  private def packCntCtesP(p: String): String = {
    val charSplit =
      "'|' || array_to_string(string_split(w, ''), '|') || '|'"
    val encoded = packMerges.foldLeft(charSplit) { case (acc, (a, b)) =>
      s"replace($acc, '|$a|$b|', '|$a$b|')"
    }
    s"""${p}docs AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |${p}words AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM ${p}docs),
       |${p}enc AS (
       |  SELECT doc_id, $encoded AS s FROM ${p}words WHERE w <> ''),
       |${p}cnt AS (
       |  SELECT d.doc_id,
       |    CAST(coalesce(sum(len(string_split(e.s, '|')) - 2), 0)
       |      AS BIGINT) AS toks
       |  FROM ${p}docs d LEFT JOIN ${p}enc e USING (doc_id)
       |  GROUP BY d.doc_id)"""
      .stripMargin
  }
  private lazy val packCntCtes: String = packCntCtesP("")
  private lazy val packSeqCtes: String =
    """r AS (
      |  SELECT doc_id, toks,
      |    sum(toks) OVER (
      |      ORDER BY ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
      |               doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
      |  FROM cnt),
      |sq AS (SELECT doc_id, toks,
      |  CAST((rt - toks) // 512 AS BIGINT) AS seq FROM r)""".stripMargin

  /** Shared q240/q243/q246 oracle prefix (downstream of
    * [[packCntCtesP]]'s `cnt`): per-doc counts → per-language salted
    * order → 64-doc buckets → ≤512-token pieces. `cntName` points at
    * the counts CTE; `extraJoin` restricts the packed population (the
    * q246 trained-gate semi join). */
  private def packBucketCtesP(cntName: String, extraJoin: String,
      bucketDocs: Long = 64L): String =
    s"""pd AS (
      |  SELECT c.doc_id, c.toks, d.lang,
      |    ('0x' || substr(md5('bpack:' || CAST(c.doc_id AS VARCHAR)), 1, 8))::BIGINT AS hk
      |  FROM $cntName c JOIN documents d USING (doc_id)$extraJoin
      |  WHERE c.toks > 0),
      |pb AS (
      |  SELECT doc_id, toks, lang,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) - 1
      |      AS BIGINT) AS rnl0
      |  FROM pd),
      |pbk AS (SELECT doc_id, toks, lang, rnl0, rnl0 // $bucketDocs AS bucket FROM pb),
      |pc AS (
      |  SELECT doc_id, lang, bucket, rnl0, r.i AS pidx,
      |    CAST(least(512, toks - r.i * 512) AS BIGINT) AS size
      |  FROM pbk, unnest(range(0, CAST((toks + 511) // 512 AS BIGINT))) r(i))"""
      .stripMargin
  private lazy val packBucketCtes: String = packBucketCtesP("cnt", "")

  /** Shared q240/q249/q250 NEXT-FIT recursion (ord over the `src`
    * piece CTE, O(1)-state lockstep — all (lang, bucket) groups
    * advance one within-bucket position per step). */
  private def nextFitOrdSt(src: String): String =
    s"""ord AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY lang, bucket ORDER BY rnl0, pidx) AS pos
       |  FROM $src),
       |st AS (
       |  SELECT lang, bucket, pos, doc_id, size,
       |    CAST(0 AS BIGINT) AS seq, CAST(512 - size AS BIGINT) AS rem
       |  FROM ord WHERE pos = 1
       |  UNION ALL
       |  SELECT o.lang, o.bucket, o.pos, o.doc_id, o.size,
       |    CASE WHEN o.size <= st.rem THEN st.seq ELSE st.seq + 1 END,
       |    CASE WHEN o.size <= st.rem THEN st.rem - o.size
       |         ELSE 512 - o.size END
       |  FROM st JOIN ord o
       |    ON o.lang = st.lang AND o.bucket = st.bucket
       |   AND o.pos = st.pos + 1)""".stripMargin

  private lazy val nextFitOrdStCtes: String = nextFitOrdSt("pc")

  /** Shared q249/q250 export-census CTEs over a piece-assignment CTE
    * `st(lang, bucket, seq, size)`. */
  private lazy val exportCensusCtes: String =
    """perseq AS (
      |  SELECT lang, bucket, seq,
      |    CAST(sum(size) AS BIGINT) AS seq_tok,
      |    CAST(count(*) AS BIGINT) AS np
      |  FROM st GROUP BY 1, 2, 3),
      |bkt AS (
      |  SELECT lang, bucket,
      |    CAST(count(*) AS BIGINT) AS n_seqs,
      |    CAST(sum(np) AS BIGINT) AS n_pieces,
      |    CAST(sum(seq_tok) AS BIGINT) AS sum_tokens
      |  FROM perseq GROUP BY 1, 2)""".stripMargin

  /** Shared q243/q246 BFD recursion (ord over `pc`, best-fit lockstep
    * with the open-remainder LIST as state). */
  private lazy val bfdOrdStCtes: String =
    s"""ord AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY lang, bucket
       |    ORDER BY size DESC, rnl0, pidx) AS pos
       |  FROM pc),
       |st AS (
       |  SELECT lang, bucket, pos, doc_id, size,
       |    CAST(0 AS BIGINT) AS seq,
       |    [CAST(512 - size AS BIGINT)] AS rems
       |  FROM ord WHERE pos = 1
       |  UNION ALL
       |  SELECT o.lang, o.bucket, o.pos, o.doc_id, o.size,
       |    CASE WHEN $bfdFit IS NULL THEN CAST(len(st.rems) AS BIGINT)
       |         ELSE CAST($bfdPos - 1 AS BIGINT) END,
       |    CASE WHEN $bfdFit IS NULL
       |         THEN list_concat(st.rems, [CAST(512 - o.size AS BIGINT)])
       |         ELSE list_concat(list_concat(
       |            st.rems[1:$bfdPos - 1],
       |            [$bfdFit - o.size]),
       |            st.rems[$bfdPos + 1:]) END
       |  FROM st JOIN ord o
       |    ON o.lang = st.lang AND o.bucket = st.bucket
       |   AND o.pos = st.pos + 1)""".stripMargin

  /** Shared q240/q243 census tail over a piece-assignment CTE
    * `st(lang, bucket, seq, doc_id, size)`. */
  private lazy val packCensusTail: String =
    """perseq AS (
      |  SELECT lang, bucket, seq,
      |    CAST(sum(size) AS BIGINT) AS seq_tok,
      |    CAST(count(*) AS BIGINT) AS np,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS sdocs
      |  FROM st GROUP BY 1, 2, 3),
      |bkt AS (
      |  SELECT lang, bucket,
      |    CAST(count(*) AS BIGINT) AS n_seqs,
      |    CAST(sum(np) AS BIGINT) AS n_pieces,
      |    CAST(sum(seq_tok) AS BIGINT) AS sum_tokens,
      |    CAST(sum(CASE WHEN seq_tok > 512 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_overfull,
      |    CAST(sum(CASE WHEN sdocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_multi_doc_seqs
      |  FROM perseq GROUP BY 1, 2),
      |nd AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM pbk GROUP BY 1, 2)
      |SELECT b.lang, b.bucket AS shard, n_docs, n_pieces, n_seqs,
      |  sum_tokens,
      |  sum_tokens * 1000000 // (n_seqs * 512) AS fill_ppm,
      |  n_overfull, n_multi_doc_seqs
      |FROM bkt b JOIN nd USING (lang, bucket)
      |ORDER BY lang, shard""".stripMargin

  /** q243 recursion step helpers: the best-fit remainder and its
    * 1-based position in the state list. */
  private val bfdFit = "list_min(list_filter(st.rems, r -> r >= o.size))"
  private val bfdPos = s"list_position(st.rems, $bfdFit)"

  /** Tokenize → pack → shard EXPORT FLAGSHIP — the last mile every
    * training run ends with, as ONE oracle-checked composition (the
    * q65-flagship pattern): (1) BPE-encode every document with the
    * committed [[packMerges]] vocabulary through [[graft.operators
    * .BpeTrainer.tokenize]] — the real greedy heap encoder, spec-pinned
    * equal to the in-order merge fold; (2) concatenate the corpus in
    * the reproducible salted-hash permutation and pack it into
    * 512-token training sequences — the doc's sequence is its starting
    * token offset DIV 512, offsets from the window-free global prefix
    * sum ([[graft.functions.DistributedRank.withRunningTotal]], q94's
    * primitive); (3) group 16 sequences per shard (q122's assignment
    * idiom); (4) publish the per-shard census: sequences started, docs,
    * token mass, capacity fill in exact ppm. The disk twin of step 3/4
    * is [[graft.sources.IoOps.writeShards]] (IoOpsSpec pins the
    * re-export-identical membership).
    *
    * Cross-engine closure: packing consumes ONLY the per-doc token
    * count, and the oracle replays the BPE encode as a chained
    * leftmost-nonoverlapping replace over delimiter-framed character
    * strings — equal to the merge fold by construction (both take the
    * leftmost eligible pair and continue past it), with the fold
    * spec-pinned equal to the heap encoder. All census math is integer
    * (ppm via DIV).
    *
    * Scale shape: tokenization is one narrow typed map (real
    * tokenizers at 100 TB are the same shape — native code in a
    * mapPartitions); the prefix sum is one bucket exchange + an
    * O(buckets) offsets join; the census one hash agg. Nothing
    * funnels through a single task. */
  private val q223: Q = (s, d) => {
    import s.implicits._
    // the shared checkpointed per-doc BPE counts (r12): the running-
    // total pass below is two actions (boundary sampling + main), and
    // each re-ran the heap encoder before the cut
    val perDoc = q223PerDoc(s, d)
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("pack:"), $"doc_id".cast("string")))
    val seqd = graft.functions.DistributedRank
      .withRunningTotal(perDoc.withColumn("hk", h), "rt", $"toks",
        $"hk", $"doc_id")
      .select($"doc_id", $"toks", expr("(rt - toks) DIV 512").as("seq"))
    seqd
      .withColumn("shard", expr("seq DIV 16"))
      .groupBy($"shard")
      .agg(countDistinct($"seq").as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum($"toks").as("sum_tokens"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .select($"shard", $"n_seqs", $"n_docs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        $"min_doc", $"max_doc")
      .orderBy($"shard")
  }

  /** Shared per-doc BPE token counts for the q223 packing family
    * (the round-9 q223d1–d4 bisection sentinels that proved each
    * stage independently were retired in round 10 once q223 went
    * driver-green — VERDICT r9 #2). */
  private def q223PerDoc(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.operators.BpeTrainer
      .tokenize(Tables.documents(s, d)
        .where($"doc_id".isNotNull && $"text".isNotNull),
        "doc_id", "text", packMerges)
      .select($"doc_id", $"n_bpe_tokens".as("toks"))
      // checkpoint-once (r12, the q228 rule): the BPE heap encoder is an
      // opaque typed map, and every consumer fans MULTIPLE actions off
      // this frame (DistributedRank's boundary sampling + the main pass,
      // and the export queries' write/census actions) — without a cut
      // each action re-encodes the whole corpus, and the pack censuses'
      // multiply-referencing plans duplicated the encode subtree up to
      // 130× (q240's r12 before-plan). O(docs) × 2 narrow columns.
      .transform(Cut(_))
  }
  /** Doc-boundary-aware packing census — the ACTING counterpart of
    * q239's packing-purity audit, via [[graft.operators.SeqPacker]]
    * (Ding et al. 2024: truncation-free packing removes cross-document
    * attention bleed; q239 measured the bleed under q223's stream
    * packing, this query performs the packing that eliminates it).
    * Pipeline: the q223 BPE token counts → per-LANGUAGE reproducible
    * salted order → 64-doc buckets (q122's graining) → split long docs
    * into <=512-token own pieces → next-fit pack within each bucket.
    * Census per (lang, bucket): docs, pieces, sequences, token mass,
    * exact fill ppm, and the two invariant counters a reviewer needs —
    * sequences over capacity (must be 0) and sequences holding pieces
    * of more than one document (allowed: whole short docs sharing a
    * sequence are bleed-free under per-doc attention masks; what can
    * NEVER happen here is a torn doc or a mixed-language sequence,
    * the latter by construction since packing groups carry lang).
    *
    * Cross-engine closure: packing consumes only integer piece sizes;
    * the oracle replays the next-fit fold as a lockstep recursive CTE
    * over the within-bucket position (all buckets advance together, so
    * recursion depth = max pieces per bucket, ~100 at 64-doc buckets).
    *
    * Scale shape: one DistributedRank over the composite
    * langId*2^32+hash key (per-lang numbering WITHOUT per-lang hot
    * partitions), one O(langs) min-rank broadcast, one exchange on
    * (lang, bucket) + linear in-task fold, two hash aggs. The fill
    * price of boundary-purity vs q223 is the published number
    * (SeqPackerSpec pins the tradeoff direction). */
  private val q240: Q = (s, d) => boundaryPackCensus(s, d, bfd = false)

  /** q243: the SAME census under BEST-FIT-DECREASING packing
    * ([[graft.operators.SeqPacker.packBfd]] — the Ding et al. offline
    * algorithm; q240's next-fit is the streaming floor). Fill must
    * dominate q240's on every bucket (SeqPackerSpec pins the
    * direction); the oracle replays best-fit as the same lockstep
    * recursion with the open-remainder LIST as state (list_min ∘
    * list_filter = best fit, list_position = lowest-index tie). */
  private val q243: Q = (s, d) => boundaryPackCensus(s, d, bfd = true)

  /** Shard-export ROUND TRIP — the missing last step of the export
    * family, made driver-visible: q223/q240/q246 all COMPUTE shards
    * but nothing ever wrote them; [[graft.operators.SeqPacker
    * .writeShards]] persists the packed corpus in the training-export
    * layout (placement rows directory-partitioned by (lang, bucket) —
    * one shard per pack bucket — plus a per-shard manifest with an
    * order-free XOR fingerprint, built under a tmp dir and swapped in
    * by one rename: the VectorIndex crash-safety pattern). This query
    * packs exactly as q240 (next-fit; shared keying), WRITES the
    * export to a deterministic scratch dir, reads both layers back
    * FROM DISK, and reports the manifest census per shard with `ok` =
    * 1 iff the re-read files reproduce the manifest (pieces, distinct
    * sequences, token mass, XOR fingerprint). The oracle replays the
    * pack (prefix/recursion text shared verbatim with q240) and pins
    * `ok` = 1 — any write/read infidelity turns the row red.
    *
    * Scale shape: q240's pack + one partitioned write (hash-
    * repartitioned on the partition key, so no small-file explosion),
    * one manifest agg, one read-back census that prunes on partition
    * columns. Output O(shards). */
  private val q249: Q = (s, d) => {
    import s.implicits._
    import graft.operators.SeqPacker
    val lang = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"lang")
    val perDoc0 = q223PerDoc(s, d).where($"toks" > 0)
      .join(lang, Seq("doc_id"))
    val packed = SeqPacker.packDocs(packKeyed(perDoc0), 512)
    val tmp = tmpArtifactDir("graft_shards_q249", d)
    SeqPacker.writeShards(packed, tmp)
    val (files, man) = SeqPacker.readShards(s, tmp)
    val census = files.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("f_pieces"),
        countDistinct($"seq").as("f_seqs"),
        sum($"size").as("f_tokens"),
        SeqPacker.pieceChecksum.as("f_sum"))
    // full join: divergence in EITHER direction must surface as a row
    // the literal oracle cannot match
    man.join(census, Seq("lang", "bucket"), "full")
      .select($"lang", $"bucket".as("shard"),
        $"n_pieces", $"n_seqs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        (coalesce($"f_pieces", lit(-1L)) === $"n_pieces" &&
          coalesce($"f_seqs", lit(-1L)) === $"n_seqs" &&
          coalesce($"f_tokens", lit(-1L)) === $"sum_tokens" &&
          coalesce($"f_sum", lit(Long.MinValue)) === $"checksum")
          .cast("long").as("ok"))
      .orderBy($"lang", $"shard")
  }

  /** Erasure propagated into the shard EXPORT — the q221→q241 forget
    * arc completed on the second persisted corpus artifact (round-9
    * verdict #4's pattern): q241 erases from the vector index; this
    * query erases from the training export. Build the q240 export in a
    * scratch dir, then [[graft.operators.SeqPacker.forgetShards]] a
    * deterministic deletion slice (doc_id ≡ 13 mod 97 — fixed text
    * both engines) with the BOUNDED rewrite contract: only the shards
    * the list touches re-pack (survivors keep their original order),
    * emptied shard dirs are deleted, and touched manifest rows are
    * recomputed from the rewritten data under a WAL intent sidecar so
    * a crashed forget converges on retry (the spec drives the crash
    * windows; here the driver-visible claim is the END STATE). The
    * census re-reads BOTH layers from disk for the AFFECTED shards and
    * reports the post-forget manifest rows with ok = 1 iff the files
    * reproduce them — the oracle replays the pack of the bucket minus
    * the deleted docs (ranks/buckets from the FULL population: erasure
    * never renumbers the corpus) with q240/q249's shared recursion.
    *
    * Scale shape: q240's pack + write, then one narrow (docId +
    * partition columns) footprint scan, one re-pack exchange bounded
    * by the touched shards, one manifest merge on O(shards) rows. */
  private val q250: Q = (s, d) => {
    import s.implicits._
    import graft.operators.SeqPacker
    val lang = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"lang")
    val perDoc0 = q223PerDoc(s, d).where($"toks" > 0)
      .join(lang, Seq("doc_id"))
    val packed = SeqPacker.packDocs(packKeyed(perDoc0), 512)
    val tmp = tmpArtifactDir("graft_shards_q250", d)
    SeqPacker.writeShards(packed, tmp)
    // the pre-forget footprint, read from the WRITTEN export (never a
    // pack recompute) and materialized eagerly — the forget below
    // mutates the files this frame is derived from
    val affected = SeqPacker.readShards(s, tmp)._1
      .where($"docId" % 97 === 13)
      .select($"lang", $"bucket").distinct().transform(Cut(_))
    // the deletion list needs only ids — derived from `documents`, not
    // the BPE-count frame (ids absent from the export are harmless to
    // the footprint semi join, and this skips a tokenizing recompute)
    SeqPacker.forgetShards(s, tmp,
      Tables.documents(s, d).where($"doc_id" % 97 === 13)
        .select($"doc_id"),
      "doc_id", 512)
    val (files, man) = SeqPacker.readShards(s, tmp)
    val census = files.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("f_pieces"),
        countDistinct($"seq").as("f_seqs"),
        sum($"size").as("f_tokens"),
        SeqPacker.pieceChecksum.as("f_sum"))
    man.join(census, Seq("lang", "bucket"), "full")
      .join(affected, Seq("lang", "bucket"), "left_semi")
      .select($"lang", $"bucket".as("shard"),
        $"n_pieces", $"n_seqs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        (coalesce($"f_pieces", lit(-1L)) === $"n_pieces" &&
          coalesce($"f_seqs", lit(-1L)) === $"n_seqs" &&
          coalesce($"f_tokens", lit(-1L)) === $"sum_tokens" &&
          coalesce($"f_sum", lit(Long.MinValue)) === $"checksum")
          .cast("long").as("ok"))
      .orderBy($"lang", $"shard")
  }

  /** Erasure on the STREAMING export's batch_id layout, driver-visible
    * (the q250 pattern on the third persisted artifact): build the
    * q240 pack, land it as three micro-batch subtrees
    * ([[graft.streaming.StreamingExport.appendBatch]] — placements
    * split by packing order, content identical to the batch pack by
    * construction), then [[graft.streaming.StreamingExport.forget]]
    * the doc_id ≡ 13 mod 97 slice. Unlike forgetShards, survivors are
    * NOT re-packed — sequences keep their numbering with holes
    * (erasure never renumbers, and batch subtrees own their redelivery
    * contract) — so the oracle replays the FULL pack (q240/q249's
    * shared recursion) and simply deletes the erased docs' rows: the
    * per-shard survivor census (pieces, distinct seqs, token mass,
    * post-erasure fill) must match exactly, with ok = 1 pinned as a
    * literal — any manifest/data divergence after the forget is a
    * driver-red row.
    *
    * Scale shape: q240's pack + three bounded batch writes; the forget
    * is one narrow footprint scan + a dynamic overwrite bounded by the
    * touched (batch, lang, bucket) partitions + O(touched batches)
    * manifest recomputes; the census reads manifest rows and one data
    * agg. */
  private val q258: Q = (s, d) => {
    import s.implicits._
    import graft.operators.SeqPacker
    import graft.streaming.StreamingExport
    val lang = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"lang")
    val perDoc0 = q223PerDoc(s, d).where($"toks" > 0)
      .join(lang, Seq("doc_id"))
    // 512-doc shard grain (vs the batch export's 64): the batch_id
    // layout multiplies leaf directories by the batch count, and the
    // write/overwrite cost here is per-DIRECTORY commit work, not data
    // — measured 8x fewer dirs ~= 8x cheaper end-to-end at the probe
    val placed = SeqPacker.packDocs(packKeyed(perDoc0, 512L), 512)
      .toDF().transform(Cut(_))
    val tmp = tmpArtifactDir("graft_stream_q258", d)
    Seq(0L, 1L, 2L).foreach { b =>
      StreamingExport.appendBatch(placed.where($"ord1" % 3 === b), tmp, b)
    }
    // pre-forget footprint at the output grain, from the checkpointed
    // placement frame (identical to the landed data by appendBatch's
    // contract — no disk round trip before the forget mutates files)
    val affected = placed
      .where($"docId" % 97 === 13)
      .select($"lang", $"bucket".as("shard")).distinct().transform(Cut(_))
    StreamingExport.forget(s, tmp,
      Tables.documents(s, d).where($"doc_id" % 97 === 13)
        .select($"doc_id"),
      "doc_id")
    StreamingExport.census(s, tmp)
      .join(affected, Seq("lang", "shard"), "left_semi")
      .select($"lang", $"shard", $"n_pieces", $"n_seqs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        $"ok")
      .orderBy($"lang", $"shard")
  }

  /** Shared q240/q243/q246 bucket keying: (doc_id, lang, toks) →
    * (lang, bucket, ord1, doc_id, toks) via ONE DistributedRank over
    * the composite langId·2^32+hash key (per-language salted order
    * without per-language hot partitions) and 64-doc buckets. */
  private def packKeyed(perDoc0: org.apache.spark.sql.DataFrame,
      bucketDocs: Long = 64L): org.apache.spark.sql.DataFrame = {
    // dense language id: O(langs) frame, the repo-blessed bounded
    // unpartitioned window (world languages, not corpus-tracking)
    val langDim = perDoc0.select(col("lang")).distinct()
      .withColumn("lid", row_number().over(Window.orderBy(col("lang")))
        .cast("long"))
    val hk = graft.functions.DedupFunctions.hash32(
      concat(lit("bpack:"), col("doc_id").cast("string")))
    val keyed = perDoc0.join(broadcast(langDim), Seq("lang"))
      .withColumn("hk", hk)
      .withColumn("key", col("lid") * lit(4294967296L) + col("hk"))
    val ranked = DistributedRank.withRowNumber(keyed, "rn", col("key"),
      col("doc_id"))
    val minRn = ranked.groupBy(col("lang")).agg(min(col("rn")).as("rn0"))
    ranked.join(broadcast(minRn), Seq("lang"))
      .select(col("lang"), expr(s"(rn - rn0) DIV $bucketDocs").as("bucket"),
        (col("rn") - col("rn0")).as("ord1"), col("doc_id"), col("toks"))
      // checkpoint-once (r12): the keyed frame is referenced by minRn,
      // the pack fold AND the census consumers — before the cut the
      // multiply-referenced rank subtree (exchange + bucket window +
      // offsets join) re-planned per reference and blew the pack
      // censuses' plans up to 4 000+ lines (q240/q243 r12 before-plans).
      // O(docs) × 5 narrow columns.
      .transform(Cut(_))
  }

  /** ROUND-9 FLAGSHIP composition — the complete model-governed export
    * arc as ONE oracle-checked query (the q65/q206/q235 composition
    * pattern over this round's operators): label → train → gate →
    * truncation-free pack → per-language export manifest.
    * (1) [[graft.operators.LogReg]] trains on the doc_id % 7 ≠ 0 slice
    * (q242's trainer — oracle text shared byte-for-byte);
    * (2) the LEARNED weights score the WHOLE corpus and the export
    * keeps the clean side (logit ≤ 0 — the classifier flags dup-like
    * docs, and the degenerate zero-weight model from an empty training
    * set keeps everything, the LogReg empty-input contract);
    * (3) survivors are boundary-packed with BEST-FIT-DECREASING
    * ([[graft.operators.SeqPacker.packBfd]], q243's machinery —
    * bucket keying and recursion oracle text shared);
    * (4) the manifest reports, per language: input docs, gate drops,
    * kept docs, training sequences, token mass, and exact fill ppm —
    * the drop a training run would actually ship.
    *
    * Scale shape: the trainer is q242's (fixed rounds over a
    * checkpointed train-slice feature frame); scoring is ONE corpus
    * tokenizing scan against the O(dims) broadcast model; the pack is
    * q243's (one DistributedRank + one exchange + linear fold); the
    * manifest lives on O(langs) rows. Division guarded for the
    * zero-sequence language (ANSI mode; empty-input sweep). */
  private val q246: Q = (s, d) => {
    import s.implicits._
    import graft.operators.LogReg
    import graft.functions.TextFunctions.tokens
    val DIMS = 1024
    val ITERS = 8
    // checkpoint-once (r12): the labeled corpus feeds the trainer, the
    // whole-corpus scoring, and three census branches — each action
    // re-ran the tokenize+label scan before the cut (A/B probed: warm
    // 5.3 s with the cut vs 6.7 s without at sf0.1)
    val docsAll = TextQueries.labelledDocs(s, d, "lang")
    val train = docsAll.where($"doc_id" % 7 =!= 0)
    val trToks = train.select($"doc_id", explode(tokens($"text")).as("tok"))
    val trFeats = LogReg.features(trToks, "doc_id", "tok", DIMS, binary = true)
    val labels = LogReg.balancedLabels(train.select($"doc_id", $"y"), "doc_id")
    val w = LogReg.train(trFeats, labels, "doc_id",
      iters = ITERS, etaLog2 = 2, decay = true, weightCol = Some("wt"))
    val allToks = docsAll.select($"doc_id", explode(tokens($"text")).as("tok"))
    val allFeats = LogReg.features(allToks, "doc_id", "tok", DIMS, binary = true)
    // checkpoint-once (r12): kept is consumed by the pack's semi join
    // AND the per-lang kept census — each reference re-ran the whole
    // scoring chain (corpus tokenize + features + model join) before
    // the cut. O(kept docs) × 1 column.
    val kept = LogReg.score(allFeats, w, "doc_id")
      .where($"logit_w" <= 0L).select($"doc_id").transform(Cut(_))
    val perDoc0 = q223PerDoc(s, d).where($"toks" > 0)
      .join(kept, Seq("doc_id"), "left_semi")
      .join(docsAll.select($"doc_id", $"lang"), Seq("doc_id"))
    val packed = graft.operators.SeqPacker
      .packDocs(packKeyed(perDoc0), 512, bfd = true).toDF()
    val perSeq = packed.groupBy($"lang", $"bucket", $"seq")
      .agg(sum($"size").as("seq_tok"))
    val packLang = perSeq.groupBy($"lang")
      .agg(count(lit(1)).as("n_seqs"), sum($"seq_tok").as("sum_tokens"))
    val inp = docsAll.groupBy($"lang").agg(count(lit(1)).as("n_input"))
    val keptLang = docsAll.join(kept, Seq("doc_id"), "left_semi")
      .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
    inp.join(keptLang, Seq("lang"), "left")
      .join(packLang, Seq("lang"), "left")
      .select($"lang", $"n_input",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        ($"n_input" - coalesce($"n_kept", lit(0L))).as("n_dropped"),
        coalesce($"n_seqs", lit(0L)).as("n_seqs"),
        coalesce($"sum_tokens", lit(0L)).as("sum_tokens"),
        when(coalesce($"n_seqs", lit(0L)) > 0L,
          expr("sum_tokens * 1000000 DIV (n_seqs * 512)"))
          .otherwise(lit(0L)).as("fill_ppm"))
      .orderBy($"lang")
  }

  private def boundaryPackCensus(s: org.apache.spark.sql.SparkSession,
      d: String, bfd: Boolean): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val lang = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"lang")
    val perDoc0 = q223PerDoc(s, d).where($"toks" > 0)
      .join(lang, Seq("doc_id"))
    val perDoc = packKeyed(perDoc0)
    val packed = graft.operators.SeqPacker
      .packDocs(perDoc, 512, bfd = bfd).toDF()
    val perSeq = packed.groupBy($"lang", $"bucket", $"seq")
      .agg(sum($"size").as("seq_tok"), count(lit(1)).as("np"),
        countDistinct($"docId").as("sdocs"))
    val bkt = perSeq.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_seqs"), sum($"np").as("n_pieces"),
        sum($"seq_tok").as("sum_tokens"),
        sum(when($"seq_tok" > 512, 1L).otherwise(0L)).as("n_overfull"),
        sum(when($"sdocs" > 1, 1L).otherwise(0L)).as("n_multi_doc_seqs"))
    val nd = perDoc.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"))
    bkt.join(nd, Seq("lang", "bucket"))
      .select($"lang", $"bucket".as("shard"), $"n_docs", $"n_pieces",
        $"n_seqs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        $"n_overfull", $"n_multi_doc_seqs")
      .orderBy($"lang", $"shard")
  }

  /** Borda rank-fusion data selection — the rank-aggregation shape
    * used when several incomparable quality signals must pick one
    * training subset (the multi-judge setting of LLM-as-judge ensembles
    * and Cormack et al.'s rank fusion; Borda rather than RRF because
    * rank SUMS stay exact integers cross-engine where RRF's 1/(k+r)
    * fractions cannot). Three signals ride ONE tokenizing scan: token
    * count (longer is better here), lexical diversity (distinct-token
    * ppm), and the hashed classifier logit (q203's scorer). Each signal
    * becomes a full global ranking through the window-free
    * [[graft.functions.DistributedRank]] (descending = negated key,
    * doc_id tie-break), the Borda score is the integer sum of the three
    * ranks, and the selection is the global top-20 (TakeOrdered — no
    * window over data).
    *
    * Scale shape: one explode scan + one per-doc hash agg compute all
    * three signals; each ranking is DistributedRank's two-pass bucket
    * exchange over the DOC-level frame (O(docs), never positions); the
    * fusion is a three-way equi self-join on doc_id of three same-size
    * doc-keyed frames. */
  private val q228: Q = (s, d) => {
    import s.implicits._
    import graft.operators.HashedLinearModel.{bucket, weight16}
    // each DistributedRank pass is a boundary-sampling action + a main
    // pass — six recomputes of the tokenizing scan without a cut; the
    // doc-level signal frame is O(docs) rows, checkpoint it once
    val sig = Tables.documents(s, d)
      .where($"text".isNotNull && $"doc_id".isNotNull)
      .select($"doc_id",
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"),
        countDistinct($"tok").as("n_uniq"),
        sum(weight16(bucket($"tok", 1024), "hlmw")).as("logit16"))
      .select($"doc_id", $"n_tok",
        expr("n_uniq * 1000000 DIV n_tok").as("uniq_ppm"), $"logit16")
      .transform(Cut(_))
    val r1 = DistributedRank.withRowNumber(
      sig.select($"doc_id", $"n_tok"), "r1", -$"n_tok", $"doc_id")
      .select($"doc_id", $"r1")
    val r2 = DistributedRank.withRowNumber(
      sig.select($"doc_id", $"uniq_ppm"), "r2", -$"uniq_ppm", $"doc_id")
      .select($"doc_id", $"r2")
    val r3 = DistributedRank.withRowNumber(
      sig.select($"doc_id", $"logit16"), "r3", -$"logit16", $"doc_id")
      .select($"doc_id", $"r3")
    r1.join(r2, Seq("doc_id")).join(r3, Seq("doc_id"))
      .select($"doc_id", $"r1", $"r2", $"r3",
        ($"r1" + $"r2" + $"r3").as("borda"))
      .orderBy($"borda", $"doc_id")
      .limit(20)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"borda", $"doc_id")))
      .select($"rnk".cast("long").as("rnk"), $"doc_id",
        $"r1", $"r2", $"r3", $"borda")
      .orderBy($"rnk")
  }

  /** Tokenizer fertility + compression census — the per-language
    * tokenizer-quality report every multilingual training effort
    * publishes (fertility = subword tokens per word, Ács 2019; bytes
    * per token is the compression rate pricing and context budgets are
    * quoted in): BPE-encode the corpus with the committed [[packMerges]]
    * vocabulary (the q223 encoder — spec-pinned heap == merge fold) and
    * report, per language, document/word/BPE-token/char masses plus
    * fertility in exact ppm and chars-per-token in exact milli units.
    * A fertility that drifts up on one language is the standard signal
    * that the vocabulary under-serves it.
    *
    * Scale shape: encoding is the same narrow typed map as q223 (no
    * shuffle); the census is one doc-keyed join of the count frame to
    * the (lang, n_chars) projection and one hash agg — O(docs) rows
    * after the scan, integer DIV closures only. */
  private val q229: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull &&
        length(trim($"text")) > 0)
    val counted = graft.operators.BpeTrainer
      .countTokens(docs, "doc_id", "text", packMerges)
    docs.select($"doc_id", $"lang", $"n_chars",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long")
          .as("n_words"))
      .join(counted, Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("sum_words"),
        sum($"n_bpe_tokens").as("sum_bpe"),
        sum($"n_chars").as("sum_chars"))
      .select($"lang", $"n_docs", $"sum_words", $"sum_bpe", $"sum_chars",
        expr("sum_bpe * 1000000 DIV sum_words").as("fertility_ppm"),
        expr("sum_chars * 1000 DIV sum_bpe").as("chars_per_tok_milli"))
      .orderBy($"lang")
  }

  /** Vocabulary-ARTIFACT fertility curve — the q229 census with the
    * vocabulary ROUND-TRIPPING THROUGH STORAGE (VERDICT r9 #3: every
    * other model here persists — [[graft.operators.VectorIndex]]
    * centroids/codebooks, [[graft.operators.SuffixIndex]] — while the
    * tokenizer, the artifact a training pipeline ships FIRST,
    * re-derived inline): [[graft.operators.BpeTrainer.save]] commits
    * the committed [[packMerges]] model to a parquet artifact,
    * [[graft.operators.BpeTrainer.load]] reads it back
    * (integrity-checked), and the corpus is encoded UNDER THE LOADED
    * LIST at two vocabulary sizes (6-merge prefix and the full 12) via
    * the one-scan [[graft.operators.BpeTrainer.countTokensCurve]] —
    * per (lang, vocab size): doc/word/BPE-token masses and fertility
    * in exact ppm, the per-language vocabulary-sizing view (a language
    * whose fertility barely improves from 6→12 is under-served by the
    * added merges). The oracle replays both prefix folds as replace
    * chains (the q223 convention — spec-pinned equal to the fold);
    * BpeVocabSpec pins train→save→load→encode identity.
    *
    * Scale shape: the artifact is KB (model-table rule); encode is the
    * same narrow no-shuffle map as q229 — BOTH curve points from ONE
    * scan (the q234 fusion); census is one doc-keyed join + hash agg. */
  private val q259: Q = (s, d) => {
    import s.implicits._
    val dir = tmpArtifactDir("graft_bpe_vocab", d)
    graft.operators.BpeTrainer.save(s, packMerges, dir)
    val loaded = graft.operators.BpeTrainer.load(s, dir)
    require(loaded == packMerges, "vocabulary artifact round-trip drift")
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull &&
        length(trim($"text")) > 0)
    val curve = graft.operators.BpeTrainer
      .countTokensCurve(docs, "doc_id", "text", loaded, Seq(6, 12))
    docs.select($"doc_id", $"lang",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long")
          .as("n_words"))
      .join(curve, Seq("doc_id"))
      .groupBy($"lang", $"n_merges")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("sum_words"),
        sum($"n_bpe_tokens").as("sum_bpe"))
      .select($"lang", $"n_merges", $"n_docs", $"sum_words", $"sum_bpe",
        expr("sum_bpe * 1000000 DIV sum_words").as("fertility_ppm"))
      .orderBy($"lang", $"n_merges")
  }

  /** Incremental materialized-view maintenance — the merge algebra that
    * turns the reference's daily FULL-REWRITE report jobs
    * (the `homed/repots` jobs re-derive every day from scratch) into O(delta)
    * work: a per-language corpus census is kept as MERGEABLE partial
    * states, yesterday's states persist, and only the arriving batch is
    * scanned. Here the corpus splits into base (every source but
    * src19) and delta (src19 — the q106 arriving-batch convention);
    * each side reduces to per-language states and the MERGE reproduces
    * the full recompute EXACTLY, which is precisely what the oracle
    * (a from-scratch census over everything) checks. The states and
    * their merges: doc count/char mass by SUM, id range by MIN/MAX, and
    * — the interesting one — exact distinct vocabulary as a token SET
    * union (A13's no-UDF array_distinct∘flatten merge), because
    * distinct COUNTS do not add across overlapping partitions. The mean
    * doc length derives from merged sums (never stored — averages don't
    * merge).
    *
    * Scale shape: each side is one doc-grain agg + one vocab-set agg
    * (map-side partial, tokens collapse to the Heaps-sublinear
    * per-(lang, side) set before the exchange); the merge touches
    * O(langs) rows. At 100 TB the base states are a persisted table
    * and the set state swaps for the HLL sketch Monitor already
    * persists (q08's accuracy contract) — same algebra, bounded state. */
  private val q230: Q = (s, d) => {
    import s.implicits._
    def states(part: org.apache.spark.sql.DataFrame) = {
      val doc = part.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      val vocab = part
        .select($"lang",
          explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
        .groupBy($"lang").agg(collect_set($"tok").as("toks"))
      doc.join(vocab, Seq("lang"))
    }
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
    val base = states(docs.where($"source" =!= "src19"))
    val delta = states(docs.where($"source" === "src19"))
    base.unionByName(delta)
      .groupBy($"lang")
      .agg(sum($"n_docs").as("n_docs"), sum($"sum_chars").as("sum_chars"),
        min($"min_doc").as("min_doc"), max($"max_doc").as("max_doc"),
        size(array_distinct(flatten(collect_list($"toks"))))
          .cast("long").as("n_vocab"))
      .select($"lang", $"n_docs", $"sum_chars", $"min_doc", $"max_doc",
        $"n_vocab", expr("sum_chars DIV n_docs").as("chars_per_doc"))
      .orderBy($"lang")
  }

  /** Independent-gate ablation census — the filter-correlation
    * diagnostic behind published ablations (Dolma, RefinedWeb report
    * per-filter removal rates BEFORE sequencing them): q224 attributes
    * each drop to the FIRST failing stage of the pipeline order; this
    * query evaluates four gates INDEPENDENTLY on the raw input and
    * reports, per gate, its total failure mass and its EXCLUSIVE mass
    * (docs only it catches) — the number that says whether a gate earns
    * its runtime or is subsumed by the others. Gates: token-length
    * window (q224's), language allowlist, exact-duplicate loser
    * (min-doc_id-per-fingerprint election, q46), lexical-repetition
    * floor (distinct-token ratio ≥ 35%, the q76/q142 family).
    *
    * Scale shape: ONE tokenizing scan computes length + repetition; the
    * dup gate adds the q46 fingerprint exchange (min per md5 group
    * broadcast... joined back on the fingerprint — map-side partial
    * min); the ablation is then pure boolean algebra on a per-doc
    * 4-flag frame, one hash agg per gate via an inline explode of the
    * four (gate, fail, only) tuples. */
  private val q232: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
    val sig = docs
      .select($"doc_id", $"lang",
        md5(trim($"text").cast("binary")).as("fp"),
        explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"lang", $"fp")
      .agg(count(lit(1)).as("n_tok"), countDistinct($"tok").as("n_uniq"))
    val keeper = sig.groupBy($"fp").agg(min($"doc_id").as("keep_id"))
    val flags = sig.join(keeper, Seq("fp"))
      .select($"doc_id",
        (!($"n_tok" >= 10 && $"n_tok" <= 1000)).as("f_len"),
        (!$"lang".isin("de", "en", "es", "fr")).as("f_lang"),
        ($"doc_id" =!= $"keep_id").as("f_dup"),
        (expr("n_uniq * 1000000 DIV n_tok") < 350000L).as("f_rep"))
    val gates: Seq[(String, org.apache.spark.sql.Column)] =
      Seq("len" -> $"f_len", "lang" -> $"f_lang",
        "dup" -> $"f_dup", "rep" -> $"f_rep")
    val exploded = flags.select(explode(array(gates.map { case (g, c) =>
      struct(lit(g).as("gate"), c.as("fail"),
        (c && !gates.filter(_._1 != g).map(_._2).reduce(_ || _)).as("only"))
    }: _*)).as("x"))
    exploded
      .groupBy($"x.gate".as("gate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"x.fail", 1L).otherwise(0L)).as("n_fail"),
        sum(when($"x.only", 1L).otherwise(0L)).as("n_fail_only"))
      .select($"gate", $"n_docs", $"n_fail", $"n_fail_only",
        expr("n_fail * 1000000 DIV n_docs").as("fail_ppm"))
      .orderBy($"gate")
  }

  /** UniMax language-budget allocation (Chung et al. 2023 — the mT5/
    * PaLM-2-era alternative to α-temperature sampling): spread the
    * token budget UNIFORMLY across languages, except no language may
    * repeat more than C epochs — low-resource languages hit the epoch
    * cap, the surplus waterfills into the rest. Completes the mixture-
    * planning family: q130 temperature (relative weights), q216
    * Muennighoff (global utility-decay epochs), q220 DoReMi
    * (loss-driven), q233 UniMax (uniform-with-caps).
    *
    * Integer waterfilling closure: sort languages by mass ascending;
    * language i is CAPPED iff C·u_i·(n−i+1) ≤ B − C·Σ_{j<i}u_j — a pure
    * integer comparison (no division), and both sides are monotone in
    * i, so the capped set is the maximal prefix t. Uncapped languages
    * split the remainder by integer DIV; the sub-(n−t) division
    * remainder is reported as `leftover` on every row rather than
    * silently over-allocated. Budget B = (3·total) DIV 2, cap C = 2.
    *
    * Scale shape: one map-side token census per language; everything
    * after lives on O(langs) rows (the rank window is bounded by the
    * language census, never by data). */
  /** The q233 waterfilling as a reusable frame — (lang, u_tokens,
    * capped, budget, alloc_tokens, leftover) — shared by q233's report
    * and q255's materializer (census→action: the plan and the stream it
    * plans must come from ONE allocation). */
  private def unimaxAllocFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val C = 2L
    val per = Tables.documents(s, d)
      .where($"text".isNotNull && $"lang".isNotNull)
      .select($"lang", size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
      .groupBy($"lang").agg(sum($"tok").as("u_tokens"))
    val tot = per.agg(expr("(sum(u_tokens) * 3) DIV 2").as("budget"),
      count(lit(1)).as("n"))
    val w = Window.orderBy($"u_tokens", $"lang")
    val ranked = per
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("prefc",
        (sum($"u_tokens").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) * C).as("prefc"))
      .crossJoin(broadcast(tot))
      .withColumn("capped",
        lit(C) * $"u_tokens" * ($"n" - $"i" + 1L) <=
          $"budget" - ($"prefc" - lit(C) * $"u_tokens"))
    val t = ranked.agg(coalesce(sum(when($"capped", 1L).otherwise(0L)),
      lit(0L)).as("t"),
      coalesce(max(when($"capped", $"prefc")), lit(0L)).as("capmass"))
    ranked.crossJoin(broadcast(t))
      .select($"lang", $"u_tokens", $"capped", $"budget",
        when($"capped", lit(C) * $"u_tokens")
          .otherwise(expr("(budget - capmass) DIV (n - t)"))
          .as("alloc_tokens"),
        // ANSI mode: n = t (everything capped) would divide by zero on
        // this unconditional column — guard it (B >= C*total regime)
        when($"n" > $"t",
          expr("(budget - capmass) - ((budget - capmass) DIV (n - t)) * (n - t)"))
          .otherwise(expr("budget - capmass")).as("leftover"))
  }

  private val q233: Q = (s, d) => {
    import s.implicits._
    unimaxAllocFrame(s, d)
      .select($"lang", $"u_tokens",
        $"capped".cast("string").as("capped"), $"alloc_tokens",
        expr("alloc_tokens * 1000 DIV u_tokens").as("epochs_milli"),
        expr("alloc_tokens * 1000000 DIV budget").as("share_ppm"),
        $"leftover")
      .orderBy($"lang")
  }

  /** Epoch-mixture MATERIALIZER — the acting counterpart of q233 (the
    * census→action rule: q129→q134, q231→q238, q239→q240): UniMax
    * *plans* per-language token budgets; a trainer needs an actual
    * per-document repeat assignment that DELIVERS them. Every language
    * repeats `alloc DIV u_tokens` full epochs; the fractional epoch is
    * the maximal PREFIX of the language's documents in reproducible
    * salted-hash order (the writeShards convention — re-runs and
    * incremental re-exports assign identically) whose token mass fits
    * the remainder `alloc % u_tokens`. No sampling, no floats: the
    * delivered mass is exact, the undeliverable tail (`shortfall` — at
    * most one document's tokens) is REPORTED per language, never
    * silently dropped or over-served (the q233 leftover discipline).
    *
    * Scale shape: per-doc token counts ride one narrow scan; the
    * within-language prefix sum is ONE window-free
    * [[graft.functions.DistributedRank.withRunningTotal]] pass over the
    * composite `langId·2^32 + hash` key (the q240 keying — no
    * per-language hot partition, no single-task window), de-offset per
    * language by the O(langs) census joined back broadcast; everything
    * else lives on O(langs) rows. The oracle replays the waterfilling
    * (CTE text shared with q233) and the prefix rule with a per-lang
    * window — exact integers end to end. */
  private val q255: Q = (s, d) => {
    import s.implicits._
    val alloc = unimaxAllocFrame(s, d)
      .select($"lang", $"u_tokens", $"alloc_tokens")
    // doc_id feeds hash32→okey: a null id would null the okey and lose
    // the lang_id component of the global sort while the oracle sorts
    // it NULLS FIRST within its lang partition — filter it on BOTH
    // engines (the q256 convention; current testdata has none, but the
    // driver regenerates testdata between rounds)
    val doc = Tables.documents(s, d)
      .where($"text".isNotNull && $"lang".isNotNull && $"doc_id".isNotNull)
      .select($"lang", $"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
    // dense language ids + per-language global-prefix bases, both from
    // the O(langs) doc census via a triangular broadcast self-join (the
    // DistributedRank offsets idiom — no unpartitioned window even on
    // metadata rows). Bases come from the DOC frame, not the alloc
    // frame, so the de-offset is self-consistent by construction with
    // the running total it corrects (they coincide with u_tokens under
    // today's shared filters; this survives a filter drift).
    val cen = doc.groupBy($"lang").agg(sum($"tok").as("m"))
    val dim = cen.select($"lang".as("l2"), $"m".as("m2"))
    val langDim = cen
      .join(broadcast(dim), $"lang" > $"l2", "left")
      .groupBy($"lang")
      .agg(count($"l2").as("lang_id"),
        coalesce(sum($"m2"), lit(0L)).as("lang_base"))
    val keyed = doc.join(broadcast(langDim), "lang")
      .withColumn("hk", graft.functions.DedupFunctions.hash32(
        concat(lit("epoch:"), $"doc_id".cast("string"))))
      .withColumn("okey", $"lang_id" * lit(4294967296L) + $"hk")
    val pref = graft.functions.DistributedRank
      .withRunningTotal(keyed, "rt", $"tok", $"okey", $"doc_id")
      .withColumn("pref", $"rt" - $"lang_base")
    val marked = pref.join(broadcast(alloc), "lang")
      .withColumn("full_epochs", expr("alloc_tokens DIV u_tokens"))
      .withColumn("extra",
        ($"pref" <= expr("alloc_tokens % u_tokens")).cast("long"))
    marked.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        min($"u_tokens").as("u_tokens"),
        min($"alloc_tokens").as("alloc_tokens"),
        min($"full_epochs").as("full_epochs"),
        sum($"extra").as("extra_docs"),
        (min($"full_epochs") * min($"u_tokens") +
          sum($"extra" * $"tok")).as("delivered_tokens"))
      .withColumn("shortfall", $"alloc_tokens" - $"delivered_tokens")
      .orderBy($"lang")
  }

  /** Training-STREAM manifest — the composition that closes the
    * mixture arc (plan → materialize → PACK, the q246 flagship pattern
    * over this round's operators): q255's epoch assignment actually
    * emitted as a repeat stream (epoch-major: every full epoch is a
    * complete pass over the language in the reproducible salted order;
    * the fractional epoch is the q255 token-prefix — because the extra
    * set is a PREFIX of the same order, instance position is simply
    * `epoch·n_docs + rank`), then boundary-packed into 512-token
    * sequences with [[graft.operators.SeqPacker]]'s next-fit (the
    * STREAMING discipline — a training loader consumes in arrival
    * order; BFD is the offline variant, q243) over 64-unit buckets.
    * The manifest reports, per (lang, shard): repeat instances,
    * pieces, sequences, token mass, exact fill ppm, and the
    * no-straddle invariants (overfull = 0 by construction,
    * multi-doc-seq count — bounded bleed, the q239 measurement).
    *
    * Scale shape: the keyed doc frame is checkpointed ONCE (narrow,
    * O(docs)) and feeds BOTH the token-prefix pass and the rank pass
    * (each one bucket exchange — the q253 multi-consumer lesson);
    * language dims (id, token base, count base, size) ride one
    * triangular broadcast self-join over the O(langs) census; the
    * epoch explode is bounded by the cap (≤ C+1 instances/doc); the
    * pack is SeqPacker's exchange + O(1)-state fold. The oracle replays
    * allocation (CTE text shared with q233/q255), instances
    * (`unnest(range(...))`), and the pack (the q240 next-fit lockstep
    * recursion, text shared verbatim). */
  private val q256: Q = (s, d) => {
    import s.implicits._
    val alloc = unimaxAllocFrame(s, d)
      .select($"lang", $"u_tokens", $"alloc_tokens")
    // doc_id must be non-null here (unlike q255): instances become
    // SeqPacker.Piece rows whose docId is a primitive Long — a null id
    // would crash the encoder, not mis-rank (NullInputSpec). The census
    // frame below derives from THIS filtered frame, so ranks, bases and
    // counts stay self-consistent; only the (pathological) null-id docs
    // drop out of the stream, on both engines identically.
    val doc = Tables.documents(s, d)
      .where($"text".isNotNull && $"lang".isNotNull && $"doc_id".isNotNull)
      .select($"lang", $"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
    val cen = doc.groupBy($"lang")
      .agg(sum($"tok").as("m"), count(lit(1)).as("nl"))
    val dim = cen.select($"lang".as("l2"), $"m".as("m2"), $"nl".as("nl2"))
    val langDim = cen
      .join(broadcast(dim), $"lang" > $"l2", "left")
      .groupBy($"lang")
      .agg(min($"nl").as("nl"),
        count($"l2").as("lang_id"),
        coalesce(sum($"m2"), lit(0L)).as("lang_base"),
        coalesce(sum($"nl2"), lit(0L)).as("cnt_base"))
    val keyed = doc.join(broadcast(langDim), "lang")
      .withColumn("hk", graft.functions.DedupFunctions.hash32(
        concat(lit("epoch:"), $"doc_id".cast("string"))))
      .withColumn("okey", $"lang_id" * lit(4294967296L) + $"hk")
      .transform(Cut(_))
    val pref = graft.functions.DistributedRank
      .withRunningTotal(keyed, "rt", $"tok", $"okey", $"doc_id")
      .withColumn("pref", $"rt" - $"lang_base")
    val ranked = graft.functions.DistributedRank
      .withRowNumber(pref, "rn", $"okey", $"doc_id")
      .withColumn("rnl", $"rn" - $"cnt_base" - 1L)
    val inst = ranked.join(broadcast(alloc), "lang")
      .withColumn("reps",
        expr("alloc_tokens DIV u_tokens") +
          ($"pref" <= expr("alloc_tokens % u_tokens")).cast("long"))
      .withColumn("e", explode(when($"reps" > 0L,
        sequence(lit(0L), $"reps" - 1L)).otherwise(array())))
      .withColumn("pos", $"e" * $"nl" + $"rnl")
      .select($"lang", expr("pos DIV 64").as("bucket"),
        $"pos".as("ord1"), $"doc_id", $"tok".as("toks"))
    val packed = graft.operators.SeqPacker.packDocs(inst, 512).toDF()
    val perSeq = packed.groupBy($"lang", $"bucket", $"seq")
      .agg(sum($"size").as("seq_tok"), count(lit(1)).as("np"),
        countDistinct($"docId").as("sdocs"))
    val bkt = perSeq.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_seqs"), sum($"np").as("n_pieces"),
        sum($"seq_tok").as("sum_tokens"),
        sum(when($"seq_tok" > 512, 1L).otherwise(0L)).as("n_overfull"),
        sum(when($"sdocs" > 1, 1L).otherwise(0L)).as("n_multi_doc_seqs"))
    val nu = inst.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_units"))
    bkt.join(nu, Seq("lang", "bucket"))
      .select($"lang", $"bucket".as("shard"), $"n_units", $"n_pieces",
        $"n_seqs", $"sum_tokens",
        expr("sum_tokens * 1000000 DIV (n_seqs * 512)").as("fill_ppm"),
        $"n_overfull", $"n_multi_doc_seqs")
      .orderBy($"lang", $"shard")
  }

  /** Tokenizer merge-curve ablation — the vocab-size design report
    * (the compression-vs-vocab tradeoff every tokenizer paper plots,
    * Gallé 2019): encode the corpus under PREFIXES of the committed
    * [[packMerges]] vocabulary (0 merges = the character baseline,
    * then tranches of 4) and report, per prefix, the total token mass,
    * the tokens the tranche saved, and the saving per merge — the
    * marginal-utility curve that says where growing the vocabulary
    * stops paying. BPE merges apply in learned order, so a prefix IS
    * the tokenizer that training would have produced had it stopped
    * there — no re-training per point.
    *
    * Scale shape: ONE narrow typed-map encode pass for the WHOLE curve
    * ([[graft.operators.BpeTrainer.countTokensCurve]], round-9 fusion
    * of the former scan-per-point loop: prefix-k counts derive from
    * the full fold's per-rank application tallies, so 4 curve points
    * cost one FileScan — PlanAssertSpec pins it); the scan reduces
    * map-side to O(points) rows; the curve math is a lag window over
    * O(points) rows. */
  private val q234: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull &&
        length(trim($"text")) > 0)
    val sizes = Seq(0, 4, 8, 12)
    val curve = graft.operators.BpeTrainer
      .countTokensCurve(docs, "doc_id", "text", packMerges, sizes)
      .groupBy($"n_merges")
      .agg(sum($"n_bpe_tokens").as("total_tokens"))
    val w = Window.orderBy($"n_merges")
    curve
      .withColumn("prev_t", lag($"total_tokens", 1).over(w))
      .withColumn("prev_m", lag($"n_merges", 1).over(w))
      .select($"n_merges", $"total_tokens",
        coalesce($"prev_t" - $"total_tokens", lit(0L)).as("saved_tokens"),
        when($"prev_m".isNotNull,
          expr("(prev_t - total_tokens) * 1000 DIV (n_merges - prev_m)"))
          .otherwise(lit(0L)).as("saved_per_merge_milli"))
      .orderBy($"n_merges")
  }

  /** Round-8 FLAGSHIP composition — the governed-release manifest a
    * training-data drop ships with (the q65/q206/q223 composition
    * pattern over this round's stages): candidate docs (the non-eval
    * slice) pass the CCNet perplexity gate (q225's per-language
    * terciles under the q210 train-split LM — tail dropped), then the
    * semantic decontamination gate (q226's max-cosine ≥ 0.35 against
    * the benchmark slice — flagged dropped), and the surviving token
    * mass is allocated by UniMax waterfilling (q233, C = 2,
    * B = 1.5·total). One row per language: input/dropped/kept doc
    * counts with stage attribution, surviving token mass, and the
    * allocation with exact milli-epochs — every number an integer,
    * every stage the already-oracle-proven formulation.
    *
    * Scale shape: the LM joins and the per-doc aggs are q225's; the
    * decontam pair scan is q226's (bounded benchmark broadcasts);
    * everything after the two gates lives on O(langs) rows. */
  private val q235: Q = (s, d) => {
    import s.implicits._
    import graft.functions.VectorFunctions.{dot => dot2, l2norm => l2norm2}
    val C = 2L
    // --- q225 fragment: per-doc mean micro-bits under the split LM ---
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
    val toks = Tables.documents(s, d)
      .where($"text".isNotNull && $"doc_id".isNotNull)
      .select($"doc_id", $"lang", posexplode(split(trim($"text"), "\\s+")))
      .toDF("doc_id", "lang", "pos", "tok")
    val bigrams = toks
      .withColumn("nxt", lead($"tok", 1).over(wd))
      .where($"nxt".isNotNull)
    val train = bigrams.where($"doc_id" % 10 =!= 0)
    val bi  = train.groupBy($"tok", $"nxt").agg(count(lit(1)).as("c12"))
    val ctx = train.groupBy($"tok").agg(count(lit(1)).as("ctx"))
    val uni = train.groupBy($"nxt").agg(count(lit(1)).as("c2"))
    val stats = train.agg(count(lit(1)).as("t"), countDistinct($"nxt").as("v"))
    val perDoc = bigrams.where($"doc_id" % 97 =!= 0)
      .join(bi, Seq("tok", "nxt"), "left")
      .join(ctx, Seq("tok"), "left")
      .join(uni, Seq("nxt"), "left")
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"lang",
        round(round(
          log2(lit(4L) * coalesce($"ctx", lit(1L)) * ($"t" + $"v")) -
          log2(lit(3L) * coalesce($"c12", lit(0L)) * ($"t" + $"v")
            + coalesce($"ctx", lit(1L)) * (coalesce($"c2", lit(0L)) + lit(1L))),
          6) * 1000000).cast("long").as("mb"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_bg"), sum($"mb").as("nll"))
      .select($"doc_id", $"lang", expr("nll DIV n_bg").as("mbpt"))
    val cuts = perDoc.groupBy($"lang")
      .agg(expr("approx_percentile(mbpt, array(0.3333334, 0.6666668), 1000000)")
        .as("cs"))
      .select($"lang", $"cs".getItem(1).as("c2cut"))
    // --- q226 fragment: benchmark contamination flag per doc ---
    val e = Tables.embeddings(s, d)
      .where($"embedding".isNotNull && $"vec_id".isNotNull)
      .select($"vec_id", $"embedding", l2norm2($"embedding").as("nrm"))
    val ev = e.where($"vec_id" % 97 === 0)
      .select($"vec_id".as("e_id"), $"embedding".as("e_emb"), $"nrm".as("e_nrm"))
    val contam = e.where($"vec_id" % 97 =!= 0).crossJoin(ev)
      .select($"vec_id",
        round(dot2($"embedding", $"e_emb") / ($"nrm" * $"e_nrm"), 6).as("cos"))
      .groupBy($"vec_id").agg(max($"cos").as("mc"))
      .where($"mc" >= 0.35)
      .select($"vec_id")
    // --- gates with stage attribution ---
    val input = Tables.documents(s, d)
      .where($"text".isNotNull && $"doc_id".isNotNull && $"doc_id" % 97 =!= 0)
      .select($"doc_id", $"lang",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_words"))
    val staged = input
      .join(perDoc.select($"doc_id", $"mbpt"), Seq("doc_id"), "left")
      .join(broadcast(cuts), Seq("lang"), "left")
      .join(contam.withColumn("is_contam", lit(true)),
        input("doc_id") === contam("vec_id"), "left")
      .select($"lang", $"n_words",
        when($"mbpt" <= $"c2cut", "kept").otherwise("tail").as("ppl"),
        coalesce($"is_contam", lit(false)).as("contam"))
      .select($"lang", $"n_words",
        when($"ppl" === "tail", "drop_ppl")
          .when($"contam", "drop_contam")
          .otherwise("kept").as("verdict"))
    val perLang = staged.groupBy($"lang")
      .agg(count(lit(1)).as("n_input"),
        sum(when($"verdict" === "drop_ppl", 1L).otherwise(0L)).as("n_drop_ppl"),
        sum(when($"verdict" === "drop_contam", 1L).otherwise(0L))
          .as("n_drop_contam"),
        sum(when($"verdict" === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"verdict" === "kept", $"n_words").otherwise(0L))
          .as("u_tokens"))
    // --- q233 fragment: UniMax waterfilling over surviving mass ---
    val tot = perLang.agg(expr("(sum(u_tokens) * 3) DIV 2").as("budget"),
      count(lit(1)).as("n"))
    val wr = Window.orderBy($"u_tokens", $"lang")
    val ranked = perLang
      .withColumn("i", row_number().over(wr).cast("long"))
      .withColumn("prefc",
        sum($"u_tokens").over(wr.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) * C)
      .crossJoin(broadcast(tot))
      .withColumn("capped",
        lit(C) * $"u_tokens" * ($"n" - $"i" + 1L) <=
          $"budget" - ($"prefc" - lit(C) * $"u_tokens"))
    val th = ranked.agg(
      coalesce(sum(when($"capped", 1L).otherwise(0L)), lit(0L)).as("t"),
      coalesce(max(when($"capped", $"prefc")), lit(0L)).as("capmass"))
    ranked.crossJoin(broadcast(th))
      .select($"lang", $"n_input", $"n_drop_ppl", $"n_drop_contam",
        $"n_kept", $"u_tokens",
        when($"capped", lit(C) * $"u_tokens")
          .otherwise(expr("(budget - capmass) DIV (n - t)"))
          .as("alloc_tokens"))
      .select($"lang", $"n_input", $"n_drop_ppl", $"n_drop_contam",
        $"n_kept", $"u_tokens", $"alloc_tokens",
        when($"u_tokens" > 0, expr("alloc_tokens * 1000 DIV u_tokens"))
          .otherwise(lit(0L)).as("epochs_milli"))
      .orderBy($"lang")
  }

  /** Packing-PURITY census — the report that motivates doc-boundary-
    * aware packing (Ding et al. 2024 "Fewer Truncations Improve
    * Language Modeling" and the LLaMA-3 recipe both isolate documents
    * per sequence; naive q223-style stream packing lets attention bleed
    * across unrelated documents): under the SAME packing as q223
    * (committed-vocab BPE counts, reproducible salted-hash order,
    * 512-token windows), report how many training sequences mix
    * languages — per distinct-language count, the sequence count, doc
    * mass, and share in exact ppm. A doc spans the sequences its token
    * interval [rt−toks, rt) covers, so membership is one bounded
    * per-doc sequence-range explode (toks DIV 512 + 2 rows), never a
    * token-level join.
    *
    * Scale shape: q223's tokenize (narrow map) + prefix sum (bucket
    * exchange); the explode adds O(docs · docLen/512) rows; two hash
    * aggs close the census. */
  private val q239: Q = (s, d) => {
    import s.implicits._
    val perDoc = graft.operators.BpeTrainer
      .countTokens(Tables.documents(s, d)
        .where($"doc_id".isNotNull && $"text".isNotNull),
        "doc_id", "text", packMerges)
      .select($"doc_id", $"n_bpe_tokens".as("toks"))
      .where($"toks" > 0)
      // checkpoint-once (r12): the running-total pass is two actions
      // (boundary sampling + main) — each re-ran the BPE count encoder
      .transform(Cut(_))
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("pack:"), $"doc_id".cast("string")))
    val spans = graft.functions.DistributedRank
      .withRunningTotal(perDoc.withColumn("hk", h), "rt", $"toks",
        $"hk", $"doc_id")
      .select($"doc_id", $"toks",
        expr("(rt - toks) DIV 512").as("seq_lo"),
        expr("(rt - 1) DIV 512").as("seq_hi"))
      .select($"doc_id",
        explode(sequence($"seq_lo", $"seq_hi")).as("seq"))
    val langs = Tables.documents(s, d)
      .where($"doc_id".isNotNull && $"text".isNotNull)
      .select($"doc_id", $"lang")
    val perSeq = spans.join(langs, Seq("doc_id"))
      .groupBy($"seq")
      .agg(countDistinct($"lang").as("n_langs"),
        count(lit(1)).as("n_docs"))
    val census = perSeq.groupBy($"n_langs")
      .agg(count(lit(1)).as("n_seqs"), sum($"n_docs").as("n_doc_slots"))
    val tot = census.agg(sum($"n_seqs").as("tot"))
    census.crossJoin(broadcast(tot))
      .select($"n_langs", $"n_seqs", $"n_doc_slots",
        expr("n_seqs * 1000000 DIV tot").as("share_ppm"))
      .orderBy($"n_langs")
  }

  val queries: Map[String, Q] = Map(
    "q246_export_manifest" -> q246,
    "q243_bfd_pack" -> q243,
    "q240_boundary_pack" -> q240,
    "q249_shard_export" -> q249,
    "q250_export_forget" -> q250,
    "q239_pack_purity" -> q239,
    "q235_release_manifest" -> q235,
    "q234_merge_curve" -> q234,
    "q233_unimax_alloc" -> q233,
    "q255_epoch_materialize" -> q255,
    "q256_training_stream" -> q256,
    "q258_stream_forget" -> q258,
    "q230_incremental_census" -> q230,
    "q232_gate_ablation" -> q232,
    "q228_rank_fusion" -> q228,
    "q229_tokenizer_fertility" -> q229,
    "q259_vocab_artifact" -> q259,
    "q223_pack_shard" -> q223,
    "q213_pii_census" -> q213,
    "q206_curation_funnel" -> q206,
    "q193_reshard_census" -> q193,
    "q191_lang_diversity" -> q191,
    "q170_eval_split" -> q170,
    "q168_trust_rank" -> q168,
    "q165_snapshot_diff" -> q165,
    "q159_source_novelty" -> q159,
    "q158_boundary_deciles" -> q158,
    "q157_pit_join" -> q157,
    "q156_calibration" -> q156,
    "q155_triangle_census" -> q155,
    "q152_rrf_fusion" -> q152,
    "q148_mad_gate" -> q148,
    "q150_psi_drift" -> q150,
    "q143_k_anonymity" -> q143,
    "q144_dup_weights" -> q144,
    "q145_curriculum" -> q145,
    "q141_cdc_chunks" -> q141,
    "q142_quality_gate" -> q142,
    "q139_walk_rank" -> q139,
    "q216_epoch_alloc" -> q216,
    "q130_mixture_weights" -> q130,
    "q103_scd2" -> q103,
    "q114_quality_audit" -> q114,
    "q104_gap_fill" -> q104,
    "q105_chunk_overlap" -> q105,
    "q106_incremental_dedup" -> q106,
    "q263_band_index" -> q263,
    "q107_containment" -> q107,
    "q121_containment_prefix" -> q121,
    "q122_shard_assign" -> q122,
    "q124_token_budget" -> q124,
    "q125_ring_negatives" -> q125,
    "q126_norm_dedup" -> q126,
    "q127_source_overlap" -> q127,
    "q108_quota_sample" -> q108,
    "q112_interpolate" -> q112
  )

  /** q233's waterfilling oracle chain (per → tot → ranked → flagged →
    * th), ONE text shared by q233 and q255 (the byte-shared-trainer
    * convention of q242/q246/q247): the materializer must deliver the
    * budgets the SAME allocation computed. */
  private val unimaxCtes: String =
    """per AS (
      |  SELECT lang,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
      |      AS BIGINT) AS u_tokens
      |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
      |  GROUP BY lang),
      |tot AS (SELECT CAST((sum(u_tokens) * 3) // 2 AS BIGINT) AS budget,
      |               CAST(count(*) AS BIGINT) AS n FROM per),
      |ranked AS (
      |  SELECT lang, u_tokens,
      |    CAST(row_number() OVER (ORDER BY u_tokens, lang) AS BIGINT) AS i,
      |    CAST(2 * sum(u_tokens) OVER (ORDER BY u_tokens, lang
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefc
      |  FROM per),
      |flagged AS (
      |  SELECT r.*, t.budget, t.n,
      |    2 * u_tokens * (t.n - i + 1) <= t.budget - (prefc - 2 * u_tokens)
      |      AS capped
      |  FROM ranked r, tot t),
      |th AS (
      |  SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS t,
      |    CAST(coalesce(max(CASE WHEN capped THEN prefc END), 0)
      |      AS BIGINT) AS capmass
      |  FROM flagged)""".stripMargin

  /** q106/q263 shared oracle (one-text rule): batch-vs-corpus verdict
    * via the inline corpus rescan — q263's persisted-index path must
    * classify identically. */
  private lazy val incrementalDedupSql: String = {
    val cte = DedupQueries.shingleCteFrom("documents")
    val sig = DedupQueries.duckSig(DedupQueries.NH)
    val (b, r) = (DedupQueries.B, DedupQueries.R)
    s"""WITH $cte,
       |sig AS (SELECT doc_id, $sig AS sig FROM sh WHERE len(s) > 0),
       |bands AS (SELECT doc_id, j AS band_idx,
       |    md5(array_to_string(list_transform(list_slice(sig, j*$r + 1, j*$r + $r),
       |      v -> CAST(v AS VARCHAR)), '|')) AS band_hash
       |  FROM sig, range(0, $b) rr(j)),
       |src AS (SELECT doc_id, source, md5(trim(text)) AS fp FROM documents),
       |bat AS (SELECT doc_id, fp FROM src WHERE source = 'src19'),
       |cfp AS (SELECT DISTINCT fp FROM src WHERE source <> 'src19'),
       |cband AS (
       |  SELECT DISTINCT band_idx, band_hash
       |  FROM bands JOIN src USING (doc_id) WHERE src.source <> 'src19'),
       |bnear AS (
       |  SELECT DISTINCT bands.doc_id
       |  FROM bands JOIN src USING (doc_id)
       |       JOIN cband USING (band_idx, band_hash)
       |  WHERE src.source = 'src19')
       |SELECT bat.doc_id,
       |       CASE WHEN bat.fp IN (SELECT fp FROM cfp) THEN 'exact_dup'
       |            WHEN bat.doc_id IN (SELECT doc_id FROM bnear) THEN 'near_dup'
       |            ELSE 'new' END AS verdict
       |FROM bat ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q239_pack_purity" -> {
      val charSplit = "'|' || array_to_string(string_split(w, ''), '|') || '|'"
      val encoded = packMerges.foldLeft(charSplit) { case (acc, (a, b)) =>
        s"replace($acc, '|$a|$b|', '|$a$b|')"
      }
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |words AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM docs),
         |enc AS (
         |  SELECT doc_id, $encoded AS s FROM words WHERE w <> ''),
         |cnt AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(sum(len(string_split(e.s, '|')) - 2), 0)
         |      AS BIGINT) AS toks
         |  FROM docs d LEFT JOIN enc e USING (doc_id) GROUP BY d.doc_id
         |  HAVING CAST(coalesce(sum(len(string_split(e.s, '|')) - 2), 0)
         |      AS BIGINT) > 0),
         |r AS (
         |  SELECT doc_id, toks,
         |    sum(toks) OVER (
         |      ORDER BY ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
         |               doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
         |  FROM cnt),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(generate_series(CAST((rt - toks) // 512 AS BIGINT),
         |                           CAST((rt - 1) // 512 AS BIGINT)))
         |      AS seq
         |  FROM r),
         |perseq AS (
         |  SELECT seq, count(DISTINCT d.lang) AS n_langs,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM spans JOIN docs d USING (doc_id) GROUP BY seq),
         |census AS (
         |  SELECT n_langs, CAST(count(*) AS BIGINT) AS n_seqs,
         |    CAST(sum(n_docs) AS BIGINT) AS n_doc_slots
         |  FROM perseq GROUP BY n_langs),
         |tot AS (SELECT CAST(sum(n_seqs) AS BIGINT) AS tot FROM census)
         |SELECT CAST(n_langs AS BIGINT) AS n_langs, n_seqs, n_doc_slots,
         |  n_seqs * 1000000 // tot AS share_ppm
         |FROM census, tot ORDER BY n_langs""".stripMargin
    },
    "q235_release_manifest" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |bg AS (SELECT doc_id, lang, w[r.i] AS tok, w[r.i + 1] AS nxt
        |       FROM t, unnest(range(1, len(w))) r(i)),
        |train AS (SELECT * FROM bg WHERE doc_id % 10 <> 0),
        |bi AS (SELECT tok, nxt, CAST(count(*) AS BIGINT) AS c12
        |       FROM train GROUP BY tok, nxt),
        |ctx AS (SELECT tok, CAST(count(*) AS BIGINT) AS ctx
        |        FROM train GROUP BY tok),
        |uni AS (SELECT nxt, CAST(count(*) AS BIGINT) AS c2
        |        FROM train GROUP BY nxt),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS t,
        |                 CAST(count(DISTINCT nxt) AS BIGINT) AS v FROM train),
        |sc AS (
        |  SELECT g.doc_id, g.lang,
        |    CAST(round(round(
        |      log2((4 * COALESCE(c.ctx, 1) * (s.t + s.v))::DOUBLE)
        |      - log2((3 * COALESCE(b.c12, 0) * (s.t + s.v)
        |              + COALESCE(c.ctx, 1) * (COALESCE(u.c2, 0) + 1))::DOUBLE),
        |      6) * 1000000) AS BIGINT) AS mb
        |  FROM bg g
        |  LEFT JOIN bi b ON b.tok = g.tok AND b.nxt = g.nxt
        |  LEFT JOIN ctx c ON c.tok = g.tok
        |  LEFT JOIN uni u ON u.nxt = g.nxt, stats s
        |  WHERE g.doc_id % 97 <> 0),
        |pd AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(mb) AS BIGINT) // count(*) AS mbpt
        |  FROM sc GROUP BY doc_id, lang),
        |cuts AS (
        |  SELECT lang AS clang, quantile_disc(mbpt, 0.6666668) AS c2cut
        |  FROM pd GROUP BY lang),
        |e AS (SELECT vec_id, embedding FROM embeddings
        |      WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
        |ev AS (SELECT vec_id AS e_id, embedding AS e_emb FROM e
        |       WHERE vec_id % 97 = 0),
        |contam AS (
        |  SELECT vec_id FROM (
        |    SELECT e.vec_id,
        |      max(round(
        |        list_sum(list_transform(range(1, 65),
        |          i -> e.embedding[i]::DOUBLE * ev.e_emb[i]::DOUBLE))
        |        / (sqrt(list_sum(list_transform(range(1, 65),
        |            i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
        |         * sqrt(list_sum(list_transform(range(1, 65),
        |            i -> ev.e_emb[i]::DOUBLE * ev.e_emb[i]::DOUBLE)))), 6))
        |        AS mc
        |    FROM e CROSS JOIN ev WHERE e.vec_id % 97 <> 0
        |    GROUP BY e.vec_id)
        |  WHERE mc >= 0.35),
        |input AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_words
        |  FROM documents
        |  WHERE text IS NOT NULL AND doc_id IS NOT NULL AND doc_id % 97 <> 0),
        |staged AS (
        |  SELECT i.lang, i.n_words,
        |    CASE WHEN p.mbpt <= c.c2cut THEN
        |        (CASE WHEN i.doc_id IN (SELECT vec_id FROM contam)
        |          THEN 'drop_contam' ELSE 'kept' END)
        |      ELSE 'drop_ppl' END AS verdict
        |  FROM input i
        |  LEFT JOIN pd p ON i.doc_id = p.doc_id
        |  LEFT JOIN cuts c ON i.lang = c.clang),
        |per AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_input,
        |    CAST(sum(CASE WHEN verdict = 'drop_ppl' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_drop_ppl,
        |    CAST(sum(CASE WHEN verdict = 'drop_contam' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_drop_contam,
        |    CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN verdict = 'kept' THEN n_words ELSE 0 END)
        |      AS BIGINT) AS u_tokens
        |  FROM staged GROUP BY lang),
        |tot AS (SELECT CAST((sum(u_tokens) * 3) // 2 AS BIGINT) AS budget,
        |               CAST(count(*) AS BIGINT) AS n FROM per),
        |ranked AS (
        |  SELECT per.*,
        |    CAST(row_number() OVER (ORDER BY u_tokens, lang) AS BIGINT) AS i,
        |    CAST(2 * sum(u_tokens) OVER (ORDER BY u_tokens, lang
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefc
        |  FROM per),
        |flagged AS (
        |  SELECT r.*, t.budget, t.n,
        |    2 * u_tokens * (t.n - i + 1) <= t.budget - (prefc - 2 * u_tokens)
        |      AS capped
        |  FROM ranked r, tot t),
        |th AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS t,
        |    CAST(coalesce(max(CASE WHEN capped THEN prefc END), 0)
        |      AS BIGINT) AS capmass
        |  FROM flagged)
        |SELECT lang, n_input, n_drop_ppl, n_drop_contam, n_kept, u_tokens,
        |  CASE WHEN capped THEN 2 * u_tokens
        |       ELSE (budget - capmass) // (n - th.t) END AS alloc_tokens,
        |  CASE WHEN u_tokens > 0 THEN
        |      (CASE WHEN capped THEN 2 * u_tokens
        |            ELSE (budget - capmass) // (n - th.t) END) * 1000
        |        // u_tokens
        |    ELSE CAST(0 AS BIGINT) END AS epochs_milli
        |FROM flagged, th ORDER BY lang""".stripMargin,
    "q234_merge_curve" -> {
      val charSplit = "'|' || array_to_string(string_split(w, ''), '|') || '|'"
      def enc(k: Int): String = packMerges.take(k)
        .foldLeft(charSplit) { case (acc, (a, b)) =>
          s"replace($acc, '|$a|$b|', '|$a$b|')"
        }
      val points = Seq(0, 4, 8, 12).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS n_merges,
           |  CAST(coalesce(sum(len(string_split(${enc(k)}, '|')) - 2), 0)
           |    AS BIGINT) AS total_tokens
           |FROM words WHERE w <> ''""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND len(trim(text)) > 0),
         |words AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM docs),
         |curve AS (
         |$points),
         |lagged AS (
         |  SELECT n_merges, total_tokens,
         |    lag(total_tokens) OVER (ORDER BY n_merges) AS prev_t,
         |    lag(n_merges) OVER (ORDER BY n_merges) AS prev_m
         |  FROM curve)
         |SELECT n_merges, total_tokens,
         |  CAST(coalesce(prev_t - total_tokens, 0) AS BIGINT)
         |    AS saved_tokens,
         |  CASE WHEN prev_m IS NOT NULL
         |    THEN (prev_t - total_tokens) * 1000 // (n_merges - prev_m)
         |    ELSE CAST(0 AS BIGINT) END AS saved_per_merge_milli
         |FROM lagged ORDER BY n_merges""".stripMargin
    },
    "q255_epoch_materialize" ->
      s"""WITH $unimaxCtes,
        |alloc AS (
        |  SELECT lang, u_tokens,
        |    CASE WHEN capped THEN 2 * u_tokens
        |         ELSE (budget - capmass) // (n - th.t) END AS alloc_tokens
        |  FROM flagged, th),
        |doc AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
        |      AS tok
        |  FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL
        |    AND doc_id IS NOT NULL),
        |pref AS (
        |  SELECT lang, tok,
        |    CAST(sum(tok) OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT NULLS FIRST,
        |               doc_id NULLS FIRST
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref
        |  FROM doc),
        |m AS (
        |  SELECT p.lang, p.tok, a.u_tokens, a.alloc_tokens,
        |    a.alloc_tokens // a.u_tokens AS full_epochs,
        |    CASE WHEN p.pref <= a.alloc_tokens % a.u_tokens
        |         THEN 1 ELSE 0 END AS extra
        |  FROM pref p JOIN alloc a USING (lang))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(u_tokens) AS u_tokens, min(alloc_tokens) AS alloc_tokens,
        |  min(full_epochs) AS full_epochs,
        |  CAST(sum(extra) AS BIGINT) AS extra_docs,
        |  CAST(min(full_epochs) * min(u_tokens) + sum(extra * tok)
        |    AS BIGINT) AS delivered_tokens,
        |  CAST(min(alloc_tokens) - min(full_epochs) * min(u_tokens)
        |    - sum(extra * tok) AS BIGINT) AS shortfall
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    "q256_training_stream" ->
      // allocation CTEs shared with q233/q255; instance positions are
      // epoch*n_docs + within-lang rank (the extra set is a PREFIX of
      // the same salted order, so positions stay gap-free); next-fit
      // recursion shared verbatim with q240/q249/q250
      s"""WITH RECURSIVE $unimaxCtes,
        |alloc AS (
        |  SELECT lang, u_tokens,
        |    CASE WHEN capped THEN 2 * u_tokens
        |         ELSE (budget - capmass) // (n - th.t) END AS alloc_tokens
        |  FROM flagged, th),
        |doc AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
        |      AS tok
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |    AND doc_id IS NOT NULL),
        |dn AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
        |       FROM doc GROUP BY lang),
        |hx AS (
        |  SELECT lang, doc_id, tok,
        |    ('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hk
        |  FROM doc),
        |pr AS (
        |  SELECT lang, doc_id, tok,
        |    CAST(sum(tok) OVER (PARTITION BY lang
        |      ORDER BY hk NULLS FIRST, doc_id NULLS FIRST
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pref,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY hk NULLS FIRST, doc_id NULLS FIRST) - 1
        |      AS BIGINT) AS rnl
        |  FROM hx),
        |mk AS (
        |  SELECT p.lang, p.doc_id, p.tok, p.rnl, dn.nl,
        |    a.alloc_tokens // a.u_tokens
        |      + CASE WHEN p.pref <= a.alloc_tokens % a.u_tokens
        |             THEN 1 ELSE 0 END AS reps
        |  FROM pr p JOIN alloc a USING (lang) JOIN dn USING (lang)),
        |inst AS (
        |  SELECT lang, doc_id, tok,
        |    CAST(r.e * nl + rnl AS BIGINT) AS pos,
        |    (r.e * nl + rnl) // 64 AS bucket
        |  FROM mk, unnest(range(0, CAST(reps AS BIGINT))) r(e)),
        |pc AS (
        |  SELECT lang, bucket, pos AS rnl0, doc_id, r.i AS pidx,
        |    CAST(least(512, tok - r.i * 512) AS BIGINT) AS size
        |  FROM inst, unnest(range(0, CAST((tok + 511) // 512 AS BIGINT))) r(i)),
        |${nextFitOrdSt("pc")},
        |perseq AS (
        |  SELECT lang, bucket, seq,
        |    CAST(sum(size) AS BIGINT) AS seq_tok,
        |    CAST(count(*) AS BIGINT) AS np,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS sdocs
        |  FROM st GROUP BY 1, 2, 3),
        |bkt AS (
        |  SELECT lang, bucket,
        |    CAST(count(*) AS BIGINT) AS n_seqs,
        |    CAST(sum(np) AS BIGINT) AS n_pieces,
        |    CAST(sum(seq_tok) AS BIGINT) AS sum_tokens,
        |    CAST(sum(CASE WHEN seq_tok > 512 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_overfull,
        |    CAST(sum(CASE WHEN sdocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_multi_doc_seqs
        |  FROM perseq GROUP BY 1, 2),
        |nu AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_units
        |       FROM inst GROUP BY 1, 2)
        |SELECT b.lang, b.bucket AS shard, n_units, n_pieces, n_seqs,
        |  sum_tokens,
        |  sum_tokens * 1000000 // (n_seqs * 512) AS fill_ppm,
        |  n_overfull, n_multi_doc_seqs
        |FROM bkt b JOIN nu USING (lang, bucket)
        |ORDER BY lang, shard""".stripMargin,
    "q233_unimax_alloc" ->
      s"""WITH $unimaxCtes
        |SELECT lang, u_tokens, CAST(capped AS VARCHAR) AS capped,
        |  CASE WHEN capped THEN 2 * u_tokens
        |       ELSE (budget - capmass) // (n - th.t) END AS alloc_tokens,
        |  (CASE WHEN capped THEN 2 * u_tokens
        |        ELSE (budget - capmass) // (n - th.t) END) * 1000
        |    // u_tokens AS epochs_milli,
        |  (CASE WHEN capped THEN 2 * u_tokens
        |        ELSE (budget - capmass) // (n - th.t) END) * 1000000
        |    // budget AS share_ppm,
        |  CASE WHEN n > th.t THEN (budget - capmass)
        |      - ((budget - capmass) // (n - th.t)) * (n - th.t)
        |    ELSE budget - capmass END AS leftover
        |FROM flagged, th ORDER BY lang""".stripMargin,
    "q230_incremental_census" ->
      """WITH docs AS (
        |  SELECT * FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |doc AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |  FROM docs GROUP BY lang),
        |voc AS (
        |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
        |  FROM (SELECT lang,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM docs)
        |  GROUP BY lang)
        |SELECT d.lang, d.n_docs, d.sum_chars, d.min_doc, d.max_doc,
        |  v.n_vocab, d.sum_chars // d.n_docs AS chars_per_doc
        |FROM doc d JOIN voc v ON d.lang = v.lang
        |ORDER BY d.lang""".stripMargin,
    "q232_gate_ablation" ->
      """WITH sig AS (
        |  SELECT doc_id, lang, md5(trim(text)) AS fp,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      AS n_uniq
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |keeper AS (SELECT fp, min(doc_id) AS keep_id FROM sig GROUP BY fp),
        |flags AS (
        |  SELECT s.doc_id,
        |    NOT (n_tok BETWEEN 10 AND 1000) AS f_len,
        |    lang NOT IN ('de', 'en', 'es', 'fr') AS f_lang,
        |    s.doc_id <> k.keep_id AS f_dup,
        |    n_uniq * 1000000 // n_tok < 350000 AS f_rep
        |  FROM sig s JOIN keeper k ON s.fp = k.fp),
        |x AS (
        |  SELECT 'len' AS gate, f_len AS fail,
        |    f_len AND NOT (f_lang OR f_dup OR f_rep) AS onl FROM flags
        |  UNION ALL SELECT 'lang', f_lang,
        |    f_lang AND NOT (f_len OR f_dup OR f_rep) FROM flags
        |  UNION ALL SELECT 'dup', f_dup,
        |    f_dup AND NOT (f_len OR f_lang OR f_rep) FROM flags
        |  UNION ALL SELECT 'rep', f_rep,
        |    f_rep AND NOT (f_len OR f_lang OR f_dup) FROM flags)
        |SELECT gate, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
        |  CAST(sum(CASE WHEN onl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_only,
        |  CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // count(*) AS fail_ppm
        |FROM x GROUP BY gate ORDER BY gate""".stripMargin,
    "q228_rank_fusion" -> {
      import graft.operators.HashedLinearModel.{duckBucket, duckWeight16}
      s"""WITH sig AS (
         |  SELECT doc_id, count(*) AS n_tok,
         |    count(DISTINCT tok) * 1000000 // count(*) AS uniq_ppm,
         |    CAST(sum(${duckWeight16(duckBucket("tok", 1024), "hlmw")})
         |      AS BIGINT) AS logit16
         |  FROM (SELECT doc_id,
         |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |        FROM documents
         |        WHERE text IS NOT NULL AND doc_id IS NOT NULL)
         |  GROUP BY doc_id),
         |r AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS r1,
         |    row_number() OVER (ORDER BY uniq_ppm DESC, doc_id) AS r2,
         |    row_number() OVER (ORDER BY logit16 DESC, doc_id) AS r3
         |  FROM sig)
         |SELECT rnk, doc_id, r1, r2, r3, borda FROM (
         |  SELECT doc_id, r1, r2, r3, r1 + r2 + r3 AS borda,
         |    row_number() OVER (ORDER BY r1 + r2 + r3, doc_id) AS rnk
         |  FROM r) WHERE rnk <= 20 ORDER BY rnk""".stripMargin
    },
    "q229_tokenizer_fertility" -> {
      val charSplit = "'|' || array_to_string(string_split(w, ''), '|') || '|'"
      val encoded = packMerges.foldLeft(charSplit) { case (acc, (a, b)) =>
        s"replace($acc, '|$a|$b|', '|$a$b|')"
      }
      s"""WITH docs AS (
         |  SELECT doc_id, lang, n_chars,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |    text
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND len(trim(text)) > 0),
         |words AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM docs),
         |enc AS (
         |  SELECT doc_id, $encoded AS s FROM words WHERE w <> ''),
         |cnt AS (
         |  SELECT d.doc_id,
         |    CAST(coalesce(sum(len(string_split(e.s, '|')) - 2), 0)
         |      AS BIGINT) AS n_bpe
         |  FROM docs d LEFT JOIN enc e USING (doc_id) GROUP BY d.doc_id)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(d.n_words) AS BIGINT) AS sum_words,
         |  CAST(sum(c.n_bpe) AS BIGINT) AS sum_bpe,
         |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(c.n_bpe) AS BIGINT) * 1000000
         |    // CAST(sum(d.n_words) AS BIGINT) AS fertility_ppm,
         |  CAST(sum(d.n_chars) AS BIGINT) * 1000
         |    // CAST(sum(c.n_bpe) AS BIGINT) AS chars_per_tok_milli
         |FROM docs d JOIN cnt c USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },
    "q259_vocab_artifact" -> {
      val charSplit = "'|' || array_to_string(string_split(w, ''), '|') || '|'"
      def cnt(k: Int): String = {
        val encoded = packMerges.take(k).foldLeft(charSplit) {
          case (acc, (a, b)) => s"replace($acc, '|$a|$b|', '|$a$b|')"
        }
        s"""enc$k AS (
           |  SELECT doc_id, $encoded AS s FROM words WHERE w <> ''),
           |cnt$k AS (
           |  SELECT d.doc_id, CAST($k AS BIGINT) AS n_merges,
           |    CAST(coalesce(sum(len(string_split(e.s, '|')) - 2), 0)
           |      AS BIGINT) AS n_bpe
           |  FROM docs d LEFT JOIN enc$k e USING (doc_id)
           |  GROUP BY d.doc_id)""".stripMargin
      }
      // both curve points replay the SAME prefix folds the loaded
      // artifact drives Spark-side (replace-chain == merge fold, the
      // q223 convention)
      s"""WITH docs AS (
         |  SELECT doc_id, lang,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |    text
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND len(trim(text)) > 0),
         |words AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM docs),
         |${cnt(6)},
         |${cnt(12)},
         |u AS (SELECT * FROM cnt6 UNION ALL SELECT * FROM cnt12)
         |SELECT d.lang, u.n_merges, count(*) AS n_docs,
         |  CAST(sum(d.n_words) AS BIGINT) AS sum_words,
         |  CAST(sum(u.n_bpe) AS BIGINT) AS sum_bpe,
         |  CAST(sum(u.n_bpe) AS BIGINT) * 1000000
         |    // CAST(sum(d.n_words) AS BIGINT) AS fertility_ppm
         |FROM docs d JOIN u USING (doc_id)
         |GROUP BY d.lang, u.n_merges
         |ORDER BY d.lang, u.n_merges""".stripMargin
    },
    // The detector VALUES rows are generated from PiiScrub.detectors —
    // one source of truth for the pattern text on both engines. DuckDB
    // standard strings keep backslashes literal, so the Java pattern
    // text embeds verbatim; regexp_replace needs the 'g' flag (DuckDB
    // defaults to first-match-only, Spark to global).
    "q213_pii_census" -> {
      val vals = graft.operators.PiiScrub.detectors
        .map { case (n, p, ph) => s"('$n', '$p', '$ph')" }
        .mkString(",\n        |  ")
      s"""WITH u AS (
         |  SELECT 'documents.text' AS surface, text AS t FROM documents
         |  UNION ALL SELECT 'customer.c_name', c_name FROM customer
         |  UNION ALL SELECT 'part.p_name', p_name FROM part
         |  UNION ALL SELECT 'supplier.s_name', s_name FROM supplier),
         |d AS (SELECT * FROM (VALUES
         |  $vals) v(detector, pat, ph))
         |SELECT u.surface, d.detector,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN t IS NOT NULL
         |    AND len(regexp_extract_all(t, pat)) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_rows_hit,
         |  CAST(sum(CASE WHEN t IS NULL THEN 0
         |    ELSE len(regexp_extract_all(t, pat)) END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN t IS NULL THEN 0
         |    ELSE length(regexp_replace(t, pat, ph, 'g')) - length(t) END)
         |    AS BIGINT) AS chars_delta
         |FROM u CROSS JOIN d
         |GROUP BY u.surface, d.detector
         |ORDER BY u.surface, d.detector""".stripMargin
    },
    "q206_curation_funnel" -> {
      import graft.operators.HashedLinearModel.{duckBucket, duckWeight16}
      s"""WITH raw AS (
         |  SELECT doc_id, text,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS ntok
         |  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
         |gated AS (SELECT * FROM raw WHERE ntok >= 10 AND ntok <= 1000),
         |lg AS (
         |  SELECT doc_id,
         |    CAST(sum(${duckWeight16(duckBucket("tok", 1024))}) AS BIGINT)
         |      AS logit16
         |  FROM (SELECT doc_id,
         |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |        FROM gated)
         |  GROUP BY doc_id),
         |quality AS (
         |  SELECT g.* FROM gated g JOIN lg USING (doc_id)
         |  WHERE lg.logit16 >= 0),
         |reps AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, md5(trim(text)) AS fp FROM quality)
         |  GROUP BY fp),
         |deduped AS (SELECT q.* FROM quality q JOIN reps USING (doc_id))
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage,
         |    count(*) AS n_docs,
         |    CAST(COALESCE(sum(ntok), 0) AS BIGINT) AS n_tokens FROM raw
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'lex_gate', count(*),
         |    CAST(COALESCE(sum(ntok), 0) AS BIGINT) FROM gated
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'quality_filter', count(*),
         |    CAST(COALESCE(sum(ntok), 0) AS BIGINT) FROM quality
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'exact_dedup', count(*),
         |    CAST(COALESCE(sum(ntok), 0) AS BIGINT) FROM deduped)
         |ORDER BY stage_id""".stripMargin
    },
    "q193_reshard_census" -> {
      val sorted20 = ringNodes.sortBy(_._2)
      val sorted16 = ringNodes.filter(_._1 < 16).sortBy(_._2)
      def ringCase(ring: Vector[(Int, Long)]) =
        "CASE " +
          ring.map { case (n, p) => s"WHEN pos <= $p THEN $n" }.mkString(" ") +
          s" ELSE ${ring.head._1} END"
      s"""WITH base AS (
         |  SELECT pos % 16 AS mb, pos % 20 AS ma,
         |    ${ringCase(sorted16)} AS rb,
         |    ${ringCase(sorted20)} AS ra
         |  FROM (SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
         |          AS pos
         |        FROM documents WHERE doc_id IS NOT NULL)),
         |cens AS (
         |  SELECT 'consistent' AS scheme, ra AS sh, count(*) AS c,
         |    CAST(sum(CASE WHEN rb <> ra THEN 1 ELSE 0 END) AS BIGINT) AS mv
         |  FROM base GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'modulo', ma, count(*),
         |    CAST(sum(CASE WHEN mb <> ma THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM base GROUP BY 1, 2)
         |SELECT scheme, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(sum(mv) AS BIGINT) AS n_moved,
         |  CAST((sum(mv) * 1000000) // sum(c) AS BIGINT) AS moved_ppm,
         |  CAST(max(c) AS BIGINT) AS max_shard_docs
         |FROM cens GROUP BY scheme ORDER BY scheme""".stripMargin
    },
    "q191_lang_diversity" ->
      """WITH census AS (
        |  SELECT source, lang, count(*) AS n_i FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT source,
        |    CAST(sum(n_i) AS BIGINT) AS n_docs,
        |    count(*) AS n_langs,
        |    CAST(sum(n_i * n_i) AS BIGINT) AS sq,
        |    sum(n_i::DOUBLE * ln(n_i::DOUBLE)) AS snln
        |  FROM census GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  CAST((sq * 1000000) // (n_docs * n_docs) AS BIGINT) AS simpson_ppm,
        |  round(ln(n_docs::DOUBLE) - snln / n_docs, 4) AS shannon_h
        |FROM agg ORDER BY source""".stripMargin,
    "q170_eval_split" ->
      """WITH d AS (SELECT lang, source, doc_id,
        |             md5(doc_id::VARCHAR || 'sp') AS h FROM documents),
        |s AS (SELECT lang, source, count(*) AS n_i FROM d GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
        |             CAST(sum(n_i) // 10 AS BIGINT) AS t FROM s),
        |q AS (SELECT lang, source, n_i, n, t,
        |        CAST(n_i * t // n AS BIGINT) AS fl,
        |        CAST(n_i * t % n AS BIGINT) AS rem
        |      FROM s, t),
        |a AS (SELECT lang, source, n_i,
        |        fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang, source)
        |                       <= t - sum(fl) OVER () THEN 1 ELSE 0 END AS alloc
        |      FROM q),
        |r AS (SELECT lang, source, doc_id,
        |        row_number() OVER (PARTITION BY lang, source ORDER BY h, doc_id) AS rk
        |      FROM d)
        |SELECT r.lang, r.source,
        |       CAST(any_value(a.n_i) AS BIGINT) AS n_docs,
        |       CAST(any_value(a.alloc) AS BIGINT) AS alloc,
        |       CAST(sum(CASE WHEN r.rk <= a.alloc THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
        |       CAST(sum(CASE WHEN r.rk <= a.alloc THEN r.doc_id ELSE 0 END) AS BIGINT) AS sel_sum
        |FROM r JOIN a USING (lang, source)
        |GROUP BY r.lang, r.source
        |ORDER BY r.lang, r.source""".stripMargin,
    "q168_trust_rank" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |dp AS (SELECT p, count(*) AS dp FROM e GROUP BY p),
        |dn AS (SELECT o, count(*) AS dn FROM e GROUP BY o),
        |sw AS (SELECT p, CAST(count(*) AS DOUBLE) AS w
        |       FROM (SELECT DISTINCT l.l_orderkey, l.l_partkey AS p
        |             FROM lineitem l JOIN orders ON l.l_orderkey = o_orderkey
        |             WHERE o_orderpriority = '1-URGENT')
        |       GROUP BY p),
        |wt AS (SELECT sum(w) AS wt FROM sw),
        |t AS (SELECT dp.p, coalesce(sw.w / wt.wt, 0.0) AS t
        |      FROM dp LEFT JOIN sw USING (p), wt),
        |r0 AS (SELECT p, t AS r FROM t),
        |q1 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r0 USING (p) JOIN dp USING (p) GROUP BY o),
        |r1 AS (SELECT t.p, 0.15 * t.t + coalesce(x.rd, 0.0) AS r
        |       FROM t LEFT JOIN (SELECT p, 0.85 * sum(qo / dn) AS rd
        |                         FROM e JOIN q1 USING (o) JOIN dn USING (o)
        |                         GROUP BY p) x USING (p)),
        |q2 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r1 USING (p) JOIN dp USING (p) GROUP BY o),
        |r2 AS (SELECT t.p, 0.15 * t.t + coalesce(x.rd, 0.0) AS r
        |       FROM t LEFT JOIN (SELECT p, 0.85 * sum(qo / dn) AS rd
        |                         FROM e JOIN q2 USING (o) JOIN dn USING (o)
        |                         GROUP BY p) x USING (p)),
        |q3 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r2 USING (p) JOIN dp USING (p) GROUP BY o),
        |r3 AS (SELECT t.p, 0.15 * t.t + coalesce(x.rd, 0.0) AS r
        |       FROM t LEFT JOIN (SELECT p, 0.85 * sum(qo / dn) AS rd
        |                         FROM e JOIN q3 USING (o) JOIN dn USING (o)
        |                         GROUP BY p) x USING (p))
        |SELECT r3.p AS p_partkey, dp.dp AS n_orders,
        |       round(r3.r * 1000, 6) AS trust_k
        |FROM r3 JOIN dp USING (p)
        |ORDER BY round(r3.r * 1000, 9) DESC, p_partkey LIMIT 15""".stripMargin,
    "q165_snapshot_diff" ->
      """WITH b AS (SELECT * FROM documents WHERE text IS NOT NULL),
        |o AS (SELECT doc_id, source, md5(text) AS h_old
        |      FROM b WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id, source AS src_new,
        |        md5(text || CASE WHEN doc_id % 5 = 0 THEN ' v2' ELSE '' END) AS h_new
        |      FROM b WHERE doc_id % 11 <> 3),
        |j AS (SELECT coalesce(source, src_new) AS source,
        |        CASE WHEN h_old IS NULL THEN 'added'
        |             WHEN h_new IS NULL THEN 'removed'
        |             WHEN h_old <> h_new THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q159_source_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |gr AS (
        |  SELECT source,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] AS g
        |  FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
        |  WHERE len(t) >= 5),
        |ps AS (SELECT g, source, count(*) AS occ FROM gr GROUP BY g, source),
        |sp AS (SELECT g, count(*) AS n_sources FROM ps GROUP BY g)
        |SELECT source, CAST(sum(occ) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN n_sources = 1 THEN occ ELSE 0 END) AS BIGINT)
        |    AS n_exclusive,
        |  count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_distinct_exclusive,
        |  round(sum(CASE WHEN n_sources = 1 THEN occ ELSE 0 END)::DOUBLE
        |    / sum(occ), 4) AS novelty
        |FROM ps JOIN sp USING (g)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q158_boundary_deciles" ->
      """WITH scored AS (
        |  SELECT lang, doc_id,
        |    CAST(round(
        |      len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')) * 1000000)
        |      AS BIGINT) AS score
        |  FROM documents WHERE text IS NOT NULL),
        |bounds AS (
        |  SELECT lang, quantile_cont(score,
        |      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM scored GROUP BY lang),
        |assigned AS (
        |  SELECT s.lang, s.score,
        |    1 + (CASE WHEN s.score > bs[1] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[2] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[3] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[4] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[5] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[6] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[7] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[8] THEN 1 ELSE 0 END)
        |      + (CASE WHEN s.score > bs[9] THEN 1 ELSE 0 END) AS decile
        |  FROM scored s JOIN bounds USING (lang))
        |SELECT lang, CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM assigned GROUP BY lang, decile
        |ORDER BY lang, decile""".stripMargin,
    "q157_pit_join" ->
      """WITH runs AS (
        |  SELECT o_custkey AS c, o_orderkey, o_orderdate::DATE AS od,
        |    o_orderpriority AS prio,
        |    CASE WHEN lag(o_orderpriority) OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderdate::DATE, o_orderkey)
        |      IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS chg
        |  FROM orders),
        |v AS (
        |  SELECT c, o_orderkey, od, prio,
        |    sum(chg) OVER (PARTITION BY c ORDER BY od, o_orderkey)
        |      AS version
        |  FROM runs),
        |dim AS (
        |  SELECT c, version, prio, min(od) AS vf,
        |    lead(min(od)) OVER (PARTITION BY c ORDER BY version) AS vt
        |  FROM v GROUP BY c, version, prio),
        |f AS (
        |  SELECT o.o_custkey AS c, l.l_shipdate::DATE AS t, l.l_quantity AS qty
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT d.prio AS prio_at_ship, strftime(f.t, '%Y-%m') AS month,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(floor(f.qty) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM f JOIN dim d ON d.c = f.c
        |  AND f.t >= d.vf AND (d.vt IS NULL OR f.t < d.vt)
        |GROUP BY 1, 2 ORDER BY prio_at_ship, month""".stripMargin,
    "q156_calibration" ->
      """WITH scored AS (
        |  SELECT lang, doc_id, md5(trim(text)) AS fp,
        |    CAST(round(
        |      len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')) * 1000000)
        |      AS BIGINT) AS score
        |  FROM documents WHERE text IS NOT NULL),
        |copies AS (SELECT fp, count(*) AS copies FROM scored GROUP BY fp),
        |dd AS (
        |  SELECT lang, score, copies,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id)
        |      AS decile
        |  FROM scored JOIN copies USING (fp))
        |SELECT lang, decile, count(*) AS n_docs,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(sum(CASE WHEN copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dups,
        |  round(avg(CASE WHEN copies >= 2 THEN 1.0::DOUBLE ELSE 0 END), 4)
        |    AS dup_rate
        |FROM dd GROUP BY lang, decile
        |ORDER BY lang, decile""".stripMargin,
    "q155_triangle_census" ->
      """WITH li AS (
        |  SELECT l_orderkey AS k, l_partkey AS v FROM lineitem
        |  WHERE l_shipdate >= DATE '1995-01-01'
        |    AND l_shipdate < DATE '1995-07-01'),
        |e0 AS (
        |  SELECT DISTINCT a.v AS a, b.v AS b
        |  FROM li a JOIN li b ON a.k = b.k AND a.v < b.v),
        |deg AS (
        |  SELECT v, count(*) AS dg
        |  FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN (da.dg, a) < (db.dg, b) THEN a ELSE b END AS s,
        |         CASE WHEN (da.dg, a) < (db.dg, b) THEN b ELSE a END AS t
        |  FROM e0 JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
        |w AS (
        |  SELECT e1.s AS wa, e1.t AS wb, e2.t AS wc
        |  FROM o e1 JOIN o e2 ON e1.t = e2.s),
        |tri AS (
        |  SELECT count(*) AS n_triangles FROM w
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.s = w.wa AND o.t = w.wc)),
        |agg AS (
        |  SELECT (SELECT count(*) FROM e0) AS n_edges,
        |         (SELECT count(*) FROM w) AS n_oriented_wedges,
        |         (SELECT n_triangles FROM tri) AS n_triangles,
        |         (SELECT CAST(sum(dg * (dg - 1)) / 2 AS BIGINT) FROM deg)
        |           AS open_wedges)
        |SELECT n_edges, n_oriented_wedges, n_triangles, open_wedges,
        |  CASE WHEN open_wedges > 0
        |    THEN round(3.0::DOUBLE * n_triangles / open_wedges, 6) END
        |    AS global_cc
        |FROM agg""".stripMargin,
    "q152_rrf_fusion" ->
      """WITH scored AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(round(len(list_distinct(w))::DOUBLE / len(w) * 1000000)
        |      AS BIGINT) AS score
        |  FROM (SELECT lang, doc_id, n_chars,
        |          regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents WHERE text IS NOT NULL)),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id) AS ra,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rb
        |  FROM scored),
        |f AS (
        |  SELECT lang, doc_id, ra, rb,
        |    1.0::DOUBLE / (ra + 60) + 1.0::DOUBLE / (rb + 60) AS rrf
        |  FROM r),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY rrf DESC, doc_id) AS fused_rank FROM f)
        |SELECT lang, fused_rank, doc_id, ra, rb, round(rrf, 6) AS rrf
        |FROM top WHERE fused_rank <= 5
        |ORDER BY lang, fused_rank""".stripMargin,
    "q148_mad_gate" ->
      """WITH med AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang),
        |dev AS (
        |  SELECT d.lang, d.n_chars, m.med, abs(d.n_chars - m.med) AS adev
        |  FROM documents d JOIN med m USING (lang)),
        |mad AS (SELECT lang, quantile_cont(adev, 0.5) AS mad
        |        FROM dev GROUP BY lang)
        |SELECT dev.lang, count(*) AS n_docs,
        |  round(min(med), 2) AS med_chars,
        |  round(min(mad), 2) AS mad_chars,
        |  CAST(sum(CASE WHEN adev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev JOIN mad USING (lang)
        |GROUP BY dev.lang ORDER BY lang""".stripMargin,
    "q150_psi_drift" ->
      """WITH cls AS (
        |  SELECT source, least(n_chars // 64, 8) AS len_b, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, sum(c) AS st FROM cls GROUP BY source),
        |corpus AS (SELECT len_b, sum(c) AS qc FROM cls GROUP BY len_b),
        |qt AS (SELECT sum(qc) AS qt FROM corpus)
        |SELECT cls.source, count(*) AS n_buckets,
        |  round(sum((c::DOUBLE / st - qc::DOUBLE / qt)
        |    * ln((c::DOUBLE / st) / (qc::DOUBLE / qt))), 4) AS psi
        |FROM cls JOIN st USING (source) JOIN corpus USING (len_b)
        |  CROSS JOIN qt
        |GROUP BY cls.source ORDER BY source""".stripMargin,
    "q143_k_anonymity" ->
      """WITH cls AS (
        |  SELECT lang, source, n_chars // 256 AS len_b, count(*) AS c
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, count(*) AS n_classes,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(min(c) AS BIGINT) AS min_class,
        |  CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k_violations,
        |  CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
        |    AS docs_at_risk,
        |  round(sum(CASE WHEN c < 5 THEN c ELSE 0 END)::DOUBLE / sum(c), 4)
        |    AS risk_frac
        |FROM cls GROUP BY lang ORDER BY lang""".stripMargin,
    "q144_dup_weights" ->
      """WITH fp AS (
        |  SELECT lang, source, doc_id, md5(trim(text)) AS fp,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |copies AS (SELECT fp, count(*) AS copies FROM fp GROUP BY fp)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(sum(1.0::DOUBLE / copies), 4) AS effective_docs,
        |  round(sum(n_tok::DOUBLE / copies), 2) AS effective_tokens
        |FROM fp JOIN copies USING (fp)
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q145_curriculum" ->
      """WITH scored AS (
        |  SELECT source, doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    CAST(round(
        |      len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
        |      / len(regexp_split_to_array(trim(text), '\s+')) * 1000000)
        |      AS BIGINT) AS score
        |  FROM documents WHERE text IS NOT NULL),
        |sd AS (
        |  SELECT source, row_number() OVER (ORDER BY
        |      CAST(('0x' || substr(md5(source), 1, 8)) AS UBIGINT), source)
        |    AS sidx
        |  FROM (SELECT DISTINCT source FROM scored)),
        |n AS (SELECT count(*) AS n_src FROM sd),
        |p AS (
        |  SELECT s.source, s.n_tok, s.score,
        |    (row_number() OVER (PARTITION BY s.source
        |       ORDER BY s.score, s.doc_id) - 1) * n.n_src + (sd.sidx - 1)
        |      AS pos
        |  FROM scored s JOIN sd USING (source) CROSS JOIN n)
        |SELECT pos // 64 AS batch, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  round(avg(score), 2) AS avg_score,
        |  CAST(sum(n_tok) AS BIGINT) AS batch_tokens
        |FROM p GROUP BY 1 ORDER BY batch""".stripMargin,
    "q141_cdc_chunks" ->
      """WITH t AS (
        |  SELECT lang, doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT lang, doc_id, r.i AS i, w[r.i] AS tok,
        |    CASE WHEN r.i + 3 <= len(w) AND
        |      CAST(('0x' || substr(md5(w[r.i] || ' ' || w[r.i+1] || ' ' ||
        |        w[r.i+2] || ' ' || w[r.i+3]), 1, 8)) AS UBIGINT) % 16 = 0
        |    THEN 1 ELSE 0 END AS cut
        |  FROM t, unnest(range(1, len(w) + 1)) r(i)),
        |c AS (
        |  SELECT lang, doc_id, i, tok,
        |    COALESCE(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
        |  FROM p),
        |ch AS (
        |  SELECT lang, doc_id, chunk_no,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS h, count(*) AS len_tok
        |  FROM c GROUP BY lang, doc_id, chunk_no),
        |census AS (
        |  SELECT lang, h, count(*) AS copies, max(len_tok) AS len_tok
        |  FROM ch GROUP BY lang, h)
        |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_chunks,
        |  count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  round(sum(len_tok * copies)::DOUBLE / sum(copies), 4) AS avg_len_tok,
        |  round(sum((copies - 1) * len_tok)::DOUBLE / sum(copies * len_tok), 6)
        |    AS dup_token_frac
        |FROM census GROUP BY lang ORDER BY lang""".stripMargin,
    "q142_quality_gate" ->
      """WITH scored AS (
        |  SELECT lang, source, doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_uniq
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT lang, source, doc_id, n_tok,
        |    ntile(10) OVER (PARTITION BY lang
        |      ORDER BY CAST(round(n_uniq::DOUBLE / n_tok * 1000000) AS BIGINT),
        |               doc_id) AS decile
        |  FROM scored)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN decile BETWEEN 2 AND 9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN decile BETWEEN 2 AND 9 THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS kept_tokens,
        |  round(sum(CASE WHEN decile BETWEEN 2 AND 9 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 4) AS kept_frac
        |FROM g GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q139_walk_rank" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |dp AS (SELECT p, count(*) AS dp FROM e GROUP BY p),
        |dn AS (SELECT o, count(*) AS dn FROM e GROUP BY o),
        |np AS (SELECT CAST(count(*) AS DOUBLE) AS np FROM dp),
        |r0 AS (SELECT p, 1.0 / np AS r FROM dp, np),
        |q1 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r0 USING (p) JOIN dp USING (p) GROUP BY o),
        |r1 AS (SELECT p, 0.15 / any_value(np) + 0.85 * sum(qo / dn) AS r
        |       FROM e JOIN q1 USING (o) JOIN dn USING (o), np GROUP BY p),
        |q2 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r1 USING (p) JOIN dp USING (p) GROUP BY o),
        |r2 AS (SELECT p, 0.15 / any_value(np) + 0.85 * sum(qo / dn) AS r
        |       FROM e JOIN q2 USING (o) JOIN dn USING (o), np GROUP BY p),
        |q3 AS (SELECT o, sum(r / dp) AS qo
        |       FROM e JOIN r2 USING (p) JOIN dp USING (p) GROUP BY o),
        |r3 AS (SELECT p, 0.15 / any_value(np) + 0.85 * sum(qo / dn) AS r
        |       FROM e JOIN q3 USING (o) JOIN dn USING (o), np GROUP BY p)
        |SELECT p AS p_partkey, dp AS n_orders,
        |       round(r * 1000, 6) AS walk_rank_k
        |FROM r3 JOIN dp USING (p)
        |ORDER BY round(r * 1000, 9) DESC, p_partkey LIMIT 10""".stripMargin,
    "q216_epoch_alloc" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |      AS u_tokens
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL
        |  GROUP BY source),
        |tot AS (SELECT CAST(5 * sum(u_tokens) // 2 AS BIGINT) AS budget
        |        FROM per),
        |ep AS (SELECT * FROM (VALUES (0, 1), (1, 2), (2, 4), (3, 8),
        |  (4, 16), (5, 32), (6, 64), (7, 128)) t(k, dv)),
        |items AS (
        |  SELECT p.source, p.u_tokens, e.k, p.u_tokens // e.dv AS util
        |  FROM per p CROSS JOIN ep e WHERE p.u_tokens // e.dv > 0),
        |taken AS (
        |  SELECT *, sum(u_tokens) OVER (ORDER BY util DESC, source, k) AS cum
        |  FROM items)
        |SELECT t.source,
        |  CAST(max(t.u_tokens) AS BIGINT) AS u_tokens,
        |  CAST(count(*) AS BIGINT) AS n_epochs,
        |  CAST(sum(t.u_tokens) AS BIGINT) AS alloc_tokens,
        |  CAST(sum(t.u_tokens) * 1000000 // max(b.budget) AS BIGINT)
        |    AS budget_share_ppm,
        |  CAST(sum(t.util) AS BIGINT) AS utility
        |FROM taken t CROSS JOIN tot b
        |WHERE t.cum <= b.budget
        |GROUP BY t.source ORDER BY t.source""".stripMargin,
    "q130_mixture_weights" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, power(n_tokens, 0.5) AS w_raw FROM per),
        |t AS (SELECT sum(w_raw) AS w_tot FROM w)
        |SELECT source, n_docs, n_tokens,
        |       round(w_raw / w_tot, 6) AS mix_weight,
        |       CAST(round(1000000.0 * w_raw / w_tot) AS BIGINT) AS alloc_tokens,
        |       round(least(1.0, 1000000.0 * w_raw / w_tot / n_tokens), 6) AS sample_rate
        |FROM w, t ORDER BY source""".stripMargin,
    "q114_quality_audit" ->
      """SELECT 'li_disc_range' AS check_name,
        |       CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |       count(*) AS n_rows
        |FROM lineitem
        |UNION ALL
        |SELECT 'li_price_nonpos',
        |       CAST(sum(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'li_qty_range',
        |       CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
        |                     THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'li_orphan_order',
        |       (SELECT count(*) FROM lineitem l
        |        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |          ON l.l_orderkey = o.o_orderkey
        |        WHERE o.o_orderkey IS NULL),
        |       (SELECT count(*) FROM lineitem)
        |UNION ALL
        |SELECT 'ord_orphan_cust',
        |       (SELECT count(*) FROM orders r
        |        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |          ON r.o_custkey = c.c_custkey
        |        WHERE c.c_custkey IS NULL),
        |       (SELECT count(*) FROM orders)
        |UNION ALL
        |SELECT 'ord_pk_dup',
        |       (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders),
        |       (SELECT count(*) FROM orders)
        |ORDER BY check_name""".stripMargin,
    "q103_scd2" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |         o_orderpriority AS prio
        |  FROM orders),
        |r AS (
        |  SELECT *, CASE WHEN lag(prio) OVER
        |      (PARTITION BY o_custkey ORDER BY od, o_orderkey)
        |      IS DISTINCT FROM prio THEN 1 ELSE 0 END AS chg
        |  FROM o),
        |v AS (
        |  SELECT *, sum(chg) OVER
        |      (PARTITION BY o_custkey ORDER BY od, o_orderkey
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM r),
        |h AS (
        |  SELECT o_custkey, version, prio AS o_orderpriority,
        |         min(od) AS vf, count(*) AS n_orders
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT o_custkey, CAST(version AS BIGINT) AS version, o_orderpriority,
        |       strftime(vf, '%Y-%m-%d') AS valid_from,
        |       coalesce(strftime(lead(vf) OVER
        |         (PARTITION BY o_custkey ORDER BY version), '%Y-%m-%d'),
        |         '9999-12-31') AS valid_to,
        |       CAST(n_orders AS BIGINT) AS n_orders
        |FROM h ORDER BY o_custkey, version""".stripMargin,
    "q104_gap_fill" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dy, value FROM events),
        |daily AS (
        |  SELECT event_type, dy, round(sum(value), 2) AS v
        |  FROM e GROUP BY 1, 2),
        |days AS (
        |  SELECT unnest(generate_series(min(dy), max(dy), INTERVAL 1 DAY))::DATE AS dy
        |  FROM e),
        |grid AS (
        |  SELECT t.event_type, days.dy
        |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN days)
        |SELECT g.event_type, strftime(g.dy, '%Y-%m-%d') AS day,
        |       CAST(CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled,
        |       coalesce(last_value(d.v IGNORE NULLS) OVER
        |         (PARTITION BY g.event_type ORDER BY g.dy
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS value_ff
        |FROM grid g LEFT JOIN daily d
        |  ON g.event_type = d.event_type AND g.dy = d.dy
        |ORDER BY g.event_type, day""".stripMargin,
    "q105_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, w,
        |         unnest(range(0, greatest(len(w), 1), 24)) AS st
        |  FROM t)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |       CAST(len(list_slice(w, st + 1, st + 32)) AS BIGINT) AS n_tok,
        |       md5(array_to_string(list_slice(w, st + 1, st + 32), ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "q106_incremental_dedup" -> incrementalDedupSql,
    // q263 replays as q106: the persisted index classifies identically
    // to the inline corpus rescan (one-text rule, the q260 precedent)
    "q263_band_index" -> incrementalDedupSql,
    "q107_containment" -> {
      // naive full inverted-index form: identical output to the Spark
      // side's prefix-filtered plan proves the filter is lossless
      val cte = DedupQueries.shingleCteFrom("documents")
      s"""WITH $cte,
         |rows_ AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sized AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n
         |          FROM rows_)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS inter, CAST(any_value(a.n) AS BIGINT) AS na,
         |       round(count(*)::DOUBLE / any_value(a.n), 4) AS containment
         |FROM sized a JOIN sized b
         |  ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) * 10 >= any_value(a.n) * 8
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q240_boundary_pack" ->
      // next-fit replayed as a lockstep recursion: all (lang, bucket)
      // groups advance one within-bucket position per step, so depth =
      // max pieces per bucket. All-integer closure; every aggregate
      // output CAST to BIGINT (the q223 HUGEINT lesson). Prefix,
      // recursion and census tail shared verbatim with q243/q249
      // (the sentinel rule).
      s"""WITH RECURSIVE $packCntCtes,
         |$packBucketCtes,
         |$nextFitOrdStCtes,
         |$packCensusTail""".stripMargin,
    "q249_shard_export" ->
      // q240's pack replay (prefix + next-fit recursion shared
      // verbatim) with the export-census tail; ok is the literal 1 —
      // the Spark side computes it from the re-read files vs the
      // manifest, so any round-trip infidelity hash-mismatches
      s"""WITH RECURSIVE $packCntCtes,
         |$packBucketCtes,
         |$nextFitOrdStCtes,
         |$exportCensusCtes
         |SELECT lang, bucket AS shard, n_pieces, n_seqs, sum_tokens,
         |  sum_tokens * 1000000 // (n_seqs * 512) AS fill_ppm,
         |  CAST(1 AS BIGINT) AS ok
         |FROM bkt ORDER BY lang, shard""".stripMargin,
    "q258_stream_forget" ->
      // the streaming-layout erasure keeps sequence numbering (holes
      // where erased pieces sat), so the oracle packs the FULL
      // population with q240/q249's verbatim recursion and deletes the
      // erased docs' rows AFTERWARD — the exact opposite order of
      // q250's re-packing oracle (pcf filters BEFORE its recursion)
      s"""WITH RECURSIVE $packCntCtes,
         |${packBucketCtesP("cnt", "", 512L)},
         |$nextFitOrdStCtes,
         |aff AS (SELECT DISTINCT lang, bucket FROM st
         |        WHERE doc_id % 97 = 13),
         |surv AS (SELECT * FROM st WHERE NOT (doc_id % 97 = 13)),
         |cen AS (
         |  SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_pieces,
         |    CAST(count(DISTINCT seq) AS BIGINT) AS n_seqs,
         |    CAST(sum(size) AS BIGINT) AS sum_tokens
         |  FROM surv GROUP BY 1, 2)
         |SELECT lang, bucket AS shard, n_pieces, n_seqs, sum_tokens,
         |  sum_tokens * 1000000 // (n_seqs * 512) AS fill_ppm,
         |  CAST(1 AS BIGINT) AS ok
         |FROM cen JOIN aff USING (lang, bucket)
         |ORDER BY lang, shard""".stripMargin,
    "q250_export_forget" ->
      // the pack replay minus the deletion predicate's docs: ranks and
      // buckets come from the FULL population (erasure does not renumber
      // the corpus), pieces filter AFTER bucketing (pcf), and the
      // recursion text is q240/q249's verbatim, pointed at pcf; output
      // restricted to the shards the deletion list touches. ok = 1 as
      // in q249 — the Spark side computes it from re-read files vs the
      // post-forget manifest
      s"""WITH RECURSIVE $packCntCtes,
         |$packBucketCtes,
         |pcf AS (SELECT * FROM pc WHERE NOT (doc_id % 97 = 13)),
         |aff AS (SELECT DISTINCT lang, bucket FROM pc
         |        WHERE doc_id % 97 = 13),
         |${nextFitOrdSt("pcf")},
         |$exportCensusCtes
         |SELECT lang, bucket AS shard, n_pieces, n_seqs, sum_tokens,
         |  sum_tokens * 1000000 // (n_seqs * 512) AS fill_ppm,
         |  CAST(1 AS BIGINT) AS ok
         |FROM bkt JOIN aff USING (lang, bucket)
         |ORDER BY lang, shard""".stripMargin,
    "q246_export_manifest" -> {
      // every stage's oracle text is the already-proven one: trainer
      // CTEs + unrolled GD rounds shared with q242 (TextQueries),
      // prefixed BPE-count CTEs + bucket prefix + BFD recursion shared
      // with q243; only the whole-corpus scoring (atoks/af/ascore) and
      // the O(langs) manifest tail are new text.
      import graft.operators.HashedLinearModel.duckBucket
      s"""WITH RECURSIVE ${TextQueries.duckLogregTrainCtes("doc_id % 7 <> 0")},
         |${TextQueries.duckGdRounds(8)},
         |atoks AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         |  FROM docs),
         |af AS (
         |  SELECT DISTINCT doc_id, ${duckBucket("tok", 1024)} AS b, 1 AS c
         |  FROM atoks
         |  UNION ALL SELECT DISTINCT doc_id, -1 AS b, 1 AS c FROM atoks),
         |ascore AS (
         |  SELECT af.doc_id, CAST(sum(af.c * coalesce(w.w, 0)) AS BIGINT) AS lw
         |  FROM af LEFT JOIN w8 w ON af.b = w.b GROUP BY af.doc_id),
         |kept AS (SELECT doc_id FROM ascore WHERE lw <= 0),
         |${packCntCtesP("p_")},
         |${packBucketCtesP("p_cnt", " JOIN kept k USING (doc_id)")},
         |$bfdOrdStCtes,
         |perseq AS (
         |  SELECT lang, bucket, seq, CAST(sum(size) AS BIGINT) AS seq_tok
         |  FROM st GROUP BY 1, 2, 3),
         |pl AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_seqs,
         |    CAST(sum(seq_tok) AS BIGINT) AS sum_tokens
         |  FROM perseq GROUP BY 1),
         |inp AS (
         |  SELECT d2.lang, CAST(count(*) AS BIGINT) AS n_input
         |  FROM docs JOIN documents d2 USING (doc_id) GROUP BY 1),
         |kl AS (
         |  SELECT d2.lang, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM kept
         |  JOIN docs USING (doc_id)
         |  JOIN documents d2 USING (doc_id) GROUP BY 1)
         |SELECT i.lang, n_input,
         |  coalesce(n_kept, 0) AS n_kept,
         |  n_input - coalesce(n_kept, 0) AS n_dropped,
         |  coalesce(n_seqs, 0) AS n_seqs,
         |  coalesce(sum_tokens, 0) AS sum_tokens,
         |  CASE WHEN coalesce(n_seqs, 0) > 0
         |       THEN sum_tokens * 1000000 // (n_seqs * 512)
         |       ELSE 0 END AS fill_ppm
         |FROM inp i LEFT JOIN kl USING (lang) LEFT JOIN pl USING (lang)
         |ORDER BY lang""".stripMargin
    },
    "q243_bfd_pack" ->
      // best-fit-decreasing replayed as the SAME lockstep recursion
      // with the open-remainder LIST as state: best fit = list_min of
      // the fitting remainders (minimizing rem ⟺ minimizing rem−size),
      // lowest-index tie = list_position's first match; no fit appends
      // a fresh sequence. DuckDB-1.0-safe (no index lambdas).
      s"""WITH RECURSIVE $packCntCtes,
         |$packBucketCtes,
         |$bfdOrdStCtes,
         |$packCensusTail""".stripMargin,
    "q223_pack_shard" -> {
      // BPE as a chained leftmost replace: each word becomes a
      // '|'-framed char string ('|s|p|a|r|k|'), each committed merge
      // (a,b) one replace('|a|b|' -> '|ab|') in learned order —
      // leftmost-nonoverlapping continuation == BpeTrainer's merge
      // fold; token count = pieces between frames. Packing then only
      // needs the counts.
      //
      // seq MUST be cast to BIGINT here (round-8's only red row):
      // rt is a window sum over BIGINT, which DuckDB types HUGEINT,
      // so the derived seq/shard group key was HUGEINT — rendered as
      // float64 by fetchdf, so a value-HASHING checker sees 0.0 vs
      // Spark's 0 and mismatches, while an allclose checker passes.
      // q239 was green because its generate_series bounds carried the
      // same cast. The type sweep (tools/type_sweep.py) now flags any
      // non-finite-width oracle output column.
      s"""WITH $packCntCtes,
         |$packSeqCtes
         |SELECT seq // 16 AS shard,
         |  count(DISTINCT seq) AS n_seqs,
         |  count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(toks) * 1000000 // (count(DISTINCT seq) * 512)
         |    AS BIGINT) AS fill_ppm,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM sq GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q122_shard_assign" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (
        |      ORDER BY ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT (rn - 1) // 64 AS shard, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q127_source_overlap" -> {
      val cte = DedupQueries.shingleCteFrom("documents")
      s"""WITH $cte,
         |mh AS (SELECT doc_id,
         |    list_min(list_transform(s, x -> md5('0:' || x))) AS mh0
         |  FROM sh WHERE len(s) > 0),
         |m AS (SELECT DISTINCT mh.mh0, d.source
         |  FROM mh JOIN documents d USING (doc_id))
         |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |FROM m a JOIN m b ON a.mh0 = b.mh0 AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "q125_ring_negatives" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      ORDER BY ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT a.doc_id, j.j, b.doc_id AS neg_id
        |FROM r a
        |JOIN (SELECT unnest([1, 2, 3]) AS j) j ON TRUE
        |JOIN r b ON b.rn = (a.rn - 1 + j.j) % a.n + 1
        |ORDER BY a.doc_id, j.j""".stripMargin,
    "q126_norm_dedup" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(trim(text))) AS n_uniq_raw,
        |  count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS n_uniq_norm,
        |  count(DISTINCT md5(trim(text)))
        |    - count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS n_caught_by_norm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q124_token_budget" ->
      s"""WITH q AS (
         |  SELECT lang, doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
         |    ${DedupQueries.duckScore} AS score
         |  FROM documents),
         |r AS (
         |  SELECT lang, n_tok,
         |    sum(n_tok) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM q)
         |SELECT lang, count(*) AS n_sel, CAST(sum(n_tok) AS BIGINT) AS tok_sel
         |FROM r WHERE cum <= 5000
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q121_containment_prefix" -> {
      // same naive full inverted-index oracle at the 0.9 threshold: a
      // green row proves the Spark-side PREFIX FILTER loses no pair
      val cte = DedupQueries.shingleCteFrom("documents")
      s"""WITH $cte,
         |rows_ AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sized AS (SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n
         |          FROM rows_)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS inter, CAST(any_value(a.n) AS BIGINT) AS na,
         |       round(count(*)::DOUBLE / any_value(a.n), 4) AS containment
         |FROM sized a JOIN sized b
         |  ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) * 10 >= any_value(a.n) * 9
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q112_interpolate" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dy, value FROM events),
        |daily AS (
        |  SELECT event_type, dy, CAST(round(sum(value) * 100) AS BIGINT) AS v_c
        |  FROM e GROUP BY 1, 2),
        |days AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS dy
        |  FROM (SELECT min(dy) AS d0, max(dy) AS d1 FROM e)),
        |grid AS (
        |  SELECT t.event_type, days.dy
        |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN days),
        |j AS (
        |  SELECT g.event_type, g.dy, d.v_c
        |  FROM grid g LEFT JOIN daily d
        |    ON g.event_type = d.event_type AND g.dy = d.dy),
        |f AS (
        |  SELECT event_type, dy, v_c,
        |    last_value(v_c IGNORE NULLS) OVER w_past AS pv,
        |    last_value(CASE WHEN v_c IS NOT NULL THEN dy END IGNORE NULLS)
        |      OVER w_past AS pd,
        |    first_value(v_c IGNORE NULLS) OVER w_next AS nv,
        |    first_value(CASE WHEN v_c IS NOT NULL THEN dy END IGNORE NULLS)
        |      OVER w_next AS nd
        |  FROM j
        |  WINDOW
        |    w_past AS (PARTITION BY event_type ORDER BY dy
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_next AS (PARTITION BY event_type ORDER BY dy
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, strftime(dy, '%Y-%m-%d') AS day,
        |  CAST(CASE WHEN v_c IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS filled,
        |  CAST(CASE WHEN v_c IS NOT NULL THEN v_c
        |            WHEN pv IS NULL THEN nv
        |            WHEN nv IS NULL THEN pv
        |            ELSE CAST(round(pv + (nv - pv)
        |                   * date_diff('day', pd, dy)
        |                   / date_diff('day', pd, nd)) AS BIGINT)
        |       END AS BIGINT) AS cents
        |FROM f ORDER BY event_type, day""".stripMargin,
    "q108_quota_sample" ->
      """WITH rk AS (
        |  SELECT lang, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('smp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
        |FROM rk WHERE rk <= 30 ORDER BY lang, rk""".stripMargin
  )
}
