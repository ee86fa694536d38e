package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Doc-boundary-aware sequence packing — the ACTING counterpart of
  * q239's packing-purity census (the repo's census→action pattern:
  * q129 audits → q134 acts, q231 audits → q238 ranks). q239 *measures*
  * how many 512-token training sequences mix languages/documents under
  * q223's stream packing; this operator *packs* so that no sequence
  * ever crosses a document boundary (Ding et al. 2024, "Fewer
  * Truncations Improve Language Modeling": truncation-free packing
  * removes cross-document attention bleed without attention-mask
  * surgery).
  *
  * Semantics:
  *  - Every document is first SPLIT into pieces of at most `cap`
  *    tokens: `toks DIV cap` full pieces (each exactly `cap` — they
  *    own a whole sequence) plus one remainder piece `toks MOD cap`.
  *    Splitting a long doc at its own boundaries keeps every sequence
  *    single-document for long docs and loses nothing (own-doc
  *    sequences are truncation-free by definition).
  *  - Pieces are then packed GREEDILY (next-fit) in a reproducible
  *    salted-hash order within fixed 64-doc buckets: a piece joins the
  *    currently open sequence if it fits, else opens a new one. A
  *    sequence therefore only ever contains WHOLE pieces — no token of
  *    any document straddles two sequences.
  *
  * Why next-fit (not first-fit/best-fit-decreasing): the fold is O(1)
  * state per bucket, streams, and is replayable as a scalar lockstep
  * recursion by an external oracle; next-fit's fill guarantee (any two
  * consecutive sequences overflow `cap`, so closed sequences average
  * >50% full) is measured rather than assumed — the census query
  * reports exact fill ppm, and SeqPackerSpec pins the tradeoff against
  * q223's boundary-blind packing (denser, but bleeding).
  *
  * Scale shape (100 TB): bucketing rides ONE DistributedRank pass
  * (window-free two-pass global row number over a composite
  * langId*2^32+hash key, so per-language numbering costs no
  * per-language hot partition); the pack itself is one hash exchange
  * on (lang, bucket) + a sortWithinPartitions + a linear
  * mapPartitions fold with O(1) state — the genuine per-partition
  * imperative case. Buckets are 64 docs, so no task ever holds more
  * than a bucket's metadata; nothing funnels through the driver.
  */
object SeqPacker {

  /** One packable piece: `ord1`/`ord2` give the deterministic packing
    * order within (lang, bucket) — callers pass (per-lang salted rank,
    * piece index). `size` in tokens, 1 <= size <= cap. */
  final case class Piece(lang: String, bucket: Long, ord1: Long,
    ord2: Long, docId: Long, size: Long)

  /** `Piece` plus its assigned sequence index within (lang, bucket). */
  final case class Placed(lang: String, bucket: Long, ord1: Long,
    ord2: Long, docId: Long, size: Long, seq: Long)

  /** Explodes per-doc token counts into <=cap pieces.
    * Input columns: `lang` (string), `bucket`, `ord1`, `doc_id`,
    * `toks` (longs, toks >= 1). Output: one row per piece with
    * `pidx` (0-based) and `size` — `toks DIV cap` full pieces then a
    * MOD-cap remainder when nonzero. */
  def pieces(perDoc: DataFrame, cap: Int): DataFrame = {
    val np = (col("toks") + (cap - 1)).cast("long") / cap
    perDoc
      .withColumn("pidx",
        explode(sequence(lit(0L), np.cast("long") - 1)))
      .withColumn("size", least(lit(cap.toLong),
        col("toks") - col("pidx") * cap))
      .select(col("lang"), col("bucket"), col("ord1"),
        col("pidx").as("ord2"), col("doc_id"), col("size"))
  }

  /** Next-fit packing of pieces into sequences of capacity `cap`,
    * independently within each (lang, bucket) group, in (ord1, ord2)
    * order: place the piece in the open sequence if it fits, else open
    * the next. Deterministic for any partitioning: the fold's state
    * resets at every group boundary, and groups are made contiguous by
    * the exchange+sort, so the per-group result never depends on which
    * partition a group landed in. */
  def pack(pieces: Dataset[Piece], cap: Int): Dataset[Placed] = {
    val spark = pieces.sparkSession
    import spark.implicits._
    require(cap > 0, s"cap must be positive, got $cap")
    pieces
      .repartition(col("lang"), col("bucket"))
      .sortWithinPartitions(col("lang"), col("bucket"), col("ord1"),
        col("ord2"))
      .as[Piece]
      .mapPartitions { it =>
        var curLang: String = null
        var curBucket = Long.MinValue
        var seq = -1L
        var rem = 0L
        it.map { p =>
          if (p.lang != curLang || p.bucket != curBucket) {
            curLang = p.lang; curBucket = p.bucket; seq = -1L; rem = 0L
          }
          if (p.size <= rem) rem -= p.size
          else { seq += 1L; rem = cap.toLong - p.size }
          Placed(p.lang, p.bucket, p.ord1, p.ord2, p.docId, p.size, seq)
        }
      }
  }

  /** BEST-FIT-DECREASING packing — the algorithm Ding et al. 2024
    * actually ship (next-fit is the O(1)-state streaming floor; BFD is
    * the offline quality ceiling): within each (lang, bucket) group,
    * pieces sort by (size DESC, ord1, ord2) and each goes to the open
    * sequence with the SMALLEST remainder that still fits (ties →
    * lowest sequence index), else opens a new one. Classic bin-packing
    * guarantee: BFD uses ≤ 11/9·OPT + 4 bins, and never more than
    * next-fit on the same pieces (SeqPackerSpec measures the gap).
    * State per group is the open-remainder array — bounded by the
    * bucket's sequence count (≤ 64·maxPieces here), scanned linearly
    * per piece; same exchange + sortWithinPartitions + fold shape as
    * [[pack]], so the cost difference is in-task only. */
  def packBfd(pieces: Dataset[Piece], cap: Int): Dataset[Placed] = {
    val spark = pieces.sparkSession
    import spark.implicits._
    require(cap > 0, s"cap must be positive, got $cap")
    pieces
      .repartition(col("lang"), col("bucket"))
      .sortWithinPartitions(col("lang"), col("bucket"),
        col("size").desc, col("ord1"), col("ord2"))
      .as[Piece]
      .mapPartitions { it =>
        var curLang: String = null
        var curBucket = Long.MinValue
        val rems = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.map { p =>
          if (p.lang != curLang || p.bucket != curBucket) {
            curLang = p.lang; curBucket = p.bucket; rems.clear()
          }
          var best = -1
          var i = 0
          while (i < rems.length) {
            if (rems(i) >= p.size &&
              (best < 0 || rems(i) < rems(best))) best = i
            i += 1
          }
          val bin =
            if (best >= 0) { rems(best) -= p.size; best.toLong }
            else { rems += cap.toLong - p.size; (rems.length - 1).toLong }
          Placed(p.lang, p.bucket, p.ord1, p.ord2, p.docId, p.size, bin)
        }
      }
  }

  /** End-to-end convenience: per-doc counts -> pieces -> packed.
    * Input columns as [[pieces]]. `bfd` picks [[packBfd]] over the
    * next-fit default. */
  def packDocs(perDoc: DataFrame, cap: Int,
      bfd: Boolean = false): Dataset[Placed] = {
    val spark = perDoc.sparkSession
    import spark.implicits._
    val ps = pieces(perDoc, cap)
      .select(col("lang"), col("bucket"), col("ord1"), col("ord2"),
        col("doc_id").as("docId"), col("size")).as[Piece]
    if (bfd) packBfd(ps, cap) else pack(ps, cap)
  }

  // ---- shard export (write/read the packed corpus) -------------------

  /** Read-side schemas — passed explicitly so an EMPTY export (no data
    * files, only directory markers) still reads back as an empty frame
    * instead of failing parquet schema inference. `lang`/`bucket` are
    * the partition columns of the data layout. */
  val shardSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ord1",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ord2",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("docId",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("size",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType)))

  val manifestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_pieces",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_seqs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("checksum",
        org.apache.spark.sql.types.LongType)))

  /** Order-free per-shard content fingerprint: XOR of a 64-bit hash of
    * every placement row. Commutative (safe under any read order /
    * file split), collision-negligible for corruption detection, and
    * cheap — one codegen'd hash per row inside the manifest agg. */
  def pieceChecksum: org.apache.spark.sql.Column =
    bit_xor(xxhash64(concat_ws(":", col("ord1"), col("ord2"),
      col("docId"), col("size"), col("seq"))))

  /** Per-(lang, bucket) manifest of a packed frame: piece/sequence/
    * token mass plus the [[pieceChecksum]] fingerprint. */
  def manifest(packed: DataFrame): DataFrame =
    packed.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("seq")).as("n_seqs"),
        sum(col("size")).as("sum_tokens"),
        pieceChecksum.as("checksum"))

  /** Writes the packed corpus as the TRAINING-EXPORT layout: placement
    * rows under `outDir/data`, hash-partitioned and directory-
    * partitioned by (lang, bucket) — one shard per 64-doc pack bucket,
    * so a trainer reads any shard independently and a census prunes on
    * the partition columns — plus the per-shard [[manifest]] under
    * `outDir/manifest`. Crash safety is [[graft.sources.ArtifactCommit
    * .swap]]: everything builds beside `outDir`, then two checked
    * renames replace it; a rerun after ANY failure converges, and a
    * rerun after success is a clean rewrite of identical content —
    * retry-idempotent, never a partial export. */
  def writeShards(packed: Dataset[Placed], outDir: String): Unit = {
    val spark = packed.sparkSession
    // checkpoint once: the pack chain (rank + exchange + fold) would
    // otherwise recompute for the data write AND the manifest agg
    val df = Cut(packed.toDF())
    graft.sources.ArtifactCommit.swap(spark, outDir) { tmp =>
      df.repartition(col("lang"), col("bucket"))
        .write.partitionBy("lang", "bucket")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "data").toString)
      manifest(df).coalesce(1)
        .write.parquet(new org.apache.hadoop.fs.Path(tmp, "manifest").toString)
    }
  }

  /** Reads an export back: (placement rows, manifest). Explicit
    * schemas — see [[shardSchema]]. */
  def readShards(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    recover(spark, dir)
    (spark.read.schema(shardSchema).parquet(s"$dir/data"),
      spark.read.schema(manifestSchema).parquet(s"$dir/manifest"))
  }

  /** Finish an interrupted [[writeShards]] swap, then an interrupted
    * [[forgetShards]] manifest swap. */
  private def recover(spark: SparkSession, dir: String): Unit = {
    graft.sources.ArtifactCommit.recoverSwapAt(spark, dir)
    graft.sources.ArtifactCommit.recoverSwapAt(spark, s"$dir/manifest")
  }

  final case class ForgetShardStats(nForgotten: Long, nRewritten: Long,
    nEmptied: Long)

  /** GDPR-erasure for the shard export — the acting counterpart of
    * [[graft.operators.VectorIndex.forget]] on the OTHER persisted
    * corpus artifact: delete every placement row of the deletion
    * list's documents, re-packing ONLY the (lang, bucket) shards the
    * list touches. Footprint discovery is one NARROW scan (docId +
    * the partition columns) semi-joined with the deletion list; the
    * REWRITE is bounded by the footprint — never a corpus rewrite.
    * The footprint travels as a frame, not an Or-chain predicate (a
    * large list touches thousands of shards; an Or tree would
    * overflow the analyzer and evaluate O(touched) per row), and
    * carries no forced broadcast hint — it tracks the deletion list
    * (audit rule), so AQE broadcasts the common small case. Surviving
    * pieces re-pack with their ORIGINAL within-bucket order, so the
    * result is exactly the pack of the bucket minus the deleted docs;
    * emptied shard dirs are deleted; manifest rows for touched shards
    * are recomputed from the REWRITTEN data and swapped in atomically.
    *
    * Crash safety differs from VectorIndex.forget because the export
    * carries a manifest that must stay consistent with data the crash
    * may have half-rewritten: the touched-shard footprint AND the
    * deletion ids themselves are recorded in `_forget_pending` /
    * `_forget_pending_ids` sidecars BEFORE any mutation
    * ([[graft.sources.ArtifactCommit]] WAL pattern) and deleted only
    * after the manifest swap commits. A retry unions both sidecars into
    * its own list, so shards whose data committed but whose manifest
    * didn't are re-finished, and condemned rows still sitting in
    * zero-survivor shards (dynamic overwrite never rewrites those — the
    * round-9 ADVICE hole) still hit even under a disjoint retry list; a
    * retry after full success finds no hits and no sidecar — a zero-op.
    * An interrupted manifest swap is completed on entry before anything
    * else. */
  def forgetShards(spark: SparkSession, dir: String, delIds: DataFrame,
      delCol: String, cap: Int): ForgetShardStats = {
    import spark.implicits._
    import graft.sources.ArtifactCommit
    val fs = ArtifactCommit.fsOf(spark, dir)
    recover(spark, dir)
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")
    val pendingIds = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ids")
    val delNew = delIds.select(col(delCol).cast("long").as("docId"))
      .where(col("docId").isNotNull).distinct()
    // checkpoint BEFORE the sidecar rewrite deletes the files it reads
    val del = ArtifactCommit.readIdsWal(spark, pendingIds, "docId")
      .map(delNew.unionByName(_).distinct()).getOrElse(delNew)
      .transform(Cut(_))
    val (files, man) = readShards(spark, dir)
    val hitAgg = files.join(del, Seq("docId"), "left_semi")
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pendingPrev: Seq[(String, Long)] =
      ArtifactCommit.readFootprint(fs, pending)
        .map { case Array(lang, b) => (lang, b.toLong) }
    val touched =
      (hitAgg.map(t => (t._1, t._2)) ++ pendingPrev).distinct.sortBy(identity)
    if (touched.isEmpty) {
      ArtifactCommit.clearIdsWal(fs, pendingIds)
      return ForgetShardStats(0L, 0L, 0L)
    }
    // intent record BEFORE any mutation: ids first, then footprint
    ArtifactCommit.writeIdsWal(del, pendingIds)
    ArtifactCommit.writeFootprint(fs, pending,
      touched.map { case (l, b) => Seq(l, b.toString) })
    // footprint as a FRAME, never an Or-chain predicate (a large
    // deletion list touches thousands of shards — a per-shard Or tree
    // overflows the analyzer stack and evaluates O(touched) per row);
    // the frame tracks the deletion list, so no forced broadcast hint
    // (audit rule) — AQE broadcasts the common small case on its own
    val touchedDf = touched.toSeq.toDF("lang", "bucket")
    // re-pack survivors of touched shards in their ORIGINAL order;
    // checkpoint: the write below overwrites the files being read
    val repacked = pack(files
      .join(touchedDf, Seq("lang", "bucket"), "left_semi")
      .join(del, Seq("docId"), "left_anti")
      .select(col("lang"), col("bucket"), col("ord1"), col("ord2"),
        col("docId"), col("size")).as[Piece], cap)
      .toDF().transform(Cut(_))
    val survivors = repacked.select(col("lang"), col("bucket")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    repacked.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang", "bucket").parquet(s"$dir/data")
    val emptied = touched.filterNot(survivors)
    emptied.foreach { case (l, b) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/data/lang=$l/bucket=$b"), true)
    }
    // manifest: untouched rows + rows recomputed from the rewrite
    ArtifactCommit.swap(spark, s"$dir/manifest") { tmp =>
      man.join(touchedDf, Seq("lang", "bucket"), "left_anti")
        .unionByName(manifest(repacked))
        .coalesce(1).write.parquet(tmp)
    }
    fs.delete(pending, false)
    ArtifactCommit.clearIdsWal(fs, pendingIds)
    ForgetShardStats(hitAgg.map(_._3).sum,
      (touched.length - emptied.length).toLong, emptied.length.toLong)
  }

  /** foreachBatch sink for a streaming DELETION feed against the shard
    * export — [[graft.operators.VectorIndex.forgetSink]]'s twin on the
    * other persisted corpus artifact, so one erasure queue can fan out
    * to every store. At-least-once safe by [[forgetShards]]' own
    * contract: a redelivered batch finds its ids already gone and is a
    * zero-op, a crashed batch converges on retry (intent sidecar).
    * `delCol` names the id column of the stream. */
  def forgetSink(dir: String, delCol: String,
      cap: Int): (DataFrame, Long) => Unit =
    (batch, _) => { forgetShards(batch.sparkSession, dir, batch,
      delCol, cap); () }
}
