package graft.streaming

import graft.operators.SeqPacker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Cut

/** Streaming shard EXPORT — lands [[StreamingPacker]]'s emissions on
  * disk incrementally, completing stream → pack → artifact (batch
  * [[SeqPacker.writeShards]] is the offline tier; this is its
  * micro-batch twin, the `VectorIndex.ingestSink` idiom).
  *
  * Layout: `dir/data/batch_id=N/lang=…/bucket=…` placement rows plus
  * `dir/manifest/batch_id=N` per-(batch, shard) rows. Retry stability
  * is per-batch idempotence WITHOUT a sidecar: [[appendBatch]] rewrites
  * ONLY its own `batch_id=N` subtrees (delete-then-write), so a crashed
  * or redelivered micro-batch converges and no other batch is ever
  * touched — exactly `VectorIndex.appendTo`'s contract.
  *
  * Manifest mergeability (the design pitfall SURVEY's round-10 queue
  * records, resolved here): per-batch rows carry pieces, token mass and
  * the order-free XOR fingerprint — all of which merge across batches
  * by sum/sum/xor — but deliberately NOT a per-batch sequence count: an
  * open sequence legally SPANS micro-batches under next-fit, so
  * per-batch distinct-seq counts double-count at the seam. [[census]]
  * derives global n_seqs from the merged data at read time instead,
  * and cross-checks the mergeable stats against the data (`ok`), so
  * a lost or doubled batch surfaces exactly as in the batch export's
  * q249 round-trip census. */
object StreamingExport {

  /** Read-side schemas (explicit, so an empty export reads back —
    * the [[SeqPacker.readShards]] rule). Partition columns:
    * (batch_id) then (lang, bucket) under data. */
  val dataSchema: StructType = StructType(Seq(
    StructField("ord1", LongType), StructField("ord2", LongType),
    StructField("docId", LongType), StructField("size", LongType),
    StructField("seq", LongType), StructField("batch_id", LongType),
    StructField("lang", StringType), StructField("bucket", LongType)))

  val manifestSchema: StructType = StructType(Seq(
    StructField("lang", StringType), StructField("bucket", LongType),
    StructField("n_pieces", LongType), StructField("sum_tokens", LongType),
    StructField("checksum", LongType), StructField("batch_id", LongType)))

  /** Appends one micro-batch of placements: placement rows under
    * `data/batch_id=N` (directory-partitioned by (lang, bucket) inside,
    * hash-repartitioned so shard dirs don't explode into small files)
    * and the batch's mergeable manifest rows under `manifest/batch_id=N`.
    * Rewrites only its OWN batch subtrees — redelivery-idempotent. */
  def appendBatch(placed: DataFrame, dir: String, batchId: Long): Unit = {
    val spark = placed.sparkSession
    val dataP = new org.apache.hadoop.fs.Path(s"$dir/data/batch_id=$batchId")
    val manP = new org.apache.hadoop.fs.Path(s"$dir/manifest/batch_id=$batchId")
    val fs = dataP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a batch landing in a torn tree would recreate the live path and
    // strand the complete compacted tree beside it
    recover(spark, dir)
    // checkpoint BEFORE deleting: consumed by the data write AND the
    // manifest agg — and a redelivered frame may be derived from the
    // very batch_id subtree the deletes below are about to drop
    val df = placed.select(col("lang"), col("bucket"), col("ord1"),
      col("ord2"), col("docId"), col("size"), col("seq")).transform(Cut(_))
    fs.delete(dataP, true)
    fs.delete(manP, true)
    df.repartition(col("lang"), col("bucket"))
      .write.partitionBy("lang", "bucket").parquet(dataP.toString)
    df.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_pieces"),
        sum(col("size")).as("sum_tokens"),
        SeqPacker.pieceChecksum.as("checksum"))
      .coalesce(1).write.parquet(manP.toString)
  }

  /** foreachBatch sink: `StreamingPacker.placed(pieces, cap).toDF()
    * .writeStream.foreachBatch(StreamingExport.sink(dir))`. */
  def sink(dir: String): (DataFrame, Long) => Unit =
    (batch, batchId) => appendBatch(batch, dir, batchId)

  /** All placement rows ever landed (batch_id as a column). */
  def readPlaced(spark: SparkSession, dir: String): DataFrame = {
    recover(spark, dir)
    spark.read.schema(dataSchema).parquet(s"$dir/data")
  }

  /** Finish an interrupted [[compact]] cutover of either tree. */
  private def recover(spark: SparkSession, dir: String): Unit =
    Seq("data", "manifest").foreach(t =>
      graft.sources.ArtifactCommit.recoverSwapAt(spark, s"$dir/$t"))

  /** Global per-shard census with manifest cross-check: n_pieces /
    * sum_tokens / checksum fold from the per-batch manifest rows
    * (sum/sum/xor — O(batches × shards) rows, data files untouched);
    * n_seqs comes from the merged DATA (sequences span batches); `ok`
    * is 1 iff the data reproduces the folded manifest. */
  def census(spark: SparkSession, dir: String): DataFrame = {
    recover(spark, dir)
    val man = spark.read.schema(manifestSchema)
      .parquet(s"$dir/manifest")
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_pieces")).as("n_pieces"),
        sum(col("sum_tokens")).as("sum_tokens"),
        bit_xor(col("checksum")).as("checksum"))
    val data = readPlaced(spark, dir)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("d_pieces"),
        countDistinct(col("seq")).as("n_seqs"),
        sum(col("size")).as("d_tokens"),
        SeqPacker.pieceChecksum.as("d_sum"))
    man.join(data, Seq("lang", "bucket"), "full")
      .select(col("lang"), col("bucket").as("shard"),
        col("n_pieces"), col("n_seqs"), col("sum_tokens"),
        (coalesce(col("d_pieces"), lit(-1L)) === col("n_pieces") &&
          coalesce(col("d_tokens"), lit(-1L)) === col("sum_tokens") &&
          coalesce(col("d_sum"), lit(Long.MinValue)) === col("checksum"))
          .cast("long").as("ok"))
      .orderBy(col("lang"), col("shard"))
  }

  /** What a [[forget]] call did. */
  final case class ForgetExportStats(nForgotten: Long, nPartsRewritten: Long,
    nPartsDeleted: Long, nBatchesTouched: Long)

  /** Right-to-be-forgotten DELETE on the streaming export — erasure
    * propagated into the THIRD persisted corpus artifact (VectorIndex
    * .forget and SeqPacker.forgetShards are the index and batch-export
    * analogs; a GDPR pipeline must reach every store). Removes every
    * placement of the listed doc ids by rewriting ONLY the
    * (batch_id, lang, bucket) partitions they touch, then recomputes
    * the touched batches' manifest rows from the rewritten data so the
    * [[census]] cross-check stays green.
    *
    * Unlike the batch export's forgetShards, survivors are NOT
    * re-packed: sequences keep their numbering with holes where the
    * erased pieces sat (erasure never renumbers — the q250 rule), and
    * re-packing here would also move rows across batch subtrees whose
    * per-batch redelivery contract owns them. The price is fill
    * degradation where deletions cluster, visible in the census token
    * mass; [[compact]] plus a downstream re-pack is the offline remedy
    * on a sealed export.
    *
    * Crash safety (the forgetShards discipline): the touched footprint
    * is recorded in a `_forget_pending` WAL sidecar AND the deletion
    * ids themselves in a `_forget_pending_ids` parquet sidecar BEFORE
    * any mutation, both cleared only after the manifests commit; a
    * rerun — after a crash in ANY window, or after success, with the
    * same list, a different list, or no overlap at all — converges:
    * the retry unions the persisted ids into its own list, so rows the
    * crashed run committed to erase still hit. (Footprint alone is NOT
    * enough: dynamic overwrite never rewrites a zero-survivor
    * partition, so in the window between the overwrite and the
    * emptied-dir deletes those partitions still hold the condemned
    * rows — a retry whose fresh list no longer hits them would rewrite
    * them as survivors and clear the WAL.) Both the footprint and the
    * ids travel as FRAMES with no forced broadcast (deletion-tracking,
    * audit rule). */
  def forget(spark: SparkSession, dir: String, delIds: DataFrame,
      delCol: String): ForgetExportStats = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")
    val pendingIds = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ids")
    val delNew = delIds.select(col(delCol).cast("long").as("docId"))
      .where(col("docId").isNotNull).distinct()
    // ids WAL from a prior crashed run: union into the caller's list so
    // already-committed erasures still hit on retry. Checkpoint BEFORE
    // the sidecar rewrite below deletes the very files it reads from.
    val del = graft.sources.ArtifactCommit
      .readIdsWal(spark, pendingIds, "docId")
      .map(delNew.unionByName(_).distinct()).getOrElse(delNew)
      .transform(Cut(_))
    val placed = readPlaced(spark, dir)
    val hitAgg = placed.join(del, Seq("docId"), "left_semi")
      .groupBy(col("batch_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pendingPrev: Seq[(Long, String, Long)] =
      graft.sources.ArtifactCommit.readFootprint(fs, pending)
        .map { case Array(b, lang, k) => (b.toLong, lang, k.toLong) }
    val touched = (hitAgg.map(t => (t._1, t._2, t._3)) ++ pendingPrev)
      .distinct.sortBy(identity)
    if (touched.isEmpty) {
      // nothing hit and no pending footprint: any stale ids sidecar is
      // a completed run's leftover — clear it
      graft.sources.ArtifactCommit.clearIdsWal(fs, pendingIds)
      return ForgetExportStats(0L, 0L, 0L, 0L)
    }
    // intent record BEFORE any mutation (WAL): a crash after the data
    // rewrite but before the manifest recompute must leave enough to
    // finish the job on retry even if the retry's deletion list no
    // longer hits the already-scrubbed rows. Ids first (union-safe in
    // any crash prefix), then the footprint.
    graft.sources.ArtifactCommit.writeIdsWal(del, pendingIds)
    graft.sources.ArtifactCommit.writeFootprint(fs, pending,
      touched.map { case (b, l, k) => Seq(b.toString, l, k.toString) })
    val touchedDf = touched.toSeq.toDF("batch_id", "lang", "bucket")
    // survivors of the touched partitions, checkpointed BEFORE the
    // write that replaces the very files they were read from
    val survivors = placed
      .join(touchedDf, Seq("batch_id", "lang", "bucket"), "left_semi")
      .join(del, Seq("docId"), "left_anti")
      .select(col("ord1"), col("ord2"), col("docId"), col("size"),
        col("seq"), col("batch_id"), col("lang"), col("bucket"))
      .transform(Cut(_))
    // hash-repartition on the partition key before the dynamic
    // overwrite (the appendBatch rule): without it every task opens a
    // writer per touched leaf dir — a corpus-tracking deletion list
    // touches thousands, and the write degrades to a small-file storm
    survivors.repartition(col("batch_id"), col("lang"), col("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "lang", "bucket").parquet(s"$dir/data")
    val surv = survivors.select(col("batch_id"), col("lang"), col("bucket"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val emptied = touched.filterNot(surv)
    emptied.foreach { case (b, l, k) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/data/batch_id=$b/lang=$l/bucket=$k"), true)
    }
    // manifests: recompute every touched batch from the rewritten data
    // in ONE read (checkpointed), then commit per batch (idempotent; a
    // batch the erasure emptied loses both subtrees outright)
    val touchedBatches = touched.map(_._1).distinct.sorted
    val manRows = readPlaced(spark, dir)
      .where(col("batch_id").isin(touchedBatches: _*))
      .groupBy(col("batch_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_pieces"),
        sum(col("size")).as("sum_tokens"),
        SeqPacker.pieceChecksum.as("checksum"))
      .transform(Cut(_))
    touchedBatches.foreach { b =>
      val dataB = new org.apache.hadoop.fs.Path(s"$dir/data/batch_id=$b")
      val manB = new org.apache.hadoop.fs.Path(s"$dir/manifest/batch_id=$b")
      val rows = manRows.where(col("batch_id") === b).drop("batch_id")
      if (rows.isEmpty) { fs.delete(dataB, true); fs.delete(manB, true) }
      else {
        fs.delete(manB, true)
        rows.coalesce(1).write.parquet(manB.toString)
      }
    }
    fs.delete(pending, false)
    graft.sources.ArtifactCommit.clearIdsWal(fs, pendingIds)
    ForgetExportStats(hitAgg.map(_._4).sum,
      (touched.length - emptied.length).toLong, emptied.length.toLong,
      touchedBatches.length.toLong)
  }

  /** Fold the per-batch subtrees into one `batch_id=-1` baseline — the
    * small-files/partition-listing debt every micro-batch sink accrues
    * (thousands of batches = thousands of directories and one-row
    * manifest files; the reference pays the same debt with nightly
    * `repartition` rewrites, and [[graft.operators.VectorIndex
    * .compactBatches]] is the codes-table analog). Placement rows, seq
    * indexes, folded manifest stats and the [[census]] (including `ok`)
    * are IDENTICAL before and after — the manifest was designed
    * mergeable (sum/sum/xor) exactly so a fold is a no-op to every
    * reader.
    *
    * Redelivery interaction (the reason for `keepLast`): appendBatch's
    * idempotence is per-BATCH — it rewrites its own `batch_id=N`
    * subtree. Folding N into the baseline forfeits that: a redelivered
    * batch N would land as new rows beside its folded copy. After a
    * crash, foreachBatch redelivers only the LAST uncommitted batch, so
    * `keepLast = true` (default) folds every batch EXCEPT the highest,
    * which keeps its own subtree and its redelivery contract; use
    * `keepLast = false` only on a SEALED export (stream stopped).
    *
    * Crash safety is the whole-tree write-then-rename (VectorIndex
    * pattern): the replacement data and manifest trees commit
    * completely in sibling dirs while the live export keeps serving,
    * then each swaps via two renames with the old tree deleted LAST. A
    * crash between the data swap and the manifest swap still serves a
    * CONSISTENT census — the census folds the manifest whatever its
    * batch structure, and both trees hold exactly the same rows — and
    * a rerun converges (the fold source is never mutated before its
    * replacement is complete; entry finishes an interrupted cutover
    * before the first read). Run between micro-batches (maintenance
    * window): an appendBatch concurrent with the swap could land in
    * the old tree. */
  def compact(spark: SparkSession, dir: String,
      keepLast: Boolean = true): Unit = {
    val placed = readPlaced(spark, dir)
    val manAll = spark.read.schema(manifestSchema)
      .parquet(s"$dir/manifest")
    val maxBatch = placed.agg(max(col("batch_id"))).head() match {
      case r if r.isNullAt(0) => return // empty export: nothing to fold
      case r => r.getLong(0)
    }
    val cut = if (keepLast) maxBatch else maxBatch + 1
    // checkpoint BEFORE any tree is swapped away (the lazy-read lesson)
    val newData = placed
      .withColumn("batch_id",
        when(col("batch_id") < cut, lit(-1L)).otherwise(col("batch_id")))
      .transform(Cut(_))
    val newMan = manAll
      .withColumn("batch_id",
        when(col("batch_id") < cut, lit(-1L)).otherwise(col("batch_id")))
      .groupBy(col("batch_id"), col("lang"), col("bucket"))
      .agg(sum(col("n_pieces")).as("n_pieces"),
        sum(col("sum_tokens")).as("sum_tokens"),
        bit_xor(col("checksum")).as("checksum"))
      .transform(Cut(_))
    graft.sources.ArtifactCommit.swap(spark, s"$dir/data") { tmp =>
      newData.repartition(col("lang"), col("bucket"))
        .write.partitionBy("batch_id", "lang", "bucket").parquet(tmp)
    }
    graft.sources.ArtifactCommit.swap(spark, s"$dir/manifest") { tmp =>
      newMan.coalesce(1).write.partitionBy("batch_id").parquet(tmp)
    }
  }
}
