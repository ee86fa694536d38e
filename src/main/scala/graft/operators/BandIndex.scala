package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ArtifactCommit
import graft.core.Cut

/** Persisted MinHash-LSH BAND INDEX — the dedup family's artifact tier
  * (round 10; the [[VectorIndex]]/[[SuffixIndex]] lifecycle applied to
  * THE production dedup structure): daily ingest classifies each new
  * document against the corpus as exact_dup / near_dup / new (the q106
  * semantics, reference scope: the nightly dedup-before-insert the
  * reference's report jobs imply), and at 100 TB the corpus side must
  * be a PERSISTED index, not a rescan — rebuild-per-batch costs
  * O(corpus) where append+classify costs O(batch).
  *
  * Layout under `dir`:
  *  - `bands/batch_id=N/band_idx=J/…` — one row per (doc_id,
  *    band_hash): the [[NearDup.lshBands]] emission. batch_id −1 is
  *    the build; appends land in their own batch partitions
  *    (delete-then-write — an at-least-once retry rewrites itself, the
  *    [[VectorIndex.appendTo]] idiom). band_idx partitioning keeps a
  *    per-band probe scan-pruned.
  *  - `fp/batch_id=N/…` — one row per (doc_id, fp): the exact
  *    fingerprint table (md5 of trimmed text — the q46/q106
  *    convention).
  *  - `meta/` — format, the LSH parameters (k, nh, b, r — classify
  *    MUST shingle with the index's own parameters, so they live with
  *    the data), corpus fingerprint, doc count.
  *
  * Freshness ([[ensure]]): the [[ArtifactCommit.corpusFingerprint]]
  * gate — serve on exact match of format+params+fingerprint+count with
  * no pending erasure WAL, else rebuild (a driver-regenerated corpus
  * self-invalidates).
  *
  * Erasure ([[forget]]): remove every band row and fingerprint row of
  * the listed docs by rewriting only the touched (batch_id, band_idx)
  * / (batch_id) partitions — after it, a future twin of an erased doc
  * classifies as NEW (the index no longer witnesses the erased
  * content, the GDPR requirement). Crash safety is the shared
  * [[ArtifactCommit]] WAL discipline (footprint + deletion-ids
  * sidecars; any retry converges).
  *
  * 100 TB shape: the index is O(docs·b) short rows; classify is one
  * narrow batch shingle pass + two semi-joins against distinct-keyed
  * index projections (AQE broadcasts small batches — no forced hint,
  * the index side tracks the corpus); append is O(batch); forget is
  * O(touched partitions).
  */
object BandIndex {

  val FORMAT = 1L

  final case class Meta(format: Long, k: Int, nh: Int, b: Int, r: Int,
    fingerprint: Long, nDocs: Long)

  final case class ForgetStats(nDocsForgotten: Long, nPartsRewritten: Long,
    nPartsDeleted: Long)

  /** Read-side schemas (explicit — empty index reads back). */
  val bandSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_hash", StringType),
    StructField("batch_id", LongType), StructField("band_idx", IntegerType)))

  val fpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("fp", StringType),
    StructField("batch_id", LongType)))

  private def bandsOf(docs: DataFrame, idCol: String, textCol: String,
      m: Meta): DataFrame =
    NearDup.lshBands(docs, idCol, textCol, m.k, m.nh, m.b, m.r)
      .select(col(idCol).cast("long").as("doc_id"),
        col("band_idx").cast("int").as("band_idx"), col("band_hash"))

  private def fpsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))

  /** Build + persist the index over `docs` (batch_id −1), atomic via
    * [[ArtifactCommit.swap]]. */
  def save(docs: DataFrame, idCol: String, textCol: String, dir: String,
      k: Int, nh: Int, b: Int, r: Int, fingerprint: Long,
      nDocs: Long): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val meta = Meta(FORMAT, k, nh, b, r, fingerprint, nDocs)
    ArtifactCommit.swap(spark, dir) { tmp =>
      // hash-repartition on the partition keys before the partitioned
      // writes (the per-directory commit-cost rule)
      bandsOf(docs, idCol, textCol, meta)
        .withColumn("batch_id", lit(-1L))
        .repartition(col("band_idx"))
        .write.partitionBy("batch_id", "band_idx")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "bands").toString)
      // the fp table tracks the CORPUS — never coalesce(1) it (one task
      // would both md5 and serialize O(corpus) rows); batch_id
      // partitioning already bounds leaf dirs, so a modest hash
      // repartition keeps the write parallel with few files
      fpsOf(docs, idCol, textCol)
        .withColumn("batch_id", lit(-1L))
        .repartition(8, col("fp"))
        .write.partitionBy("batch_id")
        .parquet(new org.apache.hadoop.fs.Path(tmp, "fp").toString)
      Seq((FORMAT, k, nh, b, r, fingerprint, nDocs))
        .toDF("format", "k", "nh", "b", "r", "fingerprint", "n_docs")
        .coalesce(1).write
        .parquet(new org.apache.hadoop.fs.Path(tmp, "meta").toString)
    }
  }

  /** The saved meta row, if a complete index exists at `dir` (an
    * interrupted [[save]] swap is finished first). */
  def readMeta(spark: SparkSession, dir: String): Option[Meta] = {
    val fs = ArtifactCommit.fsOf(spark, dir)
    ArtifactCommit.recoverSwapAt(spark, dir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta"))) None
    else spark.read.parquet(s"$dir/meta").collect().headOption
      .map(r => Meta(r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6)))
  }

  def readBands(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(bandSchema).parquet(s"$dir/bands")
      .select(col("doc_id"), col("band_idx"), col("band_hash"),
        col("batch_id"))

  def readFps(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(fpSchema).parquet(s"$dir/fp")
      .select(col("doc_id"), col("fp"), col("batch_id"))

  /** Serve an index for this corpus slice, building only on mismatch
    * (format, LSH params, fingerprint, count; a pending erasure WAL
    * blocks cache-hits). Returns `dir`. */
  def ensure(dir: String, docs: DataFrame, idCol: String, textCol: String,
      k: Int, nh: Int, b: Int, r: Int): String = {
    val spark = docs.sparkSession
    // check-then-build serialized per dir (VERDICT r11 #7): concurrent
    // ensures were previously held apart by scheduling luck only
    ArtifactCommit.withDirLock(dir) {
    val (fp, nDocs) = ArtifactCommit.corpusFingerprint(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    val fresh = !ArtifactCommit.erasurePending(spark, dir) &&
      readMeta(spark, dir).exists(m =>
        m.format == FORMAT && m.k == k && m.nh == nh && m.b == b &&
          m.r == r && m.fingerprint == fp && m.nDocs == nDocs)
    if (!fresh)
      // carry a crashed forget's commitment across the rebuild via the
      // out-of-tree sidecar (the SuffixIndex.ensure discipline; r10
      // ADVICE — an in-JVM-only capture loses the ids if a crash lands
      // between the swap and the re-applied forget's own WAL)
      ArtifactCommit.rebuildWithPending(spark, dir, "doc_id") {
        save(docs, idCol, textCol, dir, k, nh, b, r, fp, nDocs)
      } (ids => forget(spark, dir, ids, "doc_id"))
    }
    dir
  }

  /** Classify a batch against the persisted index: per batch doc,
    * `verdict` ∈ exact_dup (fingerprint already indexed) / near_dup
    * (shares a band bucket) / new — the q106 semantics with the corpus
    * side read from disk. Both checks are semi-joins against DISTINCT
    * index projections; the batch's shingling uses the INDEX's stored
    * LSH parameters. */
  def classify(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val m = readMeta(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no band index at $dir"))
    val exactIds = fpsOf(batch, idCol, textCol)
      .join(readFps(spark, dir).select(col("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col("doc_id"))
    val nearIds = bandsOf(batch, idCol, textCol, m)
      .join(readBands(spark, dir)
          .select(col("band_idx"), col("band_hash")).distinct(),
        Seq("band_idx", "band_hash"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(exactIds.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact_dup")
          .when(col("is_near") === 1, "near_dup")
          .otherwise("new").as("verdict"))
  }

  /** Ingest a batch into its OWN batch_id partitions (delete-then-write
    * — redelivery-idempotent; meta counts are NOT updated: the
    * fingerprint describes the BUILD slice, and appends deliberately
    * leave it — [[ensure]] against the grown corpus rebuilds, while a
    * pure serving pipeline keeps appending). */
  def appendBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, batchId: Long): Unit = {
    require(batchId >= 0L, s"batchId must be >= 0 (got $batchId; -1 is the build)")
    val m = readMeta(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no band index at $dir"))
    val fs = ArtifactCommit.fsOf(spark, dir)
    val bandsP = new org.apache.hadoop.fs.Path(s"$dir/bands/batch_id=$batchId")
    val fpP = new org.apache.hadoop.fs.Path(s"$dir/fp/batch_id=$batchId")
    // checkpoint BEFORE deleting: a redelivered frame may derive from
    // the very subtree the deletes drop (the StreamingExport rule)
    val bb = Cut(bandsOf(batch, idCol, textCol, m))
    val ff = Cut(fpsOf(batch, idCol, textCol))
    fs.delete(bandsP, true); fs.delete(fpP, true)
    bb.repartition(col("band_idx"))
      .write.partitionBy("band_idx").parquet(bandsP.toString)
    ff.coalesce(1).write.parquet(fpP.toString)
  }

  /** foreachBatch sink: streaming ingest into the index. */
  def ingestSink(dir: String, idCol: String,
      textCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      appendBatch(batch.sparkSession, dir, batch, idCol, textCol, batchId)

  /** Right-to-be-forgotten DELETE: every band row and fingerprint row
    * of the listed docs, rewriting only touched partitions (shared WAL
    * discipline — footprint + ids sidecars; disjoint retries
    * converge). After it the erased content is unwitnessed: a
    * resubmitted twin classifies `new`. */
  def forget(spark: SparkSession, dir: String, delIds: DataFrame,
      delCol: String): ForgetStats = {
    import spark.implicits._
    val fs = ArtifactCommit.fsOf(spark, dir)
    ArtifactCommit.recoverSwapAt(spark, dir)
    val pending = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")
    val pendingIds = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ids")
    val delNew = delIds.select(col(delCol).cast("long").as("doc_id"))
      .where(col("doc_id").isNotNull).distinct()
    val del = ArtifactCommit.readIdsWal(spark, pendingIds, "doc_id")
      .map(delNew.unionByName(_).distinct()).getOrElse(delNew)
      .transform(Cut(_))
    val bands = spark.read.schema(bandSchema).parquet(s"$dir/bands")
    val fps = spark.read.schema(fpSchema).parquet(s"$dir/fp")
    val hitB = bands.join(del, Seq("doc_id"), "left_semi")
      .groupBy($"batch_id", $"band_idx")
      .agg(countDistinct($"doc_id").as("nd")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val hitF = fps.join(del, Seq("doc_id"), "left_semi")
      .select($"batch_id").distinct().as[Long].collect()
    val nDocsGone = fps.join(del, Seq("doc_id"), "left_semi")
      .select($"doc_id").distinct().count()
    // tolerant parse: the footprint is a single non-atomic text create,
    // so its FINAL line can be torn — a dropped row is convergent (the
    // ids sidecar plus the recomputed hit set re-derive it), whereas a
    // MatchError here would leave every retry permanently stuck
    val pendingPrev = ArtifactCommit.readFootprint(fs, pending).flatMap {
      case Array("b", bid, bi) =>
        bid.toLongOption.zip(bi.toIntOption).map(t => Left(t))
      case Array("f", bid) => bid.toLongOption.map(Right(_))
      case _ => None
    }
    val touchedB = (hitB ++ pendingPrev.collect { case Left(t) => t })
      .distinct.sorted
    val touchedF = (hitF ++ pendingPrev.collect { case Right(t) => t })
      .distinct.sorted
    if (touchedB.isEmpty && touchedF.isEmpty) {
      ArtifactCommit.clearIdsWal(fs, pendingIds)
      return ForgetStats(0L, 0L, 0L)
    }
    ArtifactCommit.writeIdsWal(del, pendingIds)
    ArtifactCommit.writeFootprint(fs, pending,
      touchedB.map { case (bid, bi) => Seq("b", bid.toString, bi.toString) } ++
        touchedF.map(bid => Seq("f", bid.toString)))
    var rewritten = 0L; var deleted = 0L
    // bands: dynamic overwrite of touched (batch_id, band_idx)
    locally {
      val tdf = touchedB.toSeq.toDF("batch_id", "band_idx")
      val surv = bands.join(tdf, Seq("batch_id", "band_idx"), "left_semi")
        .join(del, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"band_hash", $"batch_id", $"band_idx")
        .transform(Cut(_))
      surv.repartition($"batch_id", $"band_idx")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "band_idx").parquet(s"$dir/bands")
      val alive = surv.select($"batch_id", $"band_idx").distinct()
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      touchedB.filterNot(alive).foreach { case (bid, bi) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$dir/bands/batch_id=$bid/band_idx=$bi"), true)
        deleted += 1
      }
      rewritten += touchedB.count(alive)
    }
    // fingerprints: dynamic overwrite of touched batch_id
    locally {
      val tdf = touchedF.toSeq.toDF("batch_id")
      val surv = fps.join(tdf, Seq("batch_id"), "left_semi")
        .join(del, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"fp", $"batch_id")
        .transform(Cut(_))
      surv.repartition($"batch_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/fp")
      val alive = surv.select($"batch_id").distinct()
        .as[Long].collect().toSet
      touchedF.filterNot(alive).foreach { bid =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$dir/fp/batch_id=$bid"), true)
        deleted += 1
      }
      rewritten += touchedF.count(alive)
    }
    fs.delete(pending, false)
    ArtifactCommit.clearIdsWal(fs, pendingIds)
    ForgetStats(nDocsGone, rewritten, deleted)
  }

  /** Streaming deletion-feed sink (the erasure queue fan-out — the
    * fourth store one GDPR queue can drain). */
  def forgetSink(dir: String, delCol: String): (DataFrame, Long) => Unit =
    (batch, _) => { forget(batch.sparkSession, dir, batch, delCol); () }
}
