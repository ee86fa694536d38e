package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ArtifactCommit

/** Streaming embedding-centroid monitor — the [[graft.operators
  * .SketchRollup]] pre-aggregation architecture applied to embedding
  * MOMENTS instead of distinct-counts: each micro-batch reduces to
  * per-(label, dim) integer component sums (q181's exact ×2²⁰
  * quantization — integer sums merge associatively with NO
  * approximation, unlike the HLL case), the sums union-upsert into a
  * persisted moment table, and the running per-label centroid — and its
  * cosine drift against a frozen training-time reference — is served
  * from the O(labels·dim) table without ever rescanning raw history.
  *
  * At 100 TB of embedding history the moment table is a few KB per
  * label; ingest cost per trigger is one narrow posexplode + partial
  * agg over the batch only. Drift ≪ 1 on a label tells the serving
  * stack its training-time centroid (IVF cell, classifier prototype,
  * SemDeDup cell) has gone stale BEFORE recall degrades.
  */
object StreamingCentroidMonitor {

  /** Per-(label, dim) exact integer moments of one batch:
    * (label, i, sv, n). */
  def momentTable(batch: DataFrame, labelCol: String,
      vecCol: String): DataFrame =
    batch
      .where(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol).cast("array<float>")))
      .toDF("label", "i", "v")
      .groupBy(col("label"), col("i"))
      .agg(sum(round(col("v").cast("double") * 1048576).cast("long")).as("sv"),
        count(lit(1)).as("n"))

  /** Merge two moment tables — plain integer addition per (label, i):
    * exact, associative, commutative (the property that makes the
    * persisted table equal a from-scratch recompute under ANY batch
    * arrival order or retry pattern). */
  def merge(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.unionByName(prev)
      .groupBy(col("label"), col("i"))
      .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))

  /** foreachBatch sink: reduce the batch to its per-(label, i) moments
    * and land them in the batch's OWN `batch_id=` partition via dynamic
    * partition overwrite — the [[StreamingDedup]]/[[graft.operators
    * .VectorIndex]] idempotence contract. foreachBatch is
    * at-least-once: a retried batch recomputes the same deterministic
    * moments and overwrites only its own partition, so nothing
    * double-adds; no pre-existing file is deleted before the new data
    * lands, so a mid-write crash loses only the partition being
    * retried. Serving reads sum across partitions ([[centroids]]) —
    * same O(labels·dim) rows, since per-batch partials stay tiny.
    * Wire as `embStream.writeStream.foreachBatch(sink(path, labelCol,
    * vecCol))`. */
  def sink(storePath: String, labelCol: String,
      vecCol: String): (DataFrame, Long) => Unit = (batch, batchId) => {
    // a batch landing in a torn store would recreate the live path and
    // strand the complete compacted table beside it
    ArtifactCommit.recoverSwapAt(batch.sparkSession, storePath)
    momentTable(batch, labelCol, vecCol)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(storePath)
    ()
  }

  /** Compact per-batch moment partitions into a single `batch_id=-1`
    * baseline partition (then drop the compacted batch partitions) if
    * trigger count ever makes the partition listing itself a cost —
    * the merge is the same associative integer sum that serving does. */
  def compact(spark: SparkSession, storePath: String): Unit = {
    ArtifactCommit.recoverSwapAt(spark, storePath)
    val all = spark.read.parquet(storePath)
      .groupBy(col("label"), col("i"))
      .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
    // the folded table commits completely beside the live store and
    // swaps in with the old store deleted LAST (round-7 ADVICE) — a
    // crash at any step leaves a complete, servable table
    ArtifactCommit.swap(spark, storePath) { tmp =>
      all.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    }
  }

  /** Running centroids served from the moment table: (label, n_vecs,
    * centroid array<double>) — the grouped integer sum over per-batch
    * partitions, O(labels·dim·batches) rows read, raw history never
    * touched. */
  def centroids(spark: SparkSession, storePath: String): DataFrame = {
    ArtifactCommit.recoverSwapAt(spark, storePath)
    spark.read.parquet(storePath)
      .groupBy(col("label"), col("i"))
      .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      .select(col("label"), col("i"),
        (col("sv").cast("double") / (col("n") * 1048576.0)).as("c"), col("n"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("i"), col("c"))))
        .getField("c").as("centroid"),
        max(col("n")).as("n_vecs"))
  }

  /** Cosine drift of the served centroids against a frozen reference
    * frame (label, centroid): (label, n_vecs, drift_cos). 1.0 = no
    * drift. */
  def drift(current: DataFrame, reference: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2norm}
    graft.expressions.GraftFunctions.ensureRegistered(current.sparkSession)
    val ref = reference.select(col("label"), col("centroid").as("__ref"))
    current.join(broadcast(ref), Seq("label"))
      .select(col("label"), col("n_vecs"),
        round(dot(col("centroid"), col("__ref")) /
          (l2norm(col("centroid")) * l2norm(col("__ref"))), 6)
          .as("drift_cos"))
  }
}
