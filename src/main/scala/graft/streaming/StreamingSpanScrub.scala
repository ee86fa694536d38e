package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Streaming span scrub — the ingestion-time form of q134
  * (`queries/DedupQueries`): each arriving document is rebuilt from
  * only the disjoint 16-token spans whose FIRST occurrence it is,
  * where "first" ranges over every previously indexed batch AND
  * earlier documents of the same batch. Repeated boilerplate
  * (headers, licenses, templated paragraphs) vanishes from a crawl
  * increment the moment it has been seen once, without ever
  * rescanning the corpus.
  *
  * Same retry contract as [[StreamingDedup]]: the span index carries
  * the writing `batch_id` as a partition column, membership reads
  * exclude the current id, and the write dynamically overwrites only
  * this batch's partition — an at-least-once foreachBatch retry can
  * neither self-match nor duplicate index rows.
  *
  * Scale notes: the index holds DISTINCT span hashes — O(unique
  * spans), the dedup state a 100 TB ingest actually has to carry.
  * Membership is one semi-join (anti-join here: keep the non-members)
  * on the span hash; the in-batch rule is a window over (span hash)
  * bounded by batch duplication, not corpus size.
  */
object StreamingSpanScrub {

  private def spansOf(batch: DataFrame, every: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .select($"doc_id", $"w",
        posexplode(sequence(lit(0), greatest(size($"w") - 1, lit(0)), lit(every))))
      .toDF("doc_id", "w", "i", "st")
      .select($"doc_id", $"st",
        array_join(slice($"w", $"st" + 1, lit(every)), " ").as("txt"))
      .withColumn("h", md5($"txt".cast("binary")))
  }

  /** Scrub one (batch) DataFrame of `(doc_id, text)` against the span
    * index at `indexDir`, append this batch's NEW span hashes under its
    * `batchId`, and return `(doc_id, n_spans, n_kept, clean_text)` —
    * eagerly materialized before the index write (the plan reads the
    * index lazily; writing first would drop every span as seen). */
  def scrubAndIndex(batch: DataFrame, indexDir: String, batchId: Long,
      every: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idxPath = new Path(s"$indexDir/spans")
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen: Option[DataFrame] =
      if (fs.exists(idxPath))
        Some(spark.read.parquet(idxPath.toString)
          .where($"batch_id" =!= batchId).select($"h"))
      else None

    val spans = spansOf(batch, every).persist()
    try {
      // corpus rule: drop any span already in the index (anti-join)
      val fresh = seen.map(idx => spans.join(idx.distinct(), Seq("h"), "left_anti"))
        .getOrElse(spans)
      // in-batch rule: among this batch's occurrences of a fresh span,
      // the minimum (doc_id, st) keeps it
      val keptSpans = fresh
        .withColumn("mn_doc", min($"doc_id").over(Window.partitionBy($"h")))
        .withColumn("mn_st", min(when($"doc_id" === $"mn_doc", $"st"))
          .over(Window.partitionBy($"h")))
        .filter($"doc_id" === $"mn_doc" && $"st" === $"mn_st")
        .select($"doc_id", $"st", $"txt", $"h")
      val out = spans.groupBy($"doc_id").agg(count(lit(1)).as("n_spans"))
        .join(keptSpans.groupBy($"doc_id").agg(
            count(lit(1)).as("n_kept"),
            array_join(sort_array(collect_list(struct($"st", $"txt")))
              .getField("txt"), " ").as("clean_text")),
          Seq("doc_id"), "left")
        .select($"doc_id", $"n_spans",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"clean_text", lit("")).as("clean_text"))
        .transform(Cut(_)) // eager: compute before the append below
      keptSpans.select($"h").distinct()
        .withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(idxPath.toString)
      out
    } finally spans.unpersist()
  }
}
