package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The moment-table architecture's load-bearing claims: integer moments
  * merged across micro-batches equal a from-scratch computation over the
  * full history EXACTLY (no approximation — unlike the HLL sketch
  * table), and drift against the full-history reference is exactly 1.0
  * once all batches land. */
class StreamingCentroidMonitorSpec extends SparkSpec {

  test("streamed moment table equals the batch computation exactly; drift 1.0") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = Tables.embeddings(s, sfDir)
      .where($"label".isNotNull && $"embedding".isNotNull)
      .select($"vec_id", $"label".cast("long").as("label"), $"embedding")
      .as[(Long, Long, Array[Float])].collect().sortBy(_._1)
    // three uneven batches with shared labels across all of them
    val b0 = all.filter(_._1 % 5 == 0)
    val b1 = all.filter(r => r._1 % 5 == 1 || r._1 % 5 == 2)
    val b2 = all.filter(r => r._1 % 5 >= 3)
    assert(b0.nonEmpty && b1.nonEmpty && b2.nonEmpty)

    val store = java.nio.file.Files
      .createTempDirectory("graft_cmon").toString + "/moments.parquet"
    val in = MemoryStream[(Long, Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "label", "embedding")
      .writeStream
      .foreachBatch(StreamingCentroidMonitor.sink(store, "label", "embedding"))
      .outputMode("append").start()
    try {
      in.addData(b0.toIndexedSeq); q.processAllAvailable()
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    // exactness: served moments (summed across batch_id partitions)
    // == one-shot moments over the full history
    def servedMoments(): Set[(Long, Int, Long, Long)] =
      spark.read.parquet(store)
        .groupBy($"label", $"i")
        .agg(sum($"sv").as("sv"), sum($"n").as("n"))
        .as[(Long, Int, Long, Long)].collect().toSet
    val direct = StreamingCentroidMonitor
      .momentTable(Tables.embeddings(s, sfDir)
        .select($"label".cast("long").as("label"), $"embedding"),
        "label", "embedding")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(servedMoments() == direct,
      "per-batch integer moments must sum to the from-scratch computation")

    // retry-safety: re-running an already-landed batch (same batchId,
    // same data — the at-least-once foreachBatch case) overwrites its
    // own partition instead of double-adding
    StreamingCentroidMonitor.sink(store, "label", "embedding")(
      b1.toIndexedSeq.toDF("vec_id", "label", "embedding"), 1L)
    assert(servedMoments() == direct,
      "a retried batch must leave the served moments unchanged")

    // compaction preserves the moments exactly
    StreamingCentroidMonitor.compact(s, store)
    assert(servedMoments() == direct,
      "compaction must preserve the moment table exactly")

    // drift against the full-history reference is exactly 1.0 per label
    val cur = StreamingCentroidMonitor.centroids(s, store)
    val ref = cur.select($"label", $"centroid")
    val d = StreamingCentroidMonitor.drift(cur, ref)
      .select($"drift_cos").as[Double].collect()
    assert(d.nonEmpty && d.forall(_ == 1.0), s"drift: ${d.mkString(",")}")
  }

  test("compact: after a crash between the two renames, centroids and the " +
    "next compact serve the complete table") {
    val s = spark
    import s.implicits._
    import graft.CrashFs
    val store = CrashFs.dir(s, "cmon") + "/moments"
    val sink = StreamingCentroidMonitor.sink(store, "label", "vec")
    Seq((0L, 1L, Array(1f, 2f)), (1L, 1L, Array(3f, 4f)),
      (2L, 2L, Array(5f, 6f))).zipWithIndex.foreach { case (r, b) =>
      sink(Seq(r).toDF("vec_id", "label", "vec"), b.toLong)
    }
    def served() = StreamingCentroidMonitor.centroids(s, store)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val before = served()
    CrashFs.at(CrashFs.RenameTo, store) {
      StreamingCentroidMonitor.compact(s, store)
    }
    assert(served() == before, "centroids serve the complete table")
    CrashFs.at(CrashFs.RenameTo, store) {
      StreamingCentroidMonitor.compact(s, store)
    }
    StreamingCentroidMonitor.compact(s, store)
    assert(served() == before, "the next compact converges")
    assert(spark.read.parquet(store).select($"batch_id").distinct()
      .as[Long].collect().toSeq == Seq(-1L), "one folded partition")
  }
}
