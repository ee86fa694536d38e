package graft.core

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The lineage-cut seam (Cut.scala): both entries return their input's
  * rows on either storage branch, the eager cut materialises before it
  * returns, off a local master the blocks are DISK_ONLY_2, and the cut's
  * job still names the line that called Cut. */
class CutSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def frame: DataFrame =
    spark.range(0, 500).select(col("id"), (col("id") * 3).as("v"))
      .where(col("id") % 7 =!= 3)

  /** Runs `body` in its own job group -> (its result, the call site of
    * each job it ran: the name Spark gives the job's result stage). */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"cutspec-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add((Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull,
          js.stageInfos.maxBy(_.stageId).name))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "CutSpec")
      val out = try body finally sc.clearJobGroup()
      // a later job's start is delivered after every earlier event
      sc.setJobGroup(s"$group-end", "CutSpec")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 30000
      while (!seen.asScala.exists(_._1 == s"$group-end") &&
          System.currentTimeMillis < deadline) Thread.sleep(20)
      (out, seen.asScala.collect { case (`group`, site) => site }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def cutLevel(df: DataFrame): StorageLevel =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(fail(s"no cut leaf in ${df.queryExecution.logical}"))
      .getStorageLevel

  private def lineage(rdd: RDD[_]): Seq[RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  test("both entries return their input's rows on either storage branch") {
    val want = rows(frame)
    assert(want.size == 429)
    assert(rows(Cut(frame)) == want)
    assert(rows(Cut.cut(frame, local = false)) == want)
    assert(rows(Cut.freshStats(frame)) == want)
    assert(rows(Cut.freshStatsCut(frame, local = false)) == want)
  }

  test("Cut materialises before returning: one job, and the cut outlives its files") {
    for (local <- Seq(true, false)) {
      val dir = Files.createTempDirectory("graft_cut").resolve("t").toString
      frame.write.parquet(dir)
      val read = spark.read.parquet(dir)
      val (cut, sites) = jobsOf(Cut.cut(read, local))
      assert(sites.size == 1, s"local=$local: $sites")
      FileUtils.deleteDirectory(new java.io.File(dir))
      assert(!new java.io.File(dir).exists())
      assert(rows(cut) == rows(frame), s"local=$local")
    }
  }

  test("storage follows the master: DISK_ONLY_2 off a local master") {
    assert(spark.sparkContext.isLocal)
    assert(cutLevel(Cut(frame)) != StorageLevel.DISK_ONLY_2)
    val remote = Cut.cut(frame, local = false)
    assert(cutLevel(remote) == StorageLevel.DISK_ONLY_2)
    assert(rows(remote) == rows(frame))
    // the lazy entry: the persisted RDD sits under the fresh leaf
    val fresh = Cut.freshStatsCut(frame, local = false)
    val leaf = fresh.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
    assert(lineage(leaf).exists(_.getStorageLevel == StorageLevel.DISK_ONLY_2))
    assert(rows(fresh) == rows(frame))
  }

  test("the cut job's call site names the calling line, not Cut.scala") {
    val ((_, line), sites) =
      jobsOf((Cut(frame), new Exception().getStackTrace.head.getLineNumber))
    assert(sites == Seq(s"localCheckpoint at CutSpec.scala:$line"))
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }
}
