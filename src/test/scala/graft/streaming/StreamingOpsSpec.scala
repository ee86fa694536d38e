package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class StreamingOpsSpec extends SparkSpec {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("onlineStatus state machine across micro-batches") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PlayEvent]
    val q = StreamingOps.onlineStatus(in.toDS(), idleTimeout = None)
      .writeStream.format("memory").queryName("online_t")
      .outputMode("append").start()

    // batch 1: user 1 starts, user 2 heartbeats without a start (revive)
    in.addData(
      PlayEvent(1L, ts(0), "start", "svc-a"),
      PlayEvent(2L, ts(1), "heartbeat", "?"))
    q.processAllAvailable()
    // batch 2: user 1 finishes; user 1 starts again (playCount → 2)
    in.addData(
      PlayEvent(1L, ts(60), "finish", "svc-a"),
      PlayEvent(1L, ts(120), "start", "svc-b"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("online_t").as[StatusChange].collect()
      .sortBy(c => (c.userId, c.atMs))
    assert(out.map(c => (c.userId, c.online, c.playCount)).toSeq == Seq(
      (1L, true, 1L), (1L, false, 1L), (1L, true, 2L),
      (2L, true, 0L)))
  }

  test("state machine unit: heartbeat keeps session, finish closes it") {
    // direct call — no stream needed for transition logic
    val changes = StreamingOps.updateUser(None)(5L,
      Iterator(
        PlayEvent(5L, ts(0), "start", "a"),
        PlayEvent(5L, ts(30), "heartbeat", "a"),
        PlayEvent(5L, ts(60), "finish", "a"),
        PlayEvent(5L, ts(90), "finish", "a")), // double finish: no-op
      new TestGroupState[UserOnlineStatus]).toSeq
    assert(changes.map(c => (c.online, c.playCount)) ==
      Seq((true, 1L), (false, 1L)))
  }

  test("nodeTimeCounts windows a stream with watermark") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long, Double)]
    val df = in.toDF().toDF("ts", "event_type", "user_id", "value")
    val q = StreamingOps.nodeTimeCounts(df, "2 minutes", "5 minutes")
      .writeStream.format("memory").queryName("nodes_t")
      .outputMode("append").start()
    in.addData(
      (ts(0), "play", 1L, 1.0), (ts(30), "play", 2L, 2.0),
      (ts(130), "play", 1L, 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close all windows
    in.addData((ts(10000), "play", 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("nodes_t")
      .selectExpr("cast(node_time as long)", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(rows.take(2) == Seq((0L, 2L, 3.0), (120L, 1L, 3.0)))
  }

  test("sessionWindows groups beats by inactivity gap") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = StreamingOps.sessionWindows(df, gap = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    // user 1: beats 0,30 (one session), 300 (second session)
    in.addData((ts(0), 1L), (ts(30), 1L), (ts(300), 1L))
    q.processAllAvailable()
    in.addData((ts(10000), 2L)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_t")
      .selectExpr("user_id", "n_beats").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(rows.contains((1L, 2L)) && rows.contains((1L, 1L)))
  }

  test("audienceMetrics computes share within each node_time window") {
    import spark.implicits._
    val counts = Seq(
      (ts(0), "a", 10L, 300L), (ts(0), "b", 5L, 100L),
      (ts(120), "a", 2L, 50L))
      .toDF("node_time", "event_type", "online_users", "play_time_sec")
    val out = StreamingOps.audienceMetrics(counts, rangeSec = 120, registered = 1000)
      .select($"node_time", $"event_type", $"share", $"rating", $"arrival")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    // share is per node_time: 300/400 and 100/400 in window 0; 50/50 = 1.0 in window 120
    assert(out("a") == 0.75 || out("a") == 1.0) // two 'a' rows; check via full set below
    val full = StreamingOps.audienceMetrics(counts, 120, 1000)
      .selectExpr("cast(node_time as long)", "event_type", "share")
      .as[(Long, String, Double)].collect().toSet
    assert(full == Set((0L, "a", 0.75), (0L, "b", 0.25), (120L, "a", 1.0)))
  }

  test("state machine evicts on timeout") {
    val st = new TestGroupState[UserOnlineStatus]
    st.update(UserOnlineStatus(7L, online = true, 3L, "svc", 0L))
    st.setTimedOut(true)
    val out = StreamingOps.updateUser(Some("2 hours"))(7L, Iterator.empty, st).toSeq
    assert(out.isEmpty && st.getOption.isEmpty)
  }

  test("intervalJoin correlates two streams within the horizon") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val errors = MemoryStream[(Long, Timestamp)]
    val q = StreamingOps.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      errors.toDF().toDF("user_id", "ts"),
      "user_id", horizon = "1 minute", watermark = "1 minute")
      .selectExpr("l.user_id AS uid", "cast(l.ts as long) AS ct", "cast(r.ts as long) AS et")
      .writeStream.format("memory").queryName("ij_t")
      .outputMode("append").start()
    // base away from the epoch: an event at the initial watermark (1970)
    // would be discarded as late before it ever reaches the join state
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    // user 1: error 30s after click (joins); user 2: error 120s after (no)
    clicks.addData((1L, ts(base)), (2L, ts(base)))
    errors.addData((1L, ts(base + 30)), (2L, ts(base + 120)))
    q.processAllAvailable()
    clicks.addData((9L, ts(base + 10000)))  // advance both watermarks
    errors.addData((9L, ts(base + 10000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ij_t").as[(Long, Long, Long)].collect().toSet
    assert(rows.contains((1L, base, base + 30L)))
    assert(!rows.exists(_._1 == 2L))
  }

  test("mergeWithPrevious accumulates counters and resets on day change") {
    import spark.implicits._
    val prev = Seq(("p1", 10L), ("p2", 5L)).toDF("pid", "play_count")
    val cur = Seq(("p1", 3L), ("p3", 7L)).toDF("pid", "play_count")
    val merged = StreamingOps.mergeWithPrevious(
      cur, prev, Seq("pid"), Seq("play_count"), sameDay = true)
      .as[(String, Long)].collect().toMap
    assert(merged == Map("p1" -> 13L, "p2" -> 5L, "p3" -> 7L))
    val reset = StreamingOps.mergeWithPrevious(
      cur, prev, Seq("pid"), Seq("play_count"), sameDay = false)
      .as[(String, Long)].collect().toMap
    assert(reset == Map("p1" -> 3L, "p3" -> 7L))
  }

  test("node-time counters flow into a keyed upsert store (R6 + K2 end to end)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_r6k2").toString + "/store"
    val store = new graft.sources.ParquetUpsertStore(dir, Seq("node_time", "event_type"))
    val in = MemoryStream[(Timestamp, String, Long, Double)]
    val counts = StreamingOps.nodeTimeCounts(
      in.toDF().toDF("ts", "event_type", "user_id", "value"), "2 minutes", "1 minute")
    val q = counts.writeStream
      .foreachBatch(store.asBatchSink)
      .outputMode("append")
      .start()
    in.addData((ts(base), "play", 1L, 1.0), (ts(base + 30), "play", 2L, 2.0))
    q.processAllAvailable()
    in.addData((ts(base + 10000), "play", 9L, 0.0)) // close windows
    q.processAllAvailable()
    q.stop()
    val out = store.read(spark)
      .selectExpr("event_type", "n_events", "sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out.contains(("play", 2L, 3.0)))
  }

  test("dedupWithinWatermark drops duplicate keys inside horizon") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "event_id", "payload")
    val q = StreamingOps.dedupWithinWatermark(df, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    in.addData((ts(0), 1L, "a"), (ts(1), 1L, "dup"), (ts(2), 2L, "b"))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_t").count() == 2)
  }

  test("stateful ops run on the RocksDB state store (the 100 TB state backend)") {
    // HDFS-backed state lives on the executor heap; RocksDB spills keyed
    // state to local disk, which is what makes billion-key streaming
    // dedup/session state viable. Same query, swapped provider.
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val conf = spark.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = conf.getOption(key)
    try {
      conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val in = MemoryStream[(Timestamp, Long, String)]
      val df = in.toDF().toDF("ts", "event_id", "payload")
      val q = StreamingOps.dedupWithinWatermark(df, Seq("event_id"), "10 minutes")
        .writeStream.format("memory").queryName("dedup_rocks_t")
        .outputMode("append").start()
      in.addData((ts(0), 10L, "a"), (ts(1), 10L, "dup"), (ts(2), 11L, "b"))
      q.processAllAvailable()
      in.addData((ts(3), 11L, "dup2"), (ts(4), 12L, "c"))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("dedup_rocks_t").count() == 3)
    } finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }
}

/** Minimal in-memory GroupState for unit-testing transition functions. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  private var value: Option[S] = None
  private var removed = false
  private var timedOut = false
  def setTimedOut(v: Boolean): Unit = timedOut = v
  override def exists: Boolean = value.isDefined
  override def get: S = value.get
  override def getOption: Option[S] = value
  override def update(newValue: S): Unit = { value = Some(newValue); removed = false }
  override def remove(): Unit = { value = None; removed = true }
  override def hasTimedOut: Boolean = timedOut
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
