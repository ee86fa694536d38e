package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import java.sql.Timestamp
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._

class StreamingOpsSpec extends SparkSpec {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // 2024-01-01T00:00:00Z, on an hour: the event-time watermark starts at
  // 0, so rows near the epoch would count as late
  private val base = 1704067200L
  private def at(h: Int, m: Int) = ts(base + h * 3600L + m * 60L)
  private val day = 24 * 3600 * 1000L

  /** processAllAvailable(), failing instead of hanging when the query
    * never goes idle. */
  private def drain(q: StreamingQuery): Unit =
    try Await.result(Future(q.processAllAvailable())(ExecutionContext.global), 60.seconds)
    catch {
      case _: TimeoutException =>
        q.stop()
        fail("processAllAvailable() did not return within 60 s: the query never went idle")
    }

  /** Runs the default `onlineStatus` (event-time eviction) over one
    * micro-batch per entry of `batches`, each drained before the next is
    * added. Returns the emitted changes, ordered by user then time, and
    * the query's progress reports. */
  private def runDefault(name: String, batches: Seq[PlayEvent]*)
      : (Seq[StatusChange], Seq[StreamingQueryProgress]) = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[PlayEvent]
    val q = StreamingOps.onlineStatus(in.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); drain(q) }
      val progress = q.recentProgress.toSeq
      val out = spark.table(name).as[StatusChange].collect().toSeq
        .sortBy(c => (c.userId, c.atMs))
      (out, progress)
    } finally q.stop()
  }

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
    // the watermark has passed the deadline set at the user's last event
    val st = new TestGroupState[UserOnlineStatus]
    st.update(UserOnlineStatus(7L, online = true, 3L, "svc", at(0, 10).getTime))
    st.setTimeoutTimestamp(at(0, 10).getTime, "24 hours")
    st.setWatermarkMs(at(25, 0).getTime)
    st.setTimedOut(true)
    val out = StreamingOps.updateUser(Some("24 hours"))(7L, Iterator.empty, st).toSeq
    assert(out.isEmpty && st.getOption.isEmpty)
    assert(st.timeoutTimestampMs.isEmpty, "a removed user keeps no timeout")
  }

  test("updateUser sets the timeout at the latest event + horizon, never below the watermark") {
    val horizon = Some("24 hours")
    // three events out of order: the deadline counts from the latest
    val st = new TestGroupState[UserOnlineStatus]
    st.setWatermarkMs(at(8, 0).getTime)
    StreamingOps.updateUser(horizon)(1L, Iterator(
      PlayEvent(1L, at(10, 30), "heartbeat", "a"),
      PlayEvent(1L, at(10, 50), "finish", "a"),
      PlayEvent(1L, at(10, 5), "start", "a")), st).toSeq
    assert(st.timeoutTimestampMs.contains(at(10, 50).getTime + day))
    assert(st.timeoutDurationMs.isEmpty, "eviction runs on event time only")

    // only unknown kinds: lastSeenMs stays 0, the deadline still follows
    // the events (from lastSeenMs it would fall below the watermark)
    val unknown = new TestGroupState[UserOnlineStatus]
    unknown.setWatermarkMs(at(30, 0).getTime)
    StreamingOps.updateUser(horizon)(2L, Iterator(
      PlayEvent(2L, at(31, 15), "pause", "a"),
      PlayEvent(2L, at(31, 20), "seek", "a")), unknown).toSeq
    assert(unknown.get.lastSeenMs == 0L)
    assert(unknown.timeoutTimestampMs.contains(at(31, 20).getTime + day))

    // an offline user's second finish leaves lastSeenMs an hour behind
    val finish = new TestGroupState[UserOnlineStatus]
    finish.update(UserOnlineStatus(3L, online = false, 4L, "a", at(5, 0).getTime))
    finish.setWatermarkMs(at(28, 0).getTime)
    val out = StreamingOps.updateUser(horizon)(3L, Iterator(
      PlayEvent(3L, at(30, 0), "finish", "a")), finish).toSeq
    assert(out.isEmpty && finish.get.lastSeenMs == at(5, 0).getTime)
    assert(finish.timeoutTimestampMs.contains(at(30, 0).getTime + day))

    // a late batch does not pull back the deadline of a user seen later
    val late = new TestGroupState[UserOnlineStatus]
    late.update(UserOnlineStatus(4L, online = true, 1L, "a", at(12, 0).getTime))
    late.setWatermarkMs(at(10, 0).getTime)
    StreamingOps.updateUser(horizon)(4L, Iterator(
      PlayEvent(4L, at(11, 10), "heartbeat", "a")), late).toSeq
    assert(late.timeoutTimestampMs.contains(at(12, 0).getTime + day))

    // the test double rejects what Spark's GroupStateImpl rejects
    intercept[IllegalArgumentException](unknown.setTimeoutTimestamp(0L, "24 hours"))
  }

  test("default onlineStatus goes idle: processAllAvailable() returns, one empty batch per event-time hour") {
    val (out, progress) = runDefault("online_idle",
      Seq(PlayEvent(1L, at(0, 10), "start", "a"), PlayEvent(2L, at(0, 11), "heartbeat", "?")),
      Seq(PlayEvent(1L, at(0, 40), "finish", "a")),
      Seq(PlayEvent(1L, at(0, 50), "start", "b")),
      Seq(PlayEvent(1L, at(1, 5), "finish", "b")))
    assert(out.map(c => (c.userId, c.online, c.playCount)) == Seq(
      (1L, true, 1L), (1L, false, 1L), (1L, true, 2L), (1L, false, 2L),
      (2L, true, 0L)))
    // four data batches; the watermark moved after the first (from 0)
    // and after the fourth (a new hour): a batch on every trigger would
    // leave one empty batch after each data batch. Idle triggers report
    // progress too, but run no batch (no addBatch phase).
    val ran = progress.filter(_.durationMs.containsKey("addBatch"))
    val empty = ran.count(_.numInputRows == 0)
    assert(ran.size - empty == 4 && empty == 2,
      ran.map(p => s"batch ${p.batchId}: ${p.numInputRows} rows").mkString("; "))
  }

  test("default onlineStatus evicts a user idle past 24 h of event time, keeps one idle for less") {
    val (out, _) = runDefault("online_evict",
      Seq(PlayEvent(1L, at(0, 10), "start", "a"), PlayEvent(2L, at(0, 10), "start", "a")),
      // user 2 stays active; user 1 goes quiet
      Seq(PlayEvent(2L, at(20, 0), "heartbeat", "a")),
      // user 3 moves the watermark to hour 25, past user 1's deadline
      // (00:10 + 24 h) but not past user 2's (20:00 + 24 h)
      Seq(PlayEvent(3L, at(27, 30), "heartbeat", "c")),
      Seq(PlayEvent(1L, at(28, 0), "start", "b"), PlayEvent(2L, at(28, 0), "start", "b")))
    assert(out.map(c => (c.userId, c.online, c.playCount, c.service)) == Seq(
      (1L, true, 1L, "a"), (1L, true, 1L, "b"),
      (2L, true, 1L, "a"), (2L, true, 2L, "b"),
      (3L, true, 0L, "0")))
  }

  test("default onlineStatus applies an event 59 minutes late across an hour, drops one past the tolerance") {
    val (out, _) = runDefault("online_late",
      Seq(PlayEvent(1L, at(10, 30), "start", "a")),
      Seq(PlayEvent(2L, at(11, 1), "start", "a")),
      // watermark: hour 11 - 2 h = hour 9. User 3's start (hour 10) is
      // 59 minutes behind the latest event and is applied; user 4's
      // (hour 8, 2 h 2 min behind) falls at or below the watermark
      Seq(PlayEvent(3L, at(10, 2), "start", "a"), PlayEvent(4L, at(8, 59), "start", "a")))
    assert(out.map(c => (c.userId, c.atMs)) == Seq(
      (1L, at(10, 30).getTime), (2L, at(11, 1).getTime), (3L, at(10, 2).getTime)))
  }

  test("default onlineStatus survives an evicted user's lone second finish") {
    // user 1 goes offline at 00:20 and is evicted once user 2 moves the
    // watermark to hour 28; its next event, a finish, changes nothing
    // and leaves lastSeenMs at 0, far below the watermark
    val (out, _) = runDefault("online_finish",
      Seq(PlayEvent(1L, at(0, 10), "start", "a"), PlayEvent(1L, at(0, 20), "finish", "a")),
      Seq(PlayEvent(2L, at(30, 0), "start", "b")),
      Seq(PlayEvent(1L, at(30, 5), "finish", "a")),
      Seq(PlayEvent(1L, at(30, 10), "start", "c")))
    assert(out.map(c => (c.userId, c.online, c.playCount)) == Seq(
      (1L, true, 1L), (1L, false, 1L), (1L, true, 1L), (2L, true, 1L)))
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

/** Minimal in-memory GroupState for unit-testing transition functions.
  * Records the last timeout set and, like Spark's `GroupStateImpl`,
  * rejects a timeout timestamp below the current watermark. */
class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
  private var value: Option[S] = None
  private var timedOut = false
  private var watermarkMs = 0L
  var timeoutTimestampMs: Option[Long] = None
  var timeoutDurationMs: Option[Long] = None
  def setTimedOut(v: Boolean): Unit = timedOut = v
  def setWatermarkMs(ms: Long): Unit = watermarkMs = ms
  private def durationMs(d: String): Long = {
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    IntervalUtils.getDuration(
      IntervalUtils.stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(d)),
      java.util.concurrent.TimeUnit.MILLISECONDS)
  }
  override def exists: Boolean = value.isDefined
  override def get: S = value.get
  override def getOption: Option[S] = value
  override def update(newValue: S): Unit = value = Some(newValue)
  override def remove(): Unit = {
    value = None; timeoutTimestampMs = None; timeoutDurationMs = None
  }
  override def hasTimedOut: Boolean = timedOut
  override def setTimeoutDuration(durationMs: Long): Unit =
    timeoutDurationMs = Some(durationMs)
  override def setTimeoutDuration(duration: String): Unit =
    timeoutDurationMs = Some(durationMs(duration))
  override def setTimeoutTimestamp(timestampMs: Long): Unit = {
    if (timestampMs < watermarkMs)
      throw new IllegalArgumentException(
        s"Timeout timestamp ($timestampMs) cannot be earlier than the current watermark ($watermarkMs)")
    timeoutTimestampMs = Some(timestampMs)
  }
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit =
    setTimeoutTimestamp(timestampMs + durationMs(additionalDuration))
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit =
    setTimeoutTimestamp(timestamp.getTime)
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit =
    setTimeoutTimestamp(timestamp.getTime, additionalDuration)
  override def getCurrentWatermarkMs(): Long = watermarkMs
  override def getCurrentProcessingTimeMs(): Long = 0L
}
