package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators (SURVEY §2.10).
  *
  * The reference runs Kafka DStream jobs with externalized state —
  * Phoenix snapshot tables round-tripped every micro-batch
  * (`homed/realtime/UserStatusByRunLog.scala:182-299`) and a 2-minute
  * self-scheduled loop (`realtime/RealtimeCountProcesser.scala:32-56`).
  * Here the same semantics are managed state inside the engine:
  * `flatMapGroupsWithState` for the online-status machine, watermarked
  * window aggregates for the node-time counters, `session_window` for
  * heartbeat sessions, `dropDuplicatesWithinWatermark` for late dedup
  * (the reference has NO late-data handling — R9 — this is the designed
  * improvement).
  *
  * Every transform takes/returns Datasets, so the identical code runs on
  * `readStream` sources in production and on MemoryStream in tests.
  */

/** One play-stream event: kind ∈ start | heartbeat | finish
  * (the reference's logKey families, `UserStatusByRunLog.scala:153-158`). */
final case class PlayEvent(
    userId: Long,
    ts: java.sql.Timestamp,
    kind: String,
    service: String)

/** Managed per-user state (replaces the Phoenix
  * `t_runlog_user_status_realtime` snapshot row,
  * `UserStatusByRunLog.scala:90-99`). */
final case class UserOnlineStatus(
    userId: Long,
    online: Boolean,
    playCount: Long,
    lastService: String,
    lastSeenMs: Long)

/** Emitted on every state-changing transition. */
final case class StatusChange(
    userId: Long,
    online: Boolean,
    playCount: Long,
    service: String,
    atMs: Long)

object StreamingOps {

  /** Online-status state machine (R4): start → online + playCount++;
    * heartbeat → refresh (revives a missed start); finish → offline.
    * Transition rules mirror `UserStatusByRunLog.scala:224-291`; the
    * full-outer-join against the previous snapshot becomes GroupState.
    *
    * Eviction runs on event time. A user with no event for
    * `idleTimeout` of event time (default 24 hours, the reference's
    * realtime retention, `NodeTime.scala:27-35`) is dropped from the
    * state, so a later `start` counts from 1 again. The timeout fires
    * once the watermark passes the user's latest event + `idleTimeout`.
    *
    * The watermark is kept on the event's hour (`date_trunc("HOUR",
    * ts)`), not on `ts`. Spark plans an extra, data-less micro-batch only
    * when the eviction watermark advances: on `ts` that is after every
    * data batch, on the hour it is once per event-time hour. So the
    * query goes idle between triggers and `processAllAvailable()`
    * returns. The delay is 2 hours of that clock, because Spark drops
    * rows at or below the watermark: every event up to an hour late is
    * still applied, one up to two hours late may be, and any later one
    * is dropped (the reference keeps no late data at all, R9).
    *
    * `idleTimeout = None` evicts nothing and sets no watermark, so no
    * row counts as late (deterministic tests, epoch-0 timestamps). */
  def onlineStatus(events: Dataset[PlayEvent],
      idleTimeout: Option[String] = Some("24 hours"))(
      implicit s: SparkSession): Dataset[StatusChange] = {
    import s.implicits._
    val (input, timeout) = idleTimeout match {
      case Some(_) =>
        // the extra hour column stays in the plan under .as[PlayEvent]
        (events.withColumn("event_hour", date_trunc("HOUR", col("ts")))
          .withWatermark("event_hour", "2 hours").as[PlayEvent],
          GroupStateTimeout.EventTimeTimeout)
      case None => (events, GroupStateTimeout.NoTimeout)
    }
    input.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        updateUser(idleTimeout))
  }

  /** The transition function itself, apart from the GroupState plumbing
    * in [[updateUser]]. Events are applied in event-time order (the
    * reference pre-sorts with a window-max per batch,
    * `UserStatusByRunLog.scala:125-132`). */
  private[streaming] def applyEvents(uid: Long, start: UserOnlineStatus,
      events: Iterator[PlayEvent]): (UserOnlineStatus, Seq[StatusChange]) = {
    var st = start
    val out = scala.collection.mutable.ArrayBuffer.empty[StatusChange]
    events.toArray.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      e.kind match {
        case "start" =>
          st = st.copy(online = true, playCount = st.playCount + 1,
            lastService = e.service, lastSeenMs = t)
          out += StatusChange(uid, online = true, st.playCount, e.service, t)
        case "heartbeat" =>
          if (!st.online) {
            // heartbeat without a seen start revives the session
            // (reference carries service over from the snapshot)
            st = st.copy(online = true, lastSeenMs = t)
            out += StatusChange(uid, online = true, st.playCount, st.lastService, t)
          } else {
            st = st.copy(lastSeenMs = t)
          }
        case "finish" =>
          if (st.online) {
            st = st.copy(online = false, lastSeenMs = t)
            out += StatusChange(uid, online = false, st.playCount, st.lastService, t)
          }
        case _ => // unknown kinds ignored
      }
    }
    (st, out.toSeq)
  }

  private[streaming] def updateUser(idleTimeout: Option[String])(
      uid: Long,
      events: Iterator[PlayEvent],
      state: GroupState[UserOnlineStatus]): Iterator[StatusChange] = {
    if (state.hasTimedOut) {
      // user idle past the horizon: drop the state row entirely
      state.remove()
      return Iterator.empty
    }
    val batch = events.toArray
    val st0 = state.getOption.getOrElse(
      UserOnlineStatus(uid, online = false, 0L, "0", 0L))
    val (st, out) = applyEvents(uid, st0, batch.iterator)
    state.update(st)
    // Spark calls this only for groups with events, each above the
    // watermark, so the deadline cannot fall below it. It counts from
    // the latest event, not from lastSeenMs: unknown kinds and a second
    // finish leave lastSeenMs behind, possibly below the watermark. A
    // late batch must not pull back the deadline of a user seen later.
    idleTimeout.foreach { horizon =>
      val latest = batch.iterator.map(_.ts.getTime).max
      state.setTimeoutTimestamp(math.max(latest, st0.lastSeenMs), horizon)
    }
    out.iterator
  }

  /** Node-time counters (R6): tumbling windows per event_type with a
    * watermark — replaces the reference's 2-minute wall-clock loop and
    * its delete-old-nodes retention SQL. Needs cols: ts, event_type,
    * user_id, value. */
  def nodeTimeCounts(
      events: DataFrame,
      windowLen: String = "2 minutes",
      watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("online_users"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("node_time"), col("event_type"),
        col("online_users"), col("n_events"), col("sum_value"))

  /** Heartbeat sessions on a stream (R10): native session_window with an
    * inactivity gap — replaces the batch lead-pairing approximation. */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_beats"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_beats"))

  /** Late-duplicate removal (R9 improvement): state for the key set is
    * bounded by the watermark horizon instead of growing forever. */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: correlate two event streams on a key
    * within a bounded time window (e.g. error-after-click attribution on
    * live traffic). Both sides carry watermarks so the join state is
    * bounded — the streaming generalization of the batch as-of join
    * (q68). Inputs need cols: (key, ts, ...); right.ts must fall within
    * [left.ts, left.ts + horizon]. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      horizon: String = "10 minutes", watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $horizon"))
  }

  /** S7: Kafka line source. The micro-batch replacement for the
    * reference's DStream ingestion (`UserStatusByRunLog.scala:57-62`);
    * offset management is the built-in checkpoint (S8 — the hand-rolled
    * ZK store in `utils/KafkaOffsetManager.scala` has no modern
    * equivalent to build). Returns raw value lines for the parsers. */
  def kafkaLines(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS line", "timestamp AS ts")

  /** R5: rolling-snapshot merge (`realtime/ProgramDemand.scala:90-98,146-152`):
    * cumulative counters = current node's counts full-outer-merged with
    * the previous snapshot, `nvl(cur,0)+nvl(prev,0)`, with a day-boundary
    * reset that drops the previous snapshot entirely. Pure batch function
    * — call it inside foreachBatch with the persisted previous snapshot. */
  def mergeWithPrevious(cur: DataFrame, prev: DataFrame, keys: Seq[String],
      counterCols: Seq[String], sameDay: Boolean): DataFrame = {
    val base = if (sameDay) prev else prev.limit(0)
    val p = counterCols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"_prev_$c"))
    cur.join(p, keys, "full")
      .select(keys.map(col) ++ counterCols.map(c =>
        (coalesce(col(c), lit(0L)) + coalesce(col(s"_prev_$c"), lit(0L))).as(c)): _*)
  }

  /** Audience metrics over node-time counter batches (R8,
    * `ChannelLiveByRunLogRealTime.scala:356-360`): rating = playTime /
    * (range × registered), arrival = online / registered, share =
    * playTime / Σ playTime WITHIN the same node_time window (the
    * reference computes share within one time range). BATCH function —
    * call it inside foreachBatch on the counters output (window
    * functions are not allowed directly on a streaming DataFrame).
    * Needs cols: node_time, play_time_sec, online_users. */
  def audienceMetrics(counts: DataFrame, rangeSec: Long, registered: Long): DataFrame = {
    val perNode = org.apache.spark.sql.expressions.Window.partitionBy("node_time")
    counts
      .withColumn("rating",
        round(col("play_time_sec") / (lit(rangeSec) * lit(registered)), 6))
      .withColumn("arrival",
        round(col("online_users") / lit(registered.toDouble), 6))
      .withColumn("share",
        round(col("play_time_sec") / sum(col("play_time_sec")).over(perNode), 6))
  }
}
