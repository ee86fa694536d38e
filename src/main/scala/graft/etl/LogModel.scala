package graft.etl

/** Typed records produced by the log parsers (SURVEY §2.2 P1-P4).
  *
  * Mirrors the reference's semantic model, not its classes:
  * run-log record per `etl/LogParser.scala:585-589` (`Log(keyWord, userId,
  * reportTime, logMap)`), user-report record per
  * `etl/ReportLog.scala:76-108` (base tuple [service, ts, user, region,
  * device] + ext map), access-token fields per `common/TokenParser.scala:27-84`.
  */
final case class RunLogRecord(
    keyWord: String,
    userId: String,
    reportTime: String,              // "yyyy-MM-dd HH:mm:ss"
    logMap: Map[String, String])

final case class ArateRecord(
    service: String,                 // 4-digit gather code (0101 live, ...)
    epochMillis: Long,
    userId: String,
    region: String,
    deviceId: Long,
    deviceType: String,              // derived from device-id range
    ext: Map[String, String])

/** One server-side session record (SURVEY §2.2 P4: iacs logs → orc_iacs,
  * `etl/IacsLogParser.scala:48-70`). */
final case class IacsRecord(
    sessionId: String,
    userId: String,
    deviceId: Long,
    startTime: String,               // "yyyy-MM-dd HH:mm:ss"
    endTime: String,
    status: String)

final case class TokenInfo(
    userId: Long,
    deviceId: Long,
    deviceType: Int,
    regionId: Long)

/** One heartbeat-derived session (SURVEY §2.10 R7/H-2: consecutive beats
  * with gaps ≤ maxGap form a session; online time = beats × interval). */
final case class HeartbeatSession(
    userId: Long,
    sessionIdx: Int,
    nBeats: Int,
    onlineSec: Long,
    firstBeat: java.sql.Timestamp,
    lastBeat: java.sql.Timestamp)
