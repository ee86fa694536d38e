package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-line parsers as `Dataset[String] → Dataset[T]` (SURVEY §2.2).
  *
  * Formats follow FIXTURES.md §1 (reverse-engineered from the reference's
  * parsers — `etl/RunLogParser.scala:507-543` for run logs,
  * `etl/ReportLog.scala:76-108` for user reports, `utils/LogUtils.scala:83-122`
  * for the key-value payload). The implementations are new, typed, and
  * total: malformed lines yield None and are dropped, never thrown on.
  */
object LogParsers {

  /** `str_to_map` semantics (`utils/LogUtils.scala:83-122`): split into
    * pairs on `pairSep`, split each pair on the FIRST `kvSep` only (URIs
    * contain ':'), trim both sides, drop pairs with empty keys. */
  def strToMap(s: String, pairSep: String, kvSep: String): Map[String, String] =
    // an empty pairSep splits into single characters, none of which is a pair
    if (s == null || s.isEmpty || pairSep.isEmpty) Map.empty
    else splitFields(s, pairSep)
      .flatMap { pair =>
        val i = pair.indexOf(kvSep)
        if (i <= 0) None
        else {
          val k = pair.substring(0, i).trim
          val v = pair.substring(i + kvSep.length).trim
          if (k.isEmpty) None else Some(k -> v)
        }
      }.toMap

  /** `s.split(Pattern.quote(sep), -1)` without compiling a regex per call:
    * every field in order, leading and trailing empty ones included.
    * `sep` must be non-empty. */
  private[etl] def splitFields(s: String, sep: String): Iterator[String] = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    var from = 0
    var i = s.indexOf(sep)
    while (i >= 0) {
      fields += s.substring(from, i)
      from = i + sep.length
      i = s.indexOf(sep, from)
    }
    (fields += s.substring(from)).iterator
  }

  /** Log families dropped by the ETL (`etl/RunLogParser.scala:548-560`). */
  val runLogBlacklist: Seq[String] = Seq(
    "BINARYC", "HTTPC", "PlayCount", "HdfsDownload", "CGuestMgr",
    "music", "AssetDownload")

  /** Parse one run-log line (FIXTURES §1.1):
    * {{{ [pid]yyyy-MM-dd HH:mm:ss:SSS - KeyWord - K:V, K:V, ... }}}
    * Report time = the 19 chars after the first ']'
    * (`etl/RunLogParser.scala:541-543`); keyword between the " - "
    * separators; payload via [[strToMap]]; userId = payload("DA") —
    * lines without a DA key are dropped (`RunLogParser.scala:548`). */
  def parseRunLogLine(line: String): Option[RunLogRecord] = {
    if (line == null) return None
    val close = line.indexOf(']')
    if (close < 0 || line.length < close + 20) return None
    val reportTime = line.substring(close + 1, close + 20)
    val sep1 = line.indexOf(" - ", close)
    if (sep1 < 0) return None
    val sep2 = line.indexOf(" - ", sep1 + 3)
    if (sep2 < 0) return None
    val keyWord = line.substring(sep1 + 3, sep2).trim
    if (keyWord.isEmpty || runLogBlacklist.exists(keyWord.contains)) return None
    val logMap = strToMap(line.substring(sep2 + 3), ",", ":")
    logMap.get("DA").map(da => RunLogRecord(keyWord, da, reportTime, logMap))
  }

  /** Device-id numeric range → terminal type
    * (`etl/ReportLog.scala:424-445`). Deliberate one-id divergence: the
    * reference's pad band ends at `device < 1899999999` (ReportLog.scala:434),
    * excluding id 1899999999 from every band; here the bands tile
    * half-open ranges cleanly, so 1899999999 is "pad" rather than "other". */
  def deviceTypeFromId(id: Long): String =
    if (id >= 1000000000L && id < 1200000000L) "stb"
    else if (id >= 1400000000L && id < 1600000000L) "ca"
    else if (id >= 1800000000L && id < 1900000000L) "pad"
    else if (id >= 2000000000L && id < 3000000000L) "mobile"
    else if (id >= 3000000000L && id < 4000000000L) "pc"
    else "other"

  /** Parse one user-report ("arate") line (FIXTURES §1.2):
    * {{{ <?><[svc,epochMillis,user,region,device]><|><(K,V)><&><(K,V)>... }}}
    * Base tuple in brackets; ext pairs `(K,V)` joined by `<&>`
    * (`etl/ReportLog.scala:76-108`, ext parsing = str_to_map(ext,"&",",")). */
  def parseArateLine(line: String): Option[ArateRecord] = {
    if (line == null) return None
    val open = line.indexOf('[')
    val close = line.indexOf(']', open + 1)
    if (open < 0 || close < 0) return None
    val base = line.substring(open + 1, close).split(",", -1).map(_.trim)
    if (base.length < 5) return None
    val extStart = line.indexOf("<|>", close)
    val ext =
      if (extStart < 0) Map.empty[String, String]
      else splitFields(line.substring(extStart + 3), "<&>")
        .map(_.trim.stripPrefix("<").stripSuffix(">"))
        .filter(p => p.startsWith("(") && p.endsWith(")"))
        .map(p => p.substring(1, p.length - 1))
        .flatMap { kv =>
          val i = kv.indexOf(',')
          if (i <= 0) None else Some(kv.substring(0, i).trim -> kv.substring(i + 1).trim)
        }.toMap
    try {
      val deviceId = base(4).toLong
      Some(ArateRecord(
        service = base(0),
        epochMillis = base(1).toLong,
        userId = base(2),
        region = base(3),
        deviceId = deviceId,
        deviceType = deviceTypeFromId(deviceId),
        ext = ext))
    } catch { case _: NumberFormatException => None }
  }

  /** Parse one iacs server-session line (SURVEY §2.2 P4,
    * `etl/IacsLogParser.scala:48-70` — server logs are pipe-delimited
    * fixed fields, unlike the key-value client logs):
    * {{{ sessionId|userId|deviceId|start|end|status }}} */
  def parseIacsLine(line: String): Option[IacsRecord] = {
    if (line == null) return None
    val f = line.split("\\|", -1)
    if (f.length < 6 || f(0).trim.isEmpty) None
    else try {
      Some(IacsRecord(f(0).trim, f(1).trim, f(2).trim.toLong,
        f(3).trim, f(4).trim, f(5).trim))
    } catch { case _: NumberFormatException => None }
  }

  /** Decode a graft access token: fixed-offset hex fields
    * `uuuuuuuu dddddddd tt rrrrrr` (24 hex chars) →
    * (userId, deviceId, deviceType, regionId). The reference's token
    * carries the same fields in hex (`common/TokenParser.scala:27-84`);
    * the layout here is graft's own. */
  def parseToken(token: String): Option[TokenInfo] =
    if (token == null || token.length < 24 ||
        !token.matches("[0-9a-fA-F]{24}")) None
    else try {
      Some(TokenInfo(
        userId = java.lang.Long.parseLong(token.substring(0, 8), 16),
        deviceId = java.lang.Long.parseLong(token.substring(8, 16), 16),
        deviceType = Integer.parseInt(token.substring(16, 18), 16),
        regionId = java.lang.Long.parseLong(token.substring(18, 24), 16)))
    } catch { case _: NumberFormatException => None }

  /** Typed token decode over a token Dataset — narrow flatMap, malformed
    * tokens dropped (total, like every parser here). */
  def parseTokens(tokens: Dataset[String])(implicit s: SparkSession): Dataset[TokenInfo] = {
    import s.implicits._
    tokens.flatMap(parseToken(_))
  }

  /** Column-side mirror of [[deviceTypeFromId]] — same bands as the
    * scalar (including the deliberate 1899999999 divergence documented
    * there), as a codegen'd when-chain for inline terminal derivation
    * (`etl/ReportLog.scala:424-445`). */
  def deviceTypeCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id >= 1000000000L && id < 1200000000L, "stb")
      .when(id >= 1400000000L && id < 1600000000L, "ca")
      .when(id >= 1800000000L && id < 1900000000L, "pad")
      .when(id >= 2000000000L && id < 3000000000L, "mobile")
      .when(id >= 3000000000L && id < 4000000000L, "pc")
      .otherwise("other")

  /** Build a FIXTURES §1.1 run-log line from columns — the single
    * source of the format, shared by every round-trip query so the
    * builder and [[parseRunLogLine]] can never drift apart. Callers must
    * pass non-null columns (coalesce first): concat null-propagates and
    * a NULL line would silently drop the row. */
  def buildRunLogLine(pid: org.apache.spark.sql.Column,
      ts: org.apache.spark.sql.Column,
      keyWord: org.apache.spark.sql.Column,
      da: org.apache.spark.sql.Column,
      extras: Seq[(String, org.apache.spark.sql.Column)]): org.apache.spark.sql.Column = {
    val head = Seq(lit("["), pid, lit("]"),
      date_format(ts, "yyyy-MM-dd HH:mm:ss:SSS"),
      lit(" - "), keyWord, lit(" - DA:"), da)
    val tail = extras.flatMap { case (k, v) => Seq(lit(s", $k:"), v) }
    concat(head ++ tail: _*)
  }

  /** Nginx JSON-lines parse (SURVEY §2.2 P3, `etl/NginxLogFilter.scala:33-57`):
    * key_word = URL path, params = querystring map, body = the RAW JSON
    * payload string (parse on demand with get_json_object/from_json —
    * body schemas vary per endpoint, so eager map coercion would lose
    * typed values). Pure native expressions — from_json + parse_url +
    * str_to_map — so the parse runs inside whole-stage codegen. */
  def parseNginx(lines: Dataset[String]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "timestamp STRING, request STRING, body STRING")
    lines.toDF("line")
      .select(from_json(col("line"), schema).as("j"))
      .select(
        col("j.timestamp").as("report_time"),
        parse_url(col("j.request"), lit("PATH")).as("key_word"),
        expr("str_to_map(parse_url(j.request, 'QUERY'), '&', '=')").as("params"),
        col("j.body").as("body"))
  }

  /** Clamp event times into the target day (SURVEY §2.2 P7,
    * `etl/ReportLog.scala:397-416` / `utils/DateUtils.scala:35-39` — the
    * reference compares joda day-of-year, which breaks across year
    * boundaries (H-5); this clamps on the real timeline). */
  def clampToWindow(ts: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(greatest(ts, lo), hi)

  /** Typed run-log parse over a line Dataset — narrow map, no shuffle. */
  def parseRunLog(lines: Dataset[String])(implicit s: SparkSession): Dataset[RunLogRecord] = {
    import s.implicits._
    lines.flatMap(parseRunLogLine(_))
  }

  /** Typed arate parse over a line Dataset. */
  def parseArate(lines: Dataset[String])(implicit s: SparkSession): Dataset[ArateRecord] = {
    import s.implicits._
    lines.flatMap(parseArateLine(_))
  }

  /** Start→next-event sessionization (SURVEY §2.5 W1, H-1;
    * `etl/RunLogParser.scala:419-439`): within each key stream ordered by
    * time, pair every START row with the NEXT event of any kind; a start
    * followed by another start is dropped (exactly the reference's
    * lead-pairing semantics). Input needs columns: the key cols, `ts`
    * (timestamp), and `is_start` (boolean). Adds `end_ts` and
    * `duration_sec`; emits only completed sessions. */
  def sessionize(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("ts"), col(tieBreak))
    df.withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("next_is_start", lead(col("is_start"), 1).over(w))
      .where(col("is_start") && col("next_ts").isNotNull && !col("next_is_start"))
      .withColumn("duration_sec",
        (unix_timestamp(col("next_ts")) - unix_timestamp(col("ts"))).cast("long"))
      .withColumnRenamed("next_ts", "end_ts")
      .drop("next_is_start")
  }

  /** Heartbeat sessions (SURVEY §2.10 R7, H-2): per user, beats sorted by
    * time; a gap > maxGapSec starts a new session; online time =
    * nBeats × intervalSec (`common/Constant.scala:34` HEART_BEAT=60).
    *
    * Typed flatMapGroups: one user's beats are sorted in executor memory —
    * bounded by beats-per-user-per-day (≤ 1440 at 60 s), NOT by table
    * size, so the shape holds at any scale; the shuffle key is userId. */
  def heartbeatSessions(
      beats: Dataset[(Long, java.sql.Timestamp)],
      maxGapSec: Long,
      intervalSec: Long)(implicit s: SparkSession): Dataset[HeartbeatSession] = {
    import s.implicits._
    beats.groupByKey(_._1).flatMapGroups { (uid, it) =>
      val ts = it.map(_._2).toArray.sortBy(_.getTime)
      if (ts.isEmpty) Iterator.empty
      else {
        val sessions = scala.collection.mutable.ArrayBuffer.empty[HeartbeatSession]
        var startIdx = 0
        var i = 1
        var sessionIdx = 0
        while (i <= ts.length) {
          // compare in millis: integer ms→s division would let gaps up
          // to maxGapSec+0.999s slip through the "gap > maxGapSec" rule
          val gapBreak = i == ts.length ||
            ts(i).getTime - ts(i - 1).getTime > maxGapSec * 1000L
          if (gapBreak) {
            val n = i - startIdx
            sessions += HeartbeatSession(uid, sessionIdx, n, n * intervalSec,
              ts(startIdx), ts(i - 1))
            sessionIdx += 1
            startIdx = i
          }
          i += 1
        }
        sessions.iterator
      }
    }
  }
}
