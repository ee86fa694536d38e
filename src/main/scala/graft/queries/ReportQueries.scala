package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.reports.GrainReports

/** Multi-grain report framework queries (SURVEY §2.4 A16, §7.1 step 5):
  * the single parameterized job that replaces the reference's ~40
  * per-grain report mains, plus the rolling-window distinct grain. */
object ReportQueries extends QueryPack {

  /** A16: the reference's full calendar-grain fan
    * (`_by_day/_by_week/_by_month/_by_quarter/_by_year` report tables) from
    * ONE fact scan via [[GrainReports.multiGrainRolled]] (day-grain
    * partials fanned out to every grain and rolled up by one
    * grain-tagged aggregate) — date_trunc semantics match DuckDB (ISO
    * weeks). */
  private val q66: Q = (s, d) => {
    import s.implicits._
    GrainReports.multiGrainRolled(
      Tables.events(s, d), "ts",
      grains = Seq("day", "week", "month", "quarter", "year"),
      dims = Seq("event_type"),
      distinctCol = "user_id", valueCol = "value")
      .withColumn("bucket", date_format($"bucket", "yyyy-MM-dd"))
      .orderBy($"grain", $"bucket", $"event_type")
  }

  /** Rolling 7-day distinct users per day via explode-offsets (pure
    * hash agg — the scale path for the reference's 7d/30d grains). */
  private val q67: Q = (s, d) => {
    import s.implicits._
    GrainReports.rollingDistinct(Tables.events(s, d), "ts", "user_id", 7)
      .withColumn("day", date_format($"day", "yyyy-MM-dd"))
      .orderBy($"day")
  }

  val queries: Map[String, Q] = Map(
    "q66_multigrain" -> q66,
    "q67_rolling_uv" -> q67
  )

  private def grainSql(g: String) =
    s"""SELECT '$g' AS grain,
       |  strftime(date_trunc('$g', ts), '%Y-%m-%d') AS bucket,
       |  event_type, count(*) AS n,
       |  count(DISTINCT user_id) AS n_users,
       |  round(sum(value), 2) AS sum_value
       |FROM events GROUP BY 2, 3""".stripMargin

  val oracle: Map[String, String] = Map(
    "q66_multigrain" ->
      (Seq("day", "week", "month", "quarter", "year").map(grainSql)
        .mkString("\nUNION ALL\n") +
        "\nORDER BY grain, bucket, event_type"),
    "q67_rolling_uv" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |ex AS (SELECT user_id, day + o::INTEGER AS wday FROM ud, range(0, 7) r(o))
        |SELECT strftime(wday, '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS uv_7d
        |FROM ex WHERE wday IN (SELECT day FROM days)
        |GROUP BY wday ORDER BY day""".stripMargin
  )
}
