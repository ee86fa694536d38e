package graft.reports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized multi-grain report framework (SURVEY §7.1 step 5).
  *
  * The reference runs one hand-written job per report × time-grain
  * (`_by_halfhour/_by_day/_by_week/_by_month/_by_quarter/_by_year`, ~40
  * jobs, e.g. `homed/repots/LiveChannelStatistics.scala:176-223`). Here a
  * single parameterized aggregation covers every grain: callers pass the
  * base facts, dimensions and metric columns once.
  *
  * Scale: every grain comes out of one grain-tagged hash aggregate over
  * one scan; rolling distinct uses the explode-offsets formulation — a
  * pure hash aggregation — instead of a theta join, so there is no BNLJ
  * anywhere at 100 TB.
  */
object GrainReports {

  /** Time bucket for a grain. halfhour = epoch/1800 floor; calendar
    * grains use date_trunc (ISO weeks, like DuckDB). */
  def bucket(ts: Column, grain: String): Column = grain match {
    case "halfhour" =>
      timestamp_seconds(floor(unix_timestamp(ts) / 1800) * 1800)
    case g => date_trunc(g, ts)
  }

  /** Grain ordering for [[multiGrainRolled]]: every boundary of a coarser
    * grain is also a boundary of any day-or-finer grain (midnight is
    * halfhour/hour/minute-aligned), so truncating an already-truncated
    * finest bucket equals truncating the raw timestamp. week/month are NOT
    * mutually nested — only day-or-finer may serve as the partial base. */
  private val fineness = Map(
    "second" -> 0, "minute" -> 1, "halfhour" -> 2, "hour" -> 3,
    "day" -> 4, "week" -> 5, "month" -> 6, "quarter" -> 7, "year" -> 8)

  /** Single-scan multi-grain for the standard report metric shape
    * (`grain`, `bucket`, dims, `n` = row count, `n_users` = exact distinct
    * of `distinctCol`, `sum_value` = round(sum(valueCol), roundScale)).
    * ONE pass over the base builds additive partials at (finest-grain
    * bucket × dims × distinct key). One `Generate` fans each partial row
    * out to every grain, tagged with the grain's ordinal and carrying that
    * grain's bucket, and ONE aggregate keyed by (ordinal, bucket, dims)
    * rolls all grains up together; the ordinal maps back to the grain
    * name only after it. So the fact scan, the generated aggregate code
    * and the job count stay the same however many grains are requested.
    * Exact countDistinct survives the rollup because the distinct key is
    * retained in the partial — the same reason the reference keeps
    * `t_user_array_by_day` at user grain. */
  def multiGrainRolled(base: DataFrame, tsCol: String, grains: Seq[String],
      dims: Seq[String], distinctCol: String, valueCol: String,
      roundScale: Int = 2): DataFrame = {
    require(grains.nonEmpty, "at least one grain")
    val finest = grains.minBy(g => fineness.getOrElse(g, Int.MaxValue))
    require(grains.size == 1 || fineness.getOrElse(finest, Int.MaxValue) <= fineness("day"),
      s"finest grain '$finest' must be day or finer to derive the coarser grains")
    val partial = base
      .groupBy(bucket(col(tsCol), finest).as("_fb") +: dims.map(col)
        :+ col(distinctCol).as("_k"): _*)
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_sv"))
    val fanned = partial.select(
      posexplode(array(grains.map(g => bucket(col("_fb"), g)): _*)).as(Seq("_g", "bucket")) +:
        (dims :+ "_k" :+ "_n" :+ "_sv").map(col): _*)
    val grainName = grains.init.zipWithIndex.foldRight(lit(grains.last)) {
      case ((g, i), rest) => when(col("_g") === i, g).otherwise(rest)
    }
    fanned
      .groupBy(col("_g") +: col("bucket") +: dims.map(col): _*)
      .agg(
        sum(col("_n")).as("n"),
        countDistinct(col("_k")).as("n_users"),
        round(sum(col("_sv")), roundScale).as("sum_value"))
      .select(grainName.as("grain") +: col("bucket") +:
        (dims :+ "n" :+ "n_users" :+ "sum_value").map(col): _*)
  }

  /** Rolling n-day distinct count per day (the reference's 7d/30d grains,
    * `LiveChannelStatistics.scala:574-606`, recomputed there by
    * re-unioning per-day user arrays). Formulation: dedup (day, id),
    * explode each row to the n window-days it contributes to, hash-agg a
    * distinct count per window day, keep days that exist in the data.
    * No theta join; shuffle keys are (day) — uniform. */
  def rollingDistinct(base: DataFrame, tsCol: String, idCol: String,
      nDays: Int): DataFrame = {
    // sequence(0, nDays-1) silently counts BACKWARDS for nDays <= 0
    require(nDays >= 1, s"rolling window must cover at least 1 day (got $nDays)")
    val idDays = base
      .select(to_date(col(tsCol)).as("day"), col(idCol).as("id"))
      .distinct()
    val days = idDays.select(col("day")).distinct()
    idDays
      .select(col("id"),
        explode(sequence(lit(0), lit(nDays - 1))).as("off"), col("day"))
      .select(col("id"), date_add(col("day"), col("off")).as("wday"))
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("id")).as(s"uv_${nDays}d"))
  }
}
