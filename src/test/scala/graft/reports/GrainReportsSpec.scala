package graft.reports

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `GrainReports.multiGrainRolled` (one grain-tagged aggregate over
  * day-or-finer partials) against [[GrainReportsSpec.multiGrain]], the
  * direct form: one aggregate per grain over the raw rows, unioned. */
class GrainReportsSpec extends SparkSpec {
  import GrainReportsSpec._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("event_type", StringType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // spans a half-hour edge, an ISO week edge (Sun 2023-12-31 / Mon
  // 2024-01-01), month, quarter and year edges; values are multiples of
  // 1/4 so every sum is exact in any order
  private val rows: Seq[Row] = Seq(
    Row(ts("2023-12-30 23:59:59"), "play", 1L, 1.25),
    Row(ts("2023-12-31 00:10:00"), "play", 1L, 2.0),
    Row(ts("2023-12-31 00:40:00"), "play", 2L, 0.5),
    Row(ts("2023-12-31 23:30:00"), "pause", 2L, 3.75),
    Row(ts("2024-01-01 00:00:00"), "play", 1L, 4.0),
    Row(ts("2024-01-01 00:29:59"), "play", 3L, 1.0),
    Row(ts("2024-01-01 00:30:00"), "pause", 3L, 0.25),
    Row(ts("2024-01-07 12:00:00"), "play", 4L, 2.5),
    Row(ts("2024-01-08 12:00:00"), "play", 4L, 2.5),
    Row(ts("2024-03-31 23:59:00"), "stop", 5L, 7.0),
    Row(ts("2024-04-01 00:01:00"), "stop", 5L, 7.0),
    Row(ts("2024-04-01 00:01:00"), "stop", 6L, 1.5),
    Row(ts("2024-06-15 08:45:00"), "play", 1L, 0.75))

  private val withNulls: Seq[Row] = rows ++ Seq(
    Row(null, "play", 1L, 1.0),
    Row(null, "play", 7L, 2.0),
    Row(ts("2024-01-01 00:05:00"), null, 2L, 0.5),
    Row(ts("2024-01-01 00:06:00"), null, 8L, null),
    Row(ts("2024-01-01 00:07:00"), "play", null, 1.5),
    Row(ts("2024-04-01 00:02:00"), "stop", null, 2.25),
    Row(null, null, null, null))

  private def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)

  private def assertSame(rs: Seq[Row], grains: Seq[String]): Unit = {
    val base = frame(rs)
    val dims = Seq("event_type")
    val rolled = GrainReports.multiGrainRolled(base, "ts", grains, dims,
      distinctCol = "user_id", valueCol = "value")
    val direct = multiGrain(base, "ts", grains, dims, Seq(
      count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("n_users"),
      round(sum(col("value")), 2).as("sum_value")))
    assert(rolled.schema.map(f => (f.name, f.dataType)) ==
      direct.schema.map(f => (f.name, f.dataType)))
    val got = rolled.collect().map(_.toString).sorted.toSeq
    val want = direct.collect().map(_.toString).sorted.toSeq
    assert(got == want)
    if (rs.nonEmpty) assert(grains.distinct.forall(g => got.exists(_.startsWith(s"[$g,"))))
  }

  test("rolled == per-grain union: day, week, month, quarter, year") {
    assertSame(rows, Seq("day", "week", "month", "quarter", "year"))
  }

  test("rolled == per-grain union: halfhour and day") {
    assertSame(rows, Seq("halfhour", "day"))
  }

  test("rolled == per-grain union: a single grain, coarser than day") {
    assertSame(rows, Seq("month"))
  }

  test("rolled == per-grain union: empty input") {
    assertSame(Seq.empty, Seq("day", "week", "month", "quarter", "year"))
    assertSame(Seq.empty, Seq("halfhour", "day"))
  }

  test("rolled == per-grain union: null ts, event_type and user_id") {
    assertSame(withNulls, Seq("day", "week", "month", "quarter", "year"))
    assertSame(withNulls, Seq("halfhour", "day"))
    assertSame(withNulls, Seq("year"))
  }

  test("a coarser-than-day finest grain cannot serve as the partial base") {
    intercept[IllegalArgumentException] {
      GrainReports.multiGrainRolled(frame(rows), "ts", Seq("week", "month"),
        Seq("event_type"), "user_id", "value")
    }
  }
}

object GrainReportsSpec {

  /** One aggregation per grain over the same base, unioned with a grain
    * tag column; `metrics` must be pre-aliased aggregate columns. Scans
    * the base once per grain. */
  def multiGrain(base: DataFrame, tsCol: String, grains: Seq[String],
      dims: Seq[String], metrics: Seq[Column]): DataFrame =
    grains.map { g =>
      val agged = base
        .groupBy(GrainReports.bucket(col(tsCol), g).as("bucket") +: dims.map(col): _*)
        .agg(metrics.head, metrics.tail: _*)
      agged.select(lit(g).as("grain") +: agged.columns.map(col): _*)
    }.reduce(_ unionByName _)
}
