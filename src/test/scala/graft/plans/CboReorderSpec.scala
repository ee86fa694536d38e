package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** CBO join-reorder END-TO-END (round 12, VERDICT r11 #2 — closes the
  * loop CboStatsSpec opened): ANALYZE'd catalog statistics over the
  * TPC-H fixture tables must actually CHANGE the join order of a
  * multi-join text when `spark.sql.cbo.{enabled,joinReorder.enabled}`
  * are on. The probe
  * recipe — fixture build with orphan-location cleanup, ANALYZE column
  * map, the deliberately fact-first Q5 text, the join-leaf extractor —
  * is the ONE shared [[CboProbe]], also behind PlanDump's PLANS.md
  * before/after appendix and q296's managed copies. */
class CboReorderSpec extends SparkSpec {

  test("ANALYZE'd stats + cbo.joinReorder change the Q5-family join " +
    "order; without CBO the textual order survives") {
    val s = spark
    def nameOf(t: String) = s"stats_$t"
    CboProbe.prepare(s, sfDir, nameOf)
    val q5 = CboProbe.q5Text(nameOf)
    val prev = (s.conf.get("spark.sql.cbo.enabled", "false"),
      s.conf.get("spark.sql.cbo.joinReorder.enabled", "false"))
    def planWith(cbo: Boolean): LogicalPlan = {
      s.conf.set("spark.sql.cbo.enabled", cbo.toString)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
      s.sql(q5).queryExecution.optimizedPlan
    }
    try {
      val off = CboProbe.joinOrder(planWith(cbo = false), "stats_(\\w+)".r)
      val on = CboProbe.joinOrder(planWith(cbo = true), "stats_(\\w+)".r)
      assert(off.size == 6 && on.size == 6,
        s"both plans join all six relations: off=$off on=$on")
      assert(off != on,
        s"stats-informed DP reorder must change the join order:\n" +
          s"  without CBO: ${off.mkString(" ⋈ ")}\n" +
          s"  with CBO:    ${on.mkString(" ⋈ ")}")
      // the point of the reorder: the fact table must stop leading —
      // with stats the cheapest trees start from the filtered dims
      assert(off.head == "lineitem", "textual order leads with the fact")
      assert(on.head != "lineitem",
        s"reordered plan still leads with the fact table: $on")
      // correctness is untouched by the reorder
      s.conf.set("spark.sql.cbo.enabled", "false")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      val offRows = s.sql(q5).collect().map(_.toSeq).toSet
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val onRows = s.sql(q5).collect().map(_.toSeq).toSet
      assert(offRows == onRows, "reorder must not change results")
    } finally {
      s.conf.set("spark.sql.cbo.enabled", prev._1)
      s.conf.set("spark.sql.cbo.joinReorder.enabled", prev._2)
      CboProbe.drop(s, nameOf)
    }
  }
}
