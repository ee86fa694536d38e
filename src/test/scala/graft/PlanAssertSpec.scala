package graft

/** Physical-plan assertions: the scale-critical plan shapes must not
  * silently regress — dimension joins broadcast, scans prune columns and
  * push filters, the range join keeps its equi key (hash join, not BNLJ),
  * and pair generation in dedup stays a bucketed equi join. */
class PlanAssertSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q19: nation dim joins via broadcast hash join") {
    assert(plan("q19_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q18: range join plans as hash join on the equi key, not BNLJ") {
    val p = plan("q18_range_join")
    assert(!p.contains("BroadcastNestedLoop"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q51: query-vector filter is pushed to the parquet scan") {
    val p = plan("q51_knn_brute")
    assert(p.contains("LessThan(vec_id,5)"))
  }

  test("q47: scan reads only doc_id and text") {
    val p = plan("q47_minhash_lsh")
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(p).toSeq
    assert(schemas.nonEmpty && schemas.forall(s =>
      s.contains("doc_id") && s.contains("text") && !s.contains("lang")))
  }

  test("q47: candidate pairs come from an equi join on band keys") {
    val p = plan("q47_minhash_lsh")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q162: EXISTS/NOT EXISTS decorrelate to semi + anti hash joins") {
    val p = plan("q162_sql_exists")
    assert(p.contains("LeftSemi"), "EXISTS must rewrite to a LeftSemi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must rewrite to a LeftAnti join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("ExistenceJoin"),
      "no per-row subquery execution may survive into the physical plan")
  }

  test("q163: NOT EXISTS anti join + one scalar subquery, no nested-loop") {
    val p = plan("q163_sql_not_exists")
    assert(p.contains("LeftAnti"), "NOT EXISTS must rewrite to a LeftAnti join")
    assert("Subquery".r.findAllIn(p).nonEmpty,
      "the uncorrelated average stays a (single-row, broadcast) scalar subquery")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q164: the Misra-Gries summary aggregates partially before the exchange") {
    val p = plan("q164_heavy_hitters")
    assert(p.contains("partial_misragriesaggregator"),
      "pass 1 must emit O(k) map-side summaries, not shuffle raw tokens")
    assert(p.contains("BroadcastHashJoin"),
      "pass 2's candidate prune must be a broadcast join")
  }

  test("q174: phrase heavy hitters keep the O(groups*k) Misra-Gries exchange") {
    val p = plan("q174_phrase_hitters")
    assert(p.contains("partial_misragriesaggregator"),
      "pass 1 must emit O(k) map-side summaries, not shuffle raw n-grams")
    assert(p.contains("BroadcastHashJoin"),
      "pass 2's candidate prune must be a broadcast join")
  }

  // AQE wraps stages in leaf-like nodes; descend explicitly
  private def allWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    (p match {
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      case _ => Nil
    }) ++ kids.flatMap(allWindows)
  }

  test("q175: winnow window is partitioned by doc, candidates stay an equi join") {
    // q175 localCheckpoints the fingerprint stream (materialized once for
    // its two consumers), which truncates the final plan — capture every
    // executed plan with a listener instead, incl. the checkpoint job's
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = SparkEntry.queries("q175_winnow")(spark, sfDir)
      df.collect()
      var last = -1; var tries = 0
      while (seen.size() != last && tries < 100) {
        last = seen.size(); tries += 1; Thread.sleep(100)
      }
      import scala.jdk.CollectionConverters._
      val plans = seen.asScala.toSeq :+ df.queryExecution.executedPlan
      val wins = plans.flatMap(allWindows)
      assert(wins.nonEmpty, "the winnow min-window must appear in some plan")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "the winnow min-window must partition by doc_id — a global window " +
          "would single-task the whole gram stream")
      val strs = plans.map(_.toString)
      assert(strs.forall(p => !p.contains("BroadcastNestedLoop") &&
        !p.contains("CartesianProduct")))
    } finally spark.listenerManager.unregister(l)
  }

  test("q176: capped co-occurrence self-join is a hash join, window per user") {
    val exec = SparkEntry.queries("q176_cooccur")(spark, sfDir)
      .queryExecution.executedPlan
    assert(!exec.toString.contains("BroadcastNestedLoop") &&
      !exec.toString.contains("CartesianProduct"),
      "pair generation must be the user_id equi join")
    val wins = allWindows(exec)
    assert(wins.nonEmpty, "the top-C cap window must appear in the plan")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "the top-C cap window must partition by user_id")
  }

  test("q177: the eval side broadcasts (bounded by construction), no nested loop") {
    val p = plan("q177_semantic_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "eval benchmarks are KB-MB at any corpus scale — the cell join must broadcast them")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q171: only the 1-row corpus total carries a broadcast hint — never the bigram histogram") {
    // bigram vocab grows ~linearly with corpus size, so a forced broadcast
    // of `bi` (or `uni`) would OOM at 100×; size-based planning may still
    // broadcast them at fixture scale, which is fine — the assertion is on
    // the HINTS, which force the choice regardless of size
    val hints = SparkEntry.queries("q171_bigram_bits")(spark, sfDir)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints.size == 1,
      s"expected exactly one broadcast hint (the 1-row total), got ${hints.size}")
  }

  test("q180: the fused datacard feeds every signal from ONE corpus scan") {
    // at 100 TB the cost of corpus statistics IS the text scan; K separate
    // signal jobs cost K scans, the datacard must cost exactly one
    val df = SparkEntry.queries("q180_datacard")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "expected a single documents scan feeding all fused signals")
  }

  test("q234: the whole merge curve rides ONE corpus scan (round-9 fusion)") {
    // one scan-per-curve-point cost 4 linear passes (round-8 100x spot);
    // countTokensCurve derives every prefix count from the full fold's
    // per-rank tallies in a single narrow pass
    val df = SparkEntry.queries("q234_merge_curve")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "expected a single documents scan feeding all curve points")
  }

  test("q181: centroid frame broadcasts; the exploded partial agg is map-side") {
    val df = SparkEntry.queries("q181_centroid_diag")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the O(labels) centroid frame must broadcast for the per-row cosine pass")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "the (label, dim) component sums must partial-aggregate before the exchange")
  }

  test("q183: BM25 corpus stats broadcast as ONE row; scan reused across branches") {
    val df = SparkEntry.queries("q183_bm25")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "the stats branch must reuse the per-doc agg exchange, not rescan documents")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastExchange"),
      "the 1-row stats frame must reach the scorer via broadcast")
  }

  test("q184: hybrid fusion ranks window-free (DistributedRank), top-10 via TakeOrdered") {
    val df = SparkEntry.queries("q184_hybrid_retrieval")(spark, sfDir)
    val exec = df.queryExecution.executedPlan
    assert(allWindows(exec).forall(_.partitionSpec.nonEmpty),
      "global ranks must come from the two-pass DistributedRank, not a single-task window")
    assert(exec.toString.contains("TakeOrderedAndProject"),
      "the final top-10 must be a TakeOrdered, not a sort + window")
  }

  test("q185: sorted-neighborhood rank is window-free; neighbor pairing is an equi join") {
    val df = SparkEntry.queries("q185_sorted_neighborhood")(spark, sfDir)
    val exec = df.queryExecution.executedPlan
    assert(allWindows(exec).forall(_.partitionSpec.nonEmpty),
      "the global sort rank must come from two-pass DistributedRank, not a single-task window")
    val p = exec.toString
    assert(!p.contains("CartesianProduct"))
    // DistributedRank's internals carry two nested-loop joins BY DESIGN
    // (triangular prefix offsets + 1-row total cross), both over
    // O(numBuckets) metadata rows — so instead of a blanket BNLJ ban,
    // assert the O(n·w) candidate pairing itself is an equi HASH join on
    // the integer rank key
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[rn_b".r
      .findFirstIn(p).isDefined,
      "the w-neighborhood must pair via a hash join on the rank key")
  }

  test("q186: prototype prune ranks window-free; centroid frame broadcasts") {
    // cells are corpus-scale partitions (16 over 100 TB) — a
    // cell-partitioned window would funnel ~1/16 of the corpus through
    // one task, so the per-cell rank must be the global two-pass
    // DistributedRank minus O(cells) offsets
    val df = SparkEntry.queries("q186_prototype_prune")(spark, sfDir)
    val exec = df.queryExecution.executedPlan
    val wins = allWindows(exec)
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window")
    assert(!wins.exists(_.partitionSpec.exists(_.toString.contains("cell"))),
      "no window may partition by the 16-value cell key — that is a corpus-scale funnel")
    assert(exec.toString.contains("BroadcastHashJoin"),
      "the O(cells·dim) centroid frame must broadcast for the scoring pass")
  }

  test("q187: per-tier top-5 is the bounded-state aggregator, one corpus scan scores all tiers") {
    val df = SparkEntry.queries("q187_matryoshka_recall")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("partial_topkaggregator"),
      "top-5 per (query, tier) must reduce to <=5 rows map-side, not shuffle-sort the corpus")
    assert(allWindows(df.queryExecution.executedPlan).isEmpty,
      "no window anywhere — a (q_id, d)-partitioned window funnels the corpus through NQ*|dims| tasks")
  }

  test("q189: heaps curve is window-free; the O(sources) boundary frame broadcasts") {
    val df = SparkEntry.queries("q189_heaps_growth")(spark, sfDir)
    val exec = df.queryExecution.executedPlan
    assert(allWindows(exec).isEmpty,
      "cumulative masses must be conditional sums against broadcast boundaries, not running windows")
    assert(exec.toString.contains("BroadcastHashJoin"),
      "the decile-boundary frame is O(sources) — it must broadcast")
  }

  test("q196: SQL PIVOT plans as ONE aggregate over one fact scan") {
    val df = SparkEntry.queries("q196_sql_pivot")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 2,
      "pivot must not rescan per output column — one orders scan + one customer scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q01: aggregation is partial (map-side) then final") {
    val p = plan("q01_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  /** The rolled multigrain shape: one fact scan, every grain out of one
    * grain-tagged aggregate (no per-grain branch to union), whose one
    * distinct key plans as a single partial → final distinct chain. */
  private def assertOneRolledAggregate(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    // AQE's toString appends the pre-adaptive "== Initial Plan ==" —
    // count only the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan parquet".r.findAllIn(p).length == 1, s"expected a single fact scan:\n$p")
    assert(!p.contains("Union"), s"grains must not be unioned per-grain branches:\n$p")
    assert("partial_count\\(distinct ".r.findAllIn(p).length == 1 &&
      "[^_]count\\(distinct ".r.findAllIn(p).length == 1,
      s"expected one distinct-aggregate chain:\n$p")
  }

  test("q66: multigrain scans the fact table once into one grain-tagged aggregate") {
    assertOneRolledAggregate("q66_multigrain")
  }

  test("q81: halfhour + day rollup scans once into one grain-tagged aggregate") {
    assertOneRolledAggregate("q81_framework_halfhour")
  }

  test("runtime bloom filter pre-filters the fact side of a selective shuffle join") {
    // At 100 TB the win is real: the bloom filter built from the selective
    // dim side drops fact rows BEFORE the shuffle. Local fixture scans are
    // below the default size thresholds, so lower them for the assert;
    // broadcast must be off or the join needs no runtime filter at all.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val dim = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        "expected a runtime bloom filter (might_contain) on the fact scan side")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dynamic partition pruning: selective dim join prunes fact partitions at runtime") {
    // The 100 TB case: facts live partitioned by day; a join against a
    // dim filtered to a few days must scan only those partitions, with
    // the day set discovered AT RUNTIME from the dim side (DPP subquery
    // in the scan), not by reading every partition.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val factDir = base + "/events_by_day"
    val dimDir = base + "/day_dim"
    val events = graft.core.Tables.events(spark, sfDir)
      .withColumn("day", date_format($"ts", "yyyyMMdd"))
    events.write.partitionBy("day").parquet(factDir)
    events.select($"day").distinct().write.parquet(dimDir)
    val twoDays = spark.read.parquet(dimDir)
      .orderBy($"day").limit(2).as[String].collect()
    val fact = spark.read.parquet(factDir)
    // the selective predicate lives on the DIM relation only; DPP is what
    // carries it over to the fact scan's partition filter at runtime
    val dim = spark.read.parquet(dimDir).filter($"day".isin(twoDays: _*))
    val joined = fact.join(dim, Seq("day")).groupBy($"event_type").count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n${p.take(1200)}")
  }

  test("q73: no un-partitioned window over customer data") {
    val p = plan("q73_rank_family")
    // every window must be keyed by the range-partition id: the data-side
    // row_number partitions by __pid, and the offsets cumulation runs over
    // the per-partition counts (metadata, also keyed __pid). A spec
    // without __pid would be the single-task global window regression.
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")), specs.mkString("\n"))
  }

  test("q94: the packing prefix sum never runs as an un-partitioned data window") {
    val p = plan("q94_sequence_pack")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")), specs.mkString("\n"))
  }

  test("q97: grouping sets expand from ONE fact scan, not one scan per set") {
    val p = plan("q97_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must plan as Expand")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "expected a single lineitem scan feeding the Expand")
  }

  test("q98: the sweep-line running sum windows by (day, stream), never globally") {
    val p = plan("q98_concurrency")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(s =>
      s.contains("day") && s.contains("event_type")), specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"),
      "concurrency window must not serialize onto one task")
  }

  test("q99: fuzzy candidates come from an equi join on block keys") {
    val p = plan("q99_fuzzy_neardup")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q120: the levenshtein verify sits on band-bucket equi joins only") {
    val p = plan("q120_fuzzy_lsh")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    assert(p.contains("levenshtein"), "the verify must be in-plan, not post-hoc")
  }

  test("q121: prefix-filtered containment joins stay equi (no product)") {
    val p = plan("q121_containment_prefix")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q122: shard ranking never reads text; bucket-count branches prune to doc_id") {
    val p = plan("q122_shard_assign")
    val schemas = "ReadSchema: [^\n]*".r.findAllIn(p).toSeq
    // data branch reads (doc_id, n_chars); the bucket-count/offset
    // branches prune all the way down to doc_id alone; the wide text
    // column must appear in NO scan
    assert(schemas.exists(s => s.contains("doc_id") && s.contains("n_chars")))
    assert(schemas.forall(s => !s.contains("text")), schemas.mkString("\n"))
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")), specs.mkString("\n"))
  }

  test("q124: the budget prefix sum never runs as an un-partitioned data window") {
    val p = plan("q124_token_budget")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("__pid")), specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q125: ring negatives join on the modular rank, no product, no data window") {
    val p = plan("q125_ring_negatives")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.forall(_.contains("__pid")), specs.mkString("\n"))
  }

  test("q103: SCD-2 windows partition by the dimension key, never globally") {
    val p = plan("q103_scd2")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("o_custkey")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q106: both dedup membership checks are semi joins, no product") {
    val p = plan("q106_incremental_dedup")
    assert("LeftSemi".r.findAllIn(p).length >= 2, "expected 2 semi joins")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q114: fused predicate census reads lineitem once per plan branch") {
    val p = plan("q114_quality_audit")
    val liScans = "FileScan parquet[^\n]*lineitem".r.findAllIn(p).length
    // 1 fused scan for ALL three predicate checks + 1 for the orphan
    // check's child side — a per-predicate plan would need 4
    assert(liScans == 2, s"expected 2 lineitem scans, got $liScans")
  }

  test("q110 (SQL text): every dim side of the 6-way join broadcasts") {
    val p = plan("q110_sql_regional_revenue")
    // customer/supplier/nation/region all sit under the 200 MB threshold;
    // the fact (lineitem⋈orders) side must never broadcast-nested-loop
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p.take(800))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q140: the O(1024)-row llr table joins back via broadcast hash join") {
    val p = plan("q140_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "the llr join must broadcast, not shuffle the per-(doc,bucket) counts")
  }

  test("q141: CDC window passes partition by doc_id, never globally") {
    val p = plan("q141_cdc_chunks")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q142: the decile gate windows by lang, never globally") {
    val p = plan("q142_quality_gate")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q143: the k-anonymity census aggregates map-side then final") {
    val p = plan("q143_k_anonymity")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "both census levels must have partial + final HashAggregate")
  }

  test("q144: the copy-count join back to docs is an equi join, no product") {
    val p = plan("q144_dup_weights")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q145: curriculum windows are per-source or __pid — no global sort window") {
    val p = plan("q145_curriculum")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(s =>
      s.contains("source") || s.contains("__pid")), specs.mkString("\n"))
  }

  test("q146: the top-100 rank windows by lang, never globally") {
    val p = plan("q146_zipf_slope")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q147: bucket-decomposed overlap join plans as an equi join, never a product") {
    val p = plan("q147_overlap_join")
    // the whole point of the decomposition: the naive inequality-only
    // join would be a BroadcastNestedLoop / cartesian
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q148: both MAD stat frames join back via broadcast — docs never shuffled for a join") {
    val p = plan("q148_mad_gate")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "O(langs) stat frames must broadcast, not shuffle the docs table")
  }

  test("q150: PSI marginals all join broadcast — one census scan, no doc-table shuffle join") {
    val p = plan("q150_psi_drift")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q151: the stitch boundary join is an equi join on the boundary hash") {
    val p = plan("q151_stitch_pairs")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q152: all three fusion windows partition by lang — no global rank") {
    val p = plan("q152_rrf_fusion")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q154: the trailing-week frames window per series, never globally") {
    val p = plan("q154_rolling_anomaly")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("event_type")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q155: wedge and closing-edge joins are equi joins — never a product") {
    val p = plan("q155_triangle_census")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q156: the decile windows partition by lang — no global ntile") {
    val p = plan("q156_calibration")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("lang")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q157: PIT carry-forward windows partition by customer — one key exchange, no fan-out join") {
    val p = plan("q157_pit_join")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.startsWith("windowspecdefinition(c#")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q158: the boundary gate has NO window at all — boundaries broadcast back") {
    val p = plan("q158_boundary_deciles")
    assert(!p.contains("windowspecdefinition"),
      "the whole point: decile assignment without a per-lang sort")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      p.take(800))
  }

  test("q159: novelty joins are equi joins on the gram — never a product") {
    val p = plan("q159_source_novelty")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q160: attribution carries the last view in a user window — no view-purchase join") {
    val p = plan("q160_attribution")
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("user_id")),
      specs.mkString("\n"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("q111 (SQL text): correlated scalar subquery decorrelates to one agg + join") {
    val p = plan("q111_sql_decorrelated")
    // decorrelation rewrites the per-row subquery into a grouped agg
    // joined back on the correlation key — no per-row subquery node
    assert(!p.contains("ScalarSubquery"), "subquery must be decorrelated")
    assert("HashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("q203: classifier inference is scan + aggs only — no join, no window") {
    val p = plan("q203_quality_classifier")
    assert(!p.contains("Join"), "classifier scoring must not join")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindow"),
      "classifier scoring must not window")
  }

  test("q202: the CMS counter build partially aggregates map-side") {
    val p = plan("q202_cms_freq")
    // partial_count before the exchange — the sparse-counter economy:
    // tokens never cross the wire, counters do
    assert(p.contains("partial_count") || p.contains("Partial"),
      p.linesIterator.filter(_.contains("HashAggregate")).take(4).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q204: margin mining never plans a product; batch side broadcasts") {
    val p = plan("q204_bitext_margin")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the bounded batch side must broadcast")
  }

  test("q199: probe prunes the codes table at the PARTITION level") {
    val p = plan("q199_ivf_lifecycle")
    // the codes scan must carry the probed-cells predicate as a
    // PartitionFilter (cluster is a partition column of the saved
    // index) — at 100 TB this is the difference between reading
    // probes/cells of the codes table and reading all of it
    val parts = "PartitionFilters: [^\n]*".r.findAllIn(p).toSeq
    assert(parts.exists(f => f.contains("cluster") && f.contains("IN")),
      p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    // and the raw-embedding side joins the pruned member list via an
    // equi join — never a product
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q207: two-model learnability rides ONE tokenizing scan — no join") {
    val p = plan("q207_learnability_select")
    assert(!p.contains("Join"), "two-model scoring must not join")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "both models' weights must ride the same tokenizing scan")
  }

  test("q208: filtered ANN plans the metadata filter as a semi join — no product") {
    val p = plan("q208_filtered_ann")
    assert(p.contains("LeftSemi"), "metadata pre-filter must be a semi join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q226: the eval slice broadcasts by SIZE (no hint), never a cartesian") {
    // the scaladoc's claim — a bounded benchmark side rides a broadcast
    // nested-loop under plain size-based planning; a CartesianProduct
    // would mean the broadcast stopped fitting and the plan degraded
    val p = plan("q226_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "eval side must broadcast under size-based planning")
    assert(!p.contains("CartesianProduct"))
  }

  test("q227: CDC compaction reduces map-side — partial max_by before the exchange") {
    val p = plan("q227_cdc_apply")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby"),
      "the winner candidate must reduce before the key exchange:\n" +
        p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("Window"), "no window over the changelog")
  }

  test("tpch: the synthesized partsupp core serves from ONE cached " +
    "distinct — the verbatim CTE texts substitute the InMemoryRelation " +
    "(round 12, VERDICT r11 #4)") {
    // Q9 (one partsupp reference) and Q2 (two: main + correlated min)
    // must both plan the DISTINCT(l_partkey, l_suppkey) subtree as a
    // cache read, not a lineitem distinct-shuffle per occurrence
    for (q <- Seq("q279_tpch09", "q272_tpch02")) {
      val p = plan(q)
      assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
        s"$q must read the cached partsupp core:\n" +
          p.linesIterator.take(12).mkString("\n"))
    }
  }
}
