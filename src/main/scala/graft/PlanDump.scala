package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}
import scala.jdk.CollectionConverters._

/** Dev tool with two modes.
  *
  * `sbt "runMain graft.PlanDump [sfDir]"` dumps a physical plan for EVERY
  * `SparkEntry.queries` entry into PLANS.md — `explain("formatted")` for
  * the plan-shape-critical picks below (scan pruning, broadcast
  * placement, partial aggregation, exchange reuse and codegen spans
  * reviewable as text), the compact simple physical tree for the rest.
  * Totality is enforced (round-7 verdict #4): the tool fails loudly if a
  * pick key no longer exists, and every queries key gets a section, so a
  * new query can't silently ship without a reviewable plan.
  *
  * `sbt "runMain graft.PlanDump <dir> <tag> <query...>"` is the
  * optimisation-round probe: under the bench session, at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) as Bench reads it, it writes
  * `<dir>/<query>_<tag>.txt` per named query — the formatted plan the
  * bench runs, then every Spark job's wall time and description for a
  * cold and a warm run (the per-job decomposition the UI would give,
  * with the UI disabled). */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q01_agg" -> "partial (map-side) + final hash aggregation, one exchange",
    "q11_star_join" -> "star join: every dim side broadcast, fact scanned once",
    "q18_range_join" -> "range join keeps its equi key: hash join + filter, no BNLJ",
    "q47_minhash_lsh" -> "candidate pairs from a band-bucket equi self-join; scan prunes to (doc_id, text)",
    "q51_knn_brute" -> "broadcast-probe ANN: query vectors broadcast, one corpus scan",
    "q65_halfhour_report" -> "flagship parse→sessionize→enrich→report composition",
    "q66_multigrain" -> "multi-grain rollup: the day-level partial fans out to every grain in one Generate, then ONE grain-tagged aggregate — one scan, no Union",
    "q77_dedup_keep" -> "O(n) keep/drop suppression — the production dedup shape",
    "q128_bloom_semi_join" -> "bloom probe inside the scan-stage filter, then exact semi-join",
    "q132_topk_agg" -> "typed heap top-k: partial_ (map-side) object aggregation before the exchange",
    "q136_unigram_bits" -> "histogram broadcast back onto the token stream — no second token shuffle",
    "q145_curriculum" -> "global batch position with NO global window: per-source ranks × broadcast source dim",
    "q147_overlap_join" -> "interval overlap decomposed to a bucket equi join — no nested loop",
    "q148_mad_gate" -> "median/MAD stat frames broadcast back — the docs table never join-shuffles",
    "q155_triangle_census" -> "degree-oriented wedge join: equi joins only, scalars via broadcast 1-row crossJoins",
    "q164_heavy_hitters" -> "two-pass exact heavy hitters: partial_ Misra-Gries object aggregation bounds the exchange at O(groups*k); pass 2 prunes through a broadcast candidate join",
    "q170_eval_split" -> "largest-remainder allocation over the strata census only; per-doc work is one stratum-partitioned hash rank — no unpartitioned window anywhere",
    "q171_bigram_bits" -> "bigram LM bits: per-bigram cost computed on the O(bigram vocab) histogram, shuffle-joined back on (tok,nxt) — NO forced broadcast of an unbounded histogram",
    "q175_winnow" -> "winnowing fingerprints: per-doc window-min (bounded partitions), ownership a map-side-partial groupBy broadcast back; the two fps consumers deliberately recompute the pipelined chain — measured faster than persist/checkpoint at 10-30x (see q175 scaladoc)",
    "q176_cooccur" -> "capped co-occurrence: top-C window per user bounds the self-join fan-out; pair counts collapse on the uniform (item_a,item_b) key",
    "q180_datacard" -> "fused per-source datacard: ONE documents scan feeds every quality signal (token/char mass, repetition, stopword, word length) through one explode + two-level agg — K signal jobs for the price of one text read",
    "q181_centroid_diag" -> "centroid diagnostics: O(labels*dim) integer-exact component sums, centroid frame broadcast back for the narrow cosine pass, O(labels^2) separation matrix — nothing collects to the driver",
    "q184_hybrid_retrieval" -> "hybrid BM25+dense RRF: both global ranks via the two-pass DistributedRank (bucket exchange + offsets join, NO single-task window), dense side a broadcast probe scan, fusion one doc_id equi join, top-10 TakeOrdered",
    "q185_sorted_neighborhood" -> "sorted-neighborhood blocking: global sort order via DistributedRank, w-neighborhood pairing a pure integer equi join on the rank — O(n*w) candidates, no range/nested-loop join",
    "q186_prototype_prune" -> "SSL-prototypes prune: integer-exact cell centroids broadcast back; per-cell rank is the global DistributedRank minus O(cells) triangular offsets — NO window partitioned by the 16-value cell key",
    "q187_matryoshka_recall" -> "matryoshka recall: one broadcast-probe scan scores every dim tier, per-(query,tier) top-5 via partial_ (map-side) TopKAggregator — no window anywhere",
    "q189_heaps_growth" -> "heaps growth: one tokenizing scan feeds doc census + first-occurrence mins, O(sources) decile boundaries broadcast back, cumulative masses 10 conditional sums in ONE agg",
    "q190_domain_tagger" -> "domain tagger: literal CASE keyword map inside the tokenizing scan, per-doc argmax window bounded by |topics|, O(langs) totals broadcast",
    "q199_ivf_lifecycle" -> "persisted IVF-Flat search: the codes scan carries the probed-cells predicate as PartitionFilters (reads probes/cells of the index, never all of it); the member-id join to raw vectors carries NO forced broadcast (corpus-tracking frame — AQE decides)",
    "q202_cms_freq" -> "Count-Min serving: d bucket rows per token feed ONE map-side-combinable count (the exchange carries sparse counters, never tokens); probes join the O(groups*d*w) counter table",
    "q203_quality_classifier" -> "classifier inference: two md5s + an integer add per token inside the tokenizing scan, doc-keyed partial agg, O(sources) census — no join, no broadcast, no window",
    "q204_bitext_margin" -> "bitext margin: bounded batch broadcast onto one corpus scan (q51 shape); both avgK windows partition on keys with bounded rows per partition",
    "q205_table_profile" -> "table profiler: ONE scan, every column's stats in one aggregate — the multi-countDistinct plans as a single Expand pass",
    "q206_curation_funnel" -> "curation funnel: four survivor stages share scan lineage through semi joins on the id — each stage's census is a hash agg, no stage re-reads text it already filtered",
    "q207_learnability_select" -> "two-model learnability: BOTH models' per-token weights ride ONE tokenizing scan (two md5 pairs per token), one doc-keyed agg, top-10 TakeOrdered — no join, no second scan",
    "q208_filtered_ann" -> "filtered ANN: metadata predicate plans as a semi join BEFORE cell routing (pre-filter), assignment a narrow map, probed-cell candidates only — no product, no forced broadcast of the allowed set",
    "q210_heldout_ppl" -> "held-out LM scoring: vocab-sized bi/ctx/uni tables shuffle-joined (never broadcast), only the 1-row (T,V) stats frame hinted; per-token bits close as log2 of exact integers",
    "q211_preference_pairs" -> "DPO pair prep: both extremes (argmax+argmin) from ONE (source,lang)-partitioned window exchange — two row_numbers, one sort, O(groups) output",
    "q212_suffix_dedup" -> "suffix-array census: log(maxlen) rank-doubling self-joins, each round cut to a FRESH checkpointed leaf (stats reset — no BigInt plan-stat blowup); per-position best-LCP is two narrow projections + one grouped max, histogram O(maxlen)",
    "q214_exact_scrub" -> "exact duplicated-run scrub: interval union as a delta-table cumsum — the only window partitions by doc_id (bounded by one doc's tokens, never global); reassembly md5 via per-doc sorted collect, the q134 bound",
    "q215_probe_recall" -> "IVF probe→recall curve: cells attach via ONE vec_id join (a codes-table column at scale), queries broadcast onto one corpus scan, GT and per-cell rankings both bounded-state TopK partials — the probe-depth grid joins only O(NQ*cells*10) survivors, never the corpus",
    "q217_semantic_order" -> "in-context-pretraining order report: cell + own-centroid distance ride a narrow broadcast pass, both global orders via the window-free DistributedRank, adjacency a pure integer rank self-join — linear, no single-task window",
    "q218_late_interaction" -> "ColBERT MaxSim: slice norms ride the corpus scan as 8 narrow columns, the 64-term grid is INLINE codegen'd expression work per pair (no explode — the pair frame never multiplies), top-10 via bounded-state TopK partials",
    "q219_weak_labels" -> "Snorkel label-model census: all THREE labeling functions' weights ride ONE tokenizing scan (three md5 pairs per token), one doc-keyed hash agg, O(sources) census — no join, no broadcast, no window",
    "q220_doremi_weights" -> "DoReMi domain reweighting: both models ride ONE tokenizing scan, doc-keyed agg, O(sources) census x 1-row broadcast total — integer ppm end to end",
    "q221_forget_audit" -> "erasure propagation: the corpus-tracking deletion list joins with NO forced broadcast (AQE decides); one left-join hash agg per artifact, cell assignment a narrow pass (a stored codes column at a persisted index)",
    "q200_index_census" -> "index census read straight off the codes table's (batch_id, cluster) partition layout — partition columns only, vector codes never deserialize",
    "q201_semdup_by_source" -> "semantic-dup rate per source: SemDeDup keep/drop left-joined to the doc dim across the doc_id==vec_id seam, one grouped census — zero new operator code",
    "q209_sql_groupby_all" -> "GROUP BY ALL dialect: resolves to the same partial+final hash aggregate as an explicit grouping list",
    "q213_pii_census" -> "PII census: detector regexes are codegen'd row expressions riding the documents scan — zero shuffles before the O(kinds) census agg",
    "q216_epoch_alloc" -> "repeat-epoch allocator: corpus stats reduce to O(sources) rows; the greedy allocation window runs over O(sources*epochs) rows, never the corpus",
    "q225_ppl_buckets" -> "CCNet perplexity terciles: q210's shuffle-joined LM tables (never broadcast) score every bigram on one tokenizing scan; per-doc mean one hash agg; only the O(langs) tercile-cuts frame carries a broadcast hint",
    "q226_semantic_decontam" -> "semantic decontamination: eval slice joins with NO forced hint (corpus-tracking here, bounded benchmark in production — AQE broadcasts it while it fits); per-doc max-cos one hash agg, census over the doc_id==vec_id seam",
    "q227_cdc_apply" -> "CDC changelog compaction: max_by(payload, seq) is a declarative agg — partial_ map-side reduction to one candidate per key BEFORE the exchange; no window, no sort of the log",
    "q228_rank_fusion" -> "Borda rank fusion: all three signals from ONE tokenizing scan + one doc-keyed agg; each global rank is the window-free DistributedRank over the doc-level frame; fusion three doc_id equi joins, selection a TakeOrdered",
    "q230_incremental_census" -> "incremental MV maintenance: each side reduces to per-lang MERGEABLE states (sum/min/max + a collect_set vocab state with map-side partials); the merge is one O(langs) hash agg — at a persisted base only the delta side scans",
    "q231_memorization" -> "memorization audit: codegen'd shingle builder, train gram table DISTINCT on the join key, eval side the small relation of a semi join — the q89 plan transposed, never all-pairs",
    "q232_gate_ablation" -> "gate ablation: one tokenizing scan computes length+repetition, the dup gate adds one fingerprint min-exchange, then pure boolean algebra on the 4-flag frame via an inline struct-array explode — O(docs*4) rows into one hash agg",
    "q233_unimax_alloc" -> "UniMax waterfilling: one map-side token census per language; the capped-prefix test is a pure integer comparison on the O(langs) rank window — no division until the final uniform split, nothing beyond the census leaves O(langs) rows",
    "q234_merge_curve" -> "tokenizer merge curve: one narrow typed-map encode per curve point, each reducing map-side to ONE row; the marginal-utility math is a lag window over O(points) rows",
    "q235_release_manifest" -> "round-8 flagship: q225's shuffle-joined LM scoring + q226's size-broadcast decontam pair scan feed two gates; everything after lives on O(langs) rows through the q233 waterfilling — the whole release manifest is two corpus passes",
    "q237_token_entropy" -> "entropy gate: one tokenizing scan, per-(doc,tok) counts, two doc-keyed hash aggs; histogram terms close as micro-units of exact-integer log2 BEFORE the cross-row sum — nothing leaves the doc key until the O(langs*bands) census",
    "q239_pack_purity" -> "packing purity: q223's narrow tokenize + bucket-exchange prefix sum; sequence membership is a bounded per-doc range explode (toks DIV 512 + 2 rows), never a token-level join; two hash aggs close the census",
    "q247_gate_calibration" -> "gate calibration sweep: q242's fixed-round trainer (O(dims) model broadcasts over checkpointed features) scores the held-out slice ONCE; the 9-threshold ladder is a broadcast literal crossJoin into a single hash agg — never a per-threshold rescan",
    "q248_calibrated_release" -> "calibrated release: τ* reduced from the ≤9-row sweep and broadcast as a 1-row frame; full-corpus scoring is ONE tokenizing scan against the O(dims) model; census closes per source — the sweep never rescans the corpus",
    "q249_shard_export" -> "shard export round trip: q240's pack + ONE hash-repartitioned partitioned write (no small-file explosion), manifest agg, and a read-back census whose scan lists the (lang, bucket) partition columns — file data and manifest meet in one O(shards) join",
    "q250_export_forget" -> "export erasure: deletion footprint from one narrow (docId + partition cols) scan, footprint travels as a frame (no Or-chain, no forced broadcast — deletion-tracking), re-pack exchange bounded by the touched shards, manifest merge on O(shards) rows — only the shards the list touches are rewritten",
    "q252_zorder_skip" -> "z-order layout census: codes + Morton value are codegen'd integer div/mod riding the narrow 4-column scan; both layouts rank via the window-free DistributedRank (bucket exchange, no single-task window); censuses close at O(32) rows; only the 1-row min/max stats frame is broadcast",
    "q253_hilbert_locality" -> "hilbert vs z-order: the curve index is the native codegen'd graft_hilbert loop in ONE projection on the coded scan (r12 — replaced the 10-step CASE unroll, ~10 us/row; no UDF, no join, no shuffle), checkpointed once for the four consuming jobs; both layouts rank window-free; census O(32) rows",
    "q255_epoch_materialize" -> "epoch materializer: per-doc tokens ride one narrow scan; the within-lang prefix sum is ONE window-free running-total pass over the composite langId*2^32+hash key (q240 keying — no per-lang hot partition); lang dims/bases O(langs) broadcast; census O(langs) rows",
    "q256_training_stream" -> "training-stream flagship: checkpointed keyed frame feeds prefix + rank passes (one bucket exchange each); epoch explode bounded by the cap; pack is SeqPacker's (lang,bucket) exchange + O(1)-state fold; censuses hash aggs",
    "q257_web_extract" -> "web extraction: the whole strip/decode chain is codegen'd regexp_replace/replace expressions riding the documents scan — no UDF, zero shuffles before the O(langs) census",
    "q258_stream_forget" -> "streaming-export erasure: q240's pack + three bounded batch writes; the forget is one narrow footprint scan + a dynamic overwrite bounded by the touched (batch,lang,bucket) partitions + O(touched batches) manifest recomputes; census reads manifest rows + one data agg",
    "q279_tpch09" -> "TPC-H Q9 with the shared partsupp core (round 12): the CTE's DISTINCT(l_partkey,l_suppkey) subtree substitutes the per-(session,dir) InMemoryRelation by canonical-plan match — Q2/Q9/Q11/Q16/Q20 share ONE distinct fill instead of five lineitem distinct-shuffles (Q2 saved two); predicate pushdown, broadcast dims and partial aggs as before",
    "q294_suffix_compact" -> "tiered suffix compaction: warm runs are ONE meta read + the pruned doc-range artifact scan into a grouped census (the fingerprint gate skips the whole lifecycle); cold runs pay base ladder + one compaction ladder, both through the persisted-artifact publish",
    "q295_audio_decode" -> "real WAV decode: encode+decode in ONE narrow typed mapPartitions at scan parallelism — payload bytes never shuffle, header-only parse, output sorted by doc_id",
    "q297_video_demux" -> "real animated-GIF demux: encode+frame-count in ONE narrow typed mapPartitions (ImageIO sequence reader) — the same zero-shuffle codec shape as q269/q295")

  def main(args: Array[String]): Unit = args.toSeq match {
    case dir +: tag +: names if names.nonEmpty => probe(dir, tag, names)
    case Seq() | Seq(_) => plansMd(args.headOption.getOrElse("/root/testdata/sf0.001"))
    case _ => sys.error("usage: PlanDump [sfDir] | PlanDump <dir> <tag> <query...>")
  }

  /** The plan in `mode`, long lines cut: q128's bloom sketch prints as a
    * ~200 KB hex literal. */
  private def planText(df: DataFrame, mode: ExplainMode): String =
    df.queryExecution.explainString(mode)
      .split("\n", -1)
      .map(l =>
        if (l.length > 500) l.take(300) + s"… [truncated ${l.length - 300} chars]"
        else l)
      .mkString("\n")

  private def plansMd(sfDir: String): Unit = {
    val spark = graft.core.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val noteOf = picks.toMap
    val stale = picks.map(_._1).filterNot(SparkEntry.queries.contains)
    require(stale.isEmpty, s"PlanDump picks reference missing queries: $stale")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val out = new StringBuilder
    out ++= "# Physical plans (generated by `runMain graft.PlanDump`)\n\n"
    out ++= s"Source: `$sfDir`. One section per query — TOTAL over\n"
    out ++= "`SparkEntry.queries`. Plan-shape-critical queries carry an\n"
    out ++= "annotation naming the property PlanAssertSpec pins and a\n"
    out ++= "formatted plan; the rest carry the simple physical tree.\n"
    var dumped = 0
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = planText(df, if (noteOf.contains(name)) FormattedMode else SimpleMode)
      val head = noteOf.get(name).map(n => s"$name — $n").getOrElse(name)
      out ++= s"\n## $head\n\n```\n$plan```\n"
      dumped += 1
    }
    require(dumped == SparkEntry.queries.size,
      s"PlanDump dumped $dumped of ${SparkEntry.queries.size} queries")
    out ++= cboAppendix(spark, sfDir)
    Files.write(Paths.get("PLANS.md"), out.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote PLANS.md ($dumped plans, ${picks.size} annotated)")
    spark.stop()
  }

  private def probe(dir: String, tag: String, names: Seq[String]): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          jobs.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
        }
    })
    // Bench's untimed warm-up
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Files.createDirectories(Paths.get(dir))
    names.foreach { name =>
      // build and count the query once -> (its frame, its per-job listing)
      def run(pass: String): (DataFrame, String) = {
        jobs.clear()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.count()
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        val rs = jobs.asScala.toSeq.sortBy(_._1)
        val lines = rs.map { case (id, sec, desc) =>
          f"  job $id%4d  $sec%7.3f s  $desc".stripTrailing }
        (df, (f"== $pass: $name total $total%.2f s ==" +: lines :+
          f"  [sum of jobs ${rs.map(_._2).sum}%.2f s over ${rs.size} jobs]")
          .mkString("", "\n", "\n"))
      }
      val (df, cold) = run("cold")
      // planned after the cold run so the listing above times no explain
      val plan = planText(df, FormattedMode)
      val (_, warm) = run("warm")
      val file = Paths.get(dir, s"${name}_$tag.txt")
      Files.write(file, (s"# $name — $tag (sf=$sfDir, " +
        s"${spark.sparkContext.master})\n\n$plan\n\n$cold\n$warm")
        .getBytes("UTF-8"))
      println(s"[plandump] wrote $file")
    }
    spark.stop()
  }

  /** CBO join-reorder before/after pair (round 12, VERDICT r11 #2 —
    * the evidence behind CboReorderSpec, both riding the ONE
    * [[graft.plans.CboProbe]] recipe): ANALYZE'd fixture tables, the
    * Q5 join family written fact-first, optimized join order with and
    * without `spark.sql.cbo.{enabled,joinReorder.enabled}`. */
  private def cboAppendix(spark: SparkSession, sfDir: String): String = {
    import graft.plans.CboProbe
    def nameOf(t: String) = s"stats_$t"
    CboProbe.prepare(spark, sfDir, nameOf)
    val q5 = CboProbe.q5Text(nameOf)
    def orderWith(cbo: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
      CboProbe.joinOrder(spark.sql(q5).queryExecution.optimizedPlan,
        "stats_(\\w+)".r)
    }
    try {
      val off = orderWith(cbo = false)
      val on = orderWith(cbo = true)
      s"""
         |## CBO join-reorder before/after (CboReorderSpec's evidence)
         |
         |Q5 join family, textual order deliberately fact-first, over
         |ANALYZE'd managed copies of the fixture tables (rowCount +
         |column NDV stats on every join key and selective predicate):
         |
         |```
         |without CBO (textual order kept): ${off.mkString(" ⋈ ")}
         |with CBO + joinReorder (DP):      ${on.mkString(" ⋈ ")}
         |```
         |
         |The stats-informed order starts from the filtered dims instead
         |of the fact table; results are identical (spec-pinned). The
         |driver fixtures stay bare parquet (no catalog stats), so the
         |default GraftSession leaves CBO off — an ANALYZE'd warehouse
         |deployment turns on `spark.sql.cbo.enabled` and
         |`spark.sql.cbo.joinReorder.enabled`.
         |""".stripMargin
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      CboProbe.drop(spark, nameOf)
    }
  }
}
