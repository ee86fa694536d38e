package graft

import graft.core.Cut

/** Completeness monitor (SURVEY §0 family 4: `monitor/MonitorApp.scala:16-48`
  * re-queries every report table for the day and writes a completeness
  * report). Here: run every registered query against a scale dir and
  * write one TSV line per query — name, status, rows, seconds — plus a
  * summary line. Ops tooling, not part of the driver contract.
  *
  * Usage: `sbt "runMain graft.Monitor [sfDir] [outFile]"`.
  */
object Monitor {

  /** Ops health view over the persisted STREAMING STATE tables — the
    * consumer seam between the foreachBatch sinks and whoever pages the
    * on-call: one row per monitored family.
    *
    *  - `centroids`: the [[graft.streaming.StreamingCentroidMonitor]]
    *    moment table served as running centroids and scored for cosine
    *    drift against the frozen training-time `reference` — `n` is the
    *    monitored label count, `metric` the WORST (minimum) drift_cos.
    *  - `uv_sketch`: a persisted [[graft.operators.SketchRollup]] table
    *    — `n` is the stored cell count, `metric` the global UV estimate
    *    from unioning every cell's sketch (O(cells) rows read; the raw
    *    stream is never rescanned).
    *  - `profile:<table>.<column>` (one row per column of each
    *    `warehouse` table): column-grain completeness from ONE
    *    [[graft.operators.TableProfiler]] pass per table — `n` is the
    *    table's row count, `metric` the completeness as integer
    *    parts-per-million (round 12: the old round(fraction, 6) was the
    *    q149 cross-engine round-boundary class — q293 grades this row).
    *    The reference's MonitorApp re-counts each report table at table
    *    grain; the profiler pass costs the same single scan and answers
    *    the on-call's next question ("which column went null?") too.
    *
    *  - `mv:<lang>` (when `mvCensus` names the persisted
    *    [[graft.streaming.StreamingMvCensus]] doc/vocab state paths):
    *    the ingest-maintained corpus census — `n` is the language's
    *    document count, `metric` its distinct vocabulary, both folded
    *    from the batch_id state partitions without touching raw
    *    history (round 8).
    *
    *  - `countmin` (when `countMin` names a persisted
    *    [[graft.operators.CountMin.sink]] store and its group columns):
    *    `n` is the served sparse-counter cell count, `metric` the EXACT
    *    number of keyed items the stream delivered — every item
    *    increments exactly one bucket of row r=0, so row 0's counter
    *    mass is the item count, not an estimate (round 9; with this and
    *    `cdc`, every streaming state family the repo persists is
    *    monitor-consumable).
    *
    *  - `cdc` (when `cdc` names an append sink of
    *    [[graft.streaming.CdcRow]] emissions): the changelog-apply
    *    snapshot via [[graft.streaming.CdcMachine.reconstruct]] —
    *    `n` is the keys ever tracked, `metric` the LIVE (untombstoned)
    *    key count.
    *
    *  - `export` (when `export` names a
    *    [[graft.operators.SeqPacker.writeShards]] directory): the
    *    training-export health row off the MANIFEST alone (O(shards)
    *    rows, data files never opened) — `n` is the shard count,
    *    `metric` the global fill ppm (round 9; with this, every
    *    persisted artifact the repo writes — index, state tables,
    *    export — is monitor-consumable).
    *
    *  - `bpe_vocab` (when `bpeVocab` names a
    *    [[graft.operators.BpeTrainer.save]] directory): `n` is the
    *    stored merge count, `metric` is max(rank)+1 — equal to `n` iff
    *    the ranks are contiguous, so a torn artifact shows as n ≠
    *    metric on the dashboard before any load fails (round 10).
    *
    *  - `erasure:<store>` + `erasure_sla` (when `erasureHub` names an
    *    [[graft.operators.ErasureHub]] hub dir): per-store keys-hit and
    *    drain seconds from the LATEST run's persisted drain log, plus
    *    the slowest-store summary — the per-subject erasure SLA spans
    *    all stores, so the slowest store is the number an operator
    *    tunes (round 12; previously stderr-only).
    *
    *  - `band_index` (when `bandIndex` names a
    *    [[graft.operators.BandIndex]] directory): the persisted dedup
    *    index health row — `n` is the stored band-row count, `metric`
    *    the distinct (band_idx, band_hash) bucket count (occupancy:
    *    collapsing buckets ⟹ a hot-shard dedup join ahead) (round 10).
    *
    *  - `suffix_index` (when `suffixIndex` names a
    *    [[graft.operators.SuffixIndex]] directory): the exact-substring
    *    index health row off the META alone (1 row) — `n` is the
    *    indexed position count, `metric` the doc count, encoded as
    *    −(docs+1) when the index is `scrubbed` (erasure applied;
    *    values conservative until the next rebuild) so staleness is
    *    one `metric < 0` test even when a scrub emptied the index
    *    (a plain negation would render a fully-scrubbed index as 0.0 —
    *    identical to a clean empty one) (round 10). When ingest batches
    *    are quarantined, a companion `suffix_ingest` row reports the
    *    pending doc count and batch count — the lag the exact tier
    *    carries until the next compaction (round 12).
    *
    * State reads are O(state), not O(history); the warehouse pass is
    * one scan per listed table — list the day's report outputs, not the
    * raw corpus. */
  def stateReport(spark: org.apache.spark.sql.SparkSession,
      momentsPath: String, reference: org.apache.spark.sql.DataFrame,
      sketchPath: String,
      warehouse: Seq[(String, org.apache.spark.sql.DataFrame)] = Nil,
      mvCensus: Option[(String, String)] = None,
      countMin: Option[(String, Seq[String])] = None,
      cdc: Option[String] = None,
      export: Option[String] = None,
      bpeVocab: Option[String] = None,
      suffixIndex: Option[String] = None,
      bandIndex: Option[String] = None,
      erasureHub: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingCentroidMonitor
    import graft.operators.{CountMin, SketchRollup, TableProfiler}
    val cur = StreamingCentroidMonitor.centroids(spark, momentsPath)
    val drift = StreamingCentroidMonitor.drift(cur, reference)
    val centRow = drift
      .agg(count(lit(1)).as("n"), min(col("drift_cos")).as("worst"))
      .select(lit("centroids").as("family"), col("n"),
        round(col("worst"), 6).cast("double").as("metric"))
    val sk = spark.read.parquet(sketchPath)
    val uvRow = sk.agg(count(lit(1)).as("n"))
      .crossJoin(SketchRollup.rollupEstimate(sk, Nil))
      .select(lit("uv_sketch").as("family"), col("n"),
        col("uv").cast("double").as("metric"))
    val profRows = warehouse.map(profileRow.tupled)
    val mvRows = mvCensus.toSeq.map { case (docPath, vocabPath) =>
      graft.streaming.StreamingMvCensus.census(spark, docPath, vocabPath)
        .select(concat(lit("mv:"), col("lang")).as("family"),
          col("n_docs").as("n"), col("n_vocab").cast("double").as("metric"))
    }
    val cmRows = countMin.toSeq.map { case (path, groupCols) =>
      val cells = CountMin.served(spark, path, groupCols)
      cells.agg(count(lit(1)).as("n"),
          sum(when(col("r") === 0, col("cnt")).otherwise(0L)).as("items"))
        .select(lit("countmin").as("family"), col("n"),
          coalesce(col("items"), lit(0L)).cast("double").as("metric"))
    }
    val cdcRows = cdc.toSeq.map { path =>
      graft.streaming.CdcMachine.reconstruct(spark.read.parquet(path))
        .agg(count(lit(1)).as("n"),
          sum(when(col("isDel"), 0L).otherwise(1L)).as("live"))
        .select(lit("cdc").as("family"), col("n"),
          coalesce(col("live"), lit(0L)).cast("double").as("metric"))
    }
    val exportRows = export.toSeq.map(exportRow(spark, _))
    val bpeRows = bpeVocab.toSeq.map(bpeRow(spark, _))
    val sxRows = suffixIndex.toSeq.flatMap(suffixRow(spark, _))
    val biRows = bandIndex.toSeq.map(bandRow(spark, _))
    val ehRows = erasureHub.toSeq.map(erasureRows(spark, _))
    (profRows ++ mvRows ++ cmRows ++ cdcRows ++ exportRows ++ bpeRows ++
      sxRows ++ biRows ++ ehRows)
      .foldLeft(centRow.unionByName(uvRow))(_ unionByName _)
  }

  // ---- per-family row builders (shared by stateReport/artifactReport) --

  private def profileRow: (String, org.apache.spark.sql.DataFrame)
      => org.apache.spark.sql.DataFrame = { case (name, df) =>
    import org.apache.spark.sql.functions._
    // completeness as integer PARTS-PER-MILLION, not round(ratio, 6):
    // ratio-then-round is the q149 round-boundary class (Spark rounds
    // the shortest-decimal repr, DuckDB the exact binary value — a
    // .xxxxxx5 boundary splits the hash), and q293 drives this row
    // through the DuckDB oracle. Integer division is exact in both
    // engines; the ppm is an integer-valued double, hash-stable.
    graft.operators.TableProfiler.profile(df)
      .select(concat(lit(s"profile:$name."), col("column")).as("family"),
        col("n_rows").as("n"),
        expr("((n_rows - n_null) * 1000000) div greatest(n_rows, 1)")
          .cast("double").as("metric"))
  }

  private def exportRow(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.SeqPacker.readShards(spark, dir)._2
      .agg(count(lit(1)).as("n"),
        sum(col("sum_tokens")).as("tok"), sum(col("n_seqs")).as("sq"))
      .select(lit("export").as("family"), col("n"),
        when(coalesce(col("sq"), lit(0L)) > 0L,
          (col("tok") * 1000000L / (col("sq") * 512L)))
          .otherwise(lit(0L)).cast("double").as("metric"))
  }

  private def bpeRow(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/merges")
      .agg(count(lit(1)).as("n"), (max(col("rank")) + 1L).as("mx"))
      .select(lit("bpe_vocab").as("family"), col("n"),
        coalesce(col("mx"), lit(0L)).cast("double").as("metric"))
  }

  private def suffixRow(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[org.apache.spark.sql.DataFrame] =
    graft.operators.SuffixIndex.readMeta(spark, dir).map { m =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val meta = Seq((("suffix_index"): String, m.nPos,
        (if (m.scrubbed) -(m.nDocs + 1L) else m.nDocs).toDouble))
        .toDF("family", "n", "metric")
      // quarantine visibility (round 12): the exact tier lags whatever
      // is pending until the next compaction — n pending docs, metric
      // pending batches, counted across BOTH pending stores (in-tree
      // ingest AND a crashed compact's sidecar — the review found the
      // in-tree-only count showing zero lag in exactly the crashed
      // state this row exists to surface); no row when nothing is
      // quarantined
      if (!graft.operators.SuffixIndex.tierPending(spark, dir)) meta
      else meta.unionByName(
        graft.operators.SuffixIndex.pendingDocs(spark, dir)
          .agg(count(lit(1)).as("n"),
            coalesce(count_distinct(col("batch_id")), lit(0L))
              .cast("double").as("metric"))
          .select(lit("suffix_ingest").as("family"), col("n"),
            col("metric")))
    }

  /** Erasure-SLA rows off the hub's persisted drain log (round 12,
    * VERDICT r11 #6): one `erasure:<store>` row per target — `n` the
    * keys hit, `metric` the drain seconds, both from the LATEST run —
    * plus an `erasure_sla` summary row whose metric is the SLOWEST
    * store's latest drain (the per-subject erasure obligation spans
    * all stores, so the slowest store IS the SLA). O(runs × stores)
    * rows read; empty log → no rows. */
  private def erasureRows(spark: org.apache.spark.sql.SparkSession,
      hubDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE max_by of the whole (hit, ms) pair: two independent max_by
    // calls could stitch hit from run A with ms from run B on a run_us
    // tie (sink() logs per micro-batch — same-millisecond runs happen);
    // picking the row atomically keeps the "latest" coherent even when
    // the tiebreak is arbitrary
    val latest = graft.operators.ErasureHub.drainLog(spark, hubDir)
      .groupBy(col("artifact"))
      .agg(max_by(struct(col("n_keys_hit"), col("drain_ms")),
        col("run_us")).as("l"))
      .select(col("artifact"), col("l.n_keys_hit").as("hit"),
        col("l.drain_ms").as("ms"))
      .transform(Cut(_)) // consumed twice (per-store rows + summary)
    val per = latest.select(
      concat(lit("erasure:"), col("artifact")).as("family"),
      col("hit").as("n"),
      (col("ms").cast("double") / lit(1000.0)).as("metric"))
    // no drains logged ⟹ NO rows at all (the scaladoc contract): an
    // erasure_sla of 0.0 s with zero runs would read as a healthy SLA
    // when no erasure has ever executed — the opposite signal
    if (latest.isEmpty) per
    else {
      val sla = latest.agg(count(lit(1)).as("n"),
          (coalesce(max(col("ms")), lit(0L)).cast("double") / lit(1000.0))
            .as("metric"))
        .select(lit("erasure_sla").as("family"), col("n"), col("metric"))
      per.unionByName(sla)
    }
  }

  private def bandRow(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.BandIndex.readBands(spark, dir)
      .agg(count(lit(1)).as("n"),
        count_distinct(col("band_idx"), col("band_hash")).as("bk"))
      .select(lit("band_index").as("family"), col("n"),
        coalesce(col("bk"), lit(0L)).cast("double").as("metric"))
  }

  /** Artifact-store subset of [[stateReport]] — same (family, n, metric)
    * row contract, no streaming-state inputs, so it is drivable through
    * the driver's DuckDB oracle (round 11, VERDICT r10 #7: ops-surface
    * regressions must show in CORRECTNESS, not only MonitorSpec). Every
    * family here reads the artifact's FILES (profiles scan the listed
    * frames; suffix reads the meta row), so a torn or stale artifact
    * changes a driver-graded row. */
  def artifactReport(spark: org.apache.spark.sql.SparkSession,
      warehouse: Seq[(String, org.apache.spark.sql.DataFrame)] = Nil,
      export: Option[String] = None,
      bpeVocab: Option[String] = None,
      suffixIndex: Option[String] = None,
      bandIndex: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    val rows = warehouse.map(profileRow.tupled) ++
      export.toSeq.map(exportRow(spark, _)) ++
      bpeVocab.toSeq.map(bpeRow(spark, _)) ++
      suffixIndex.toSeq.flatMap(suffixRow(spark, _)) ++
      bandIndex.toSeq.map(bandRow(spark, _))
    require(rows.nonEmpty, "artifactReport: no families requested")
    rows.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/graft_monitor.tsv")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val (status, rows) =
        try { ("OK", fn(spark, sfDir).count()) }
        catch { case e: Throwable => (s"FAIL:${e.getClass.getSimpleName}", -1L) }
      val sec = (System.nanoTime() - t0) / 1e9
      f"$name\t$status\t$rows%d\t$sec%.2f"
    }
    val nOk = lines.count(_.contains("\tOK\t"))
    val report = (lines :+ s"TOTAL\t$nOk/${lines.size} ok").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), report + "\n")
    println(report.linesIterator.toSeq.last)
    spark.stop()
  }
}
