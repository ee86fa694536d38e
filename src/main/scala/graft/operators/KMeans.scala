package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DedupFunctions.hash32
import graft.functions.VectorFunctions.dot
import graft.core.Cut

/** Distributed Lloyd's k-means over an embedding column — the TRAINING
  * step behind IVF list assignment (q53 probes per-label centroids; in
  * production the "labels" are exactly these trained cluster ids).
  *
  * Deterministic by construction, so reruns and spec assertions are
  * stable: seeds are the k vectors with the smallest salted-md5 rank
  * (not `rand()`), every argmin tie breaks on cluster id, and the
  * centroid means are computed per (cluster, dimension) from exploded
  * rows — the same shuffle q53's oracle centroids use.
  *
  * Scale shape per iteration: ONE broadcast of k centroids against the
  * full table (assignment = codegen'd dot products + a per-row min,
  * no shuffle), then ONE (cluster, dim)-keyed hash agg for the new
  * means (shuffle rows = n·dim, uniformly keyed). State between
  * iterations is k centroid rows cut through [[graft.core.Cut]].
  * Assignment cost dominates at
  * k·n·dim multiply-adds per iter, the textbook Lloyd bound. */
object KMeans {

  /** Train k centroids for `iters` Lloyd rounds; returns the final
    * assignment (idCol, cluster) — centroids are an implementation
    * detail callers re-derive per cluster if needed (one agg). */
  def lloyd(embs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k >= 1, iters >= 1 (got $k, $iters)")
    // dot() resolves through the session function registry — install it
    // for callers that never touched Tables.load
    graft.expressions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val e = embs.select(col(idCol).as("__id"), col(vecCol).cast("array<float>").as("__v"))
      .where(col("__v").isNotNull)
      .transform(Cut(_))

    // deterministic farthest-first seeding (the greedy 2-approximation
    // behind k-means++): seed 1 = smallest salted-hash rank, each next
    // seed = the point farthest from every chosen seed (ties on id).
    // Hash-rank seeding alone can land two seeds in one true cluster
    // and permanently lose another — farthest-first cannot, as long as
    // clusters are separated. k-1 tiny driver rounds of one scan each.
    val first = Cut(seedFirst(e))
    var cent = first
    for (i <- 1 until k) {
      val mind = e.crossJoin(broadcast(
          cent.withColumn("__cn", dot(col("__c"), col("__c")))))
        .groupBy(col("__id"))
        .agg(first_value(col("__v")).as("__v"),
          min(col("__cn") - lit(2.0) * dot(col("__v"), col("__c"))).as("__s"))
        .withColumn("__d", dot(col("__v"), col("__v")) + col("__s"))
        .orderBy(col("__d").desc, col("__id"))
        .limit(1)
        .select(lit(i.toLong).as("__cid"), col("__v").as("__c"))
      cent = Cut(cent.unionByName(mind))
    }

    var assign: DataFrame = null
    for (_ <- 0 until iters) {
      // argmin ||x-c||² = argmin (|c|² − 2·x·c); |x|² is constant per row
      val scored = e.crossJoin(broadcast(
          cent.withColumn("__cn", dot(col("__c"), col("__c")))))
        .withColumn("__score", col("__cn") - lit(2.0) * dot(col("__v"), col("__c")))
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("__score"), col("__cid"))
      assign = scored
        .withColumn("__r", row_number().over(w))
        .where(col("__r") === 1)
        .select(col("__id"), col("__cid"), col("__v"))
        .transform(Cut(_))
      // new means per (cluster, dimension); empty clusters keep their
      // previous centroid (left join + coalesce)
      val means = assign
        .select(col("__cid"), posexplode(col("__v")))
        .groupBy(col("__cid"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy(col("__cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("__cid"),
          transform(col("pm"), x => x.getField("m").cast("float")).as("__cNew"))
      cent = cent.join(means, Seq("__cid"), "left")
        .select(col("__cid"), coalesce(col("__cNew"), col("__c")).as("__c"))
        .transform(Cut(_))
    }
    assign.select(col("__id").as(idCol), col("__cid").cast("long").as("cluster"))
  }

  /** Like [[lloyd]] but returns the trained CENTROIDS (cid, centroid
    * float-array) instead of the assignment — the form sub-quantizer
    * training ([[ProductQuantizer]]) needs, where the model is the
    * output and assignments are recomputed at encode time. Same
    * seeding, same rounds, same determinism; one extra final mean pass
    * over the last assignment (so the returned centroids reflect the
    * final assignment, exactly as a further Lloyd round would see
    * them). */
  def lloydCentroids(embs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    graft.expressions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val e = embs.select(col(idCol).as("__id"), col(vecCol).cast("array<float>").as("__v"))
      .where(col("__v").isNotNull)
    val assign = lloyd(e, "__id", "__v", k, iters)
    e.join(assign, Seq("__id"))
      .select(col("cluster").as("cid"), posexplode(col("__v")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("centroid"))
  }

  /** Many independent Lloyd fits in ONE set of passes: group-keyed
    * k-means, one codebook per distinct `gCol` value — the
    * [[ProductQuantizer]] training shape (m sub-quantizers = m groups),
    * also usable for any per-stratum clustering. A sequential
    * per-group driver loop costs groups × (seeding + iters) full-corpus
    * scans; here every round operates on ALL groups at once over
    * (group, id, vec) rows, so the scan count is independent of the
    * group count (PqTrainFusedSpec measures the drop).
    *
    * Numerically step-for-step identical to running [[lloydCentroids]]
    * per group: the same salted-hash seed (the salt depends only on the
    * id, so each group's seed-1 is the same row the per-group fit
    * picks), the same farthest-first argmax (ties on id), the same
    * argmin assignment (ties on cluster id), the same per-(cluster,
    * dim) means. Per-group argmax/argmin reductions use `min_by` over a
    * (key, id) struct — a partial-aggregatable shape — NEVER a window
    * partitioned by the (low-cardinality) group key, which would funnel
    * the corpus through |groups| tasks; the only window partitions by
    * (group, id), which is corpus-cardinality.
    *
    * Returns (gCol, cid, centroid float-array), k rows per group. */
  def lloydCentroidsGrouped(embs: DataFrame, gCol: String, idCol: String,
      vecCol: String, k: Int, iters: Int = 5,
      seedMode: String = "farthest"): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k >= 1, iters >= 1 (got $k, $iters)")
    require(seedMode == "farthest" || seedMode == "hash",
      s"seedMode must be 'farthest' or 'hash' (got $seedMode)")
    graft.expressions.GraftFunctions.ensureRegistered(embs.sparkSession)
    val spark = embs.sparkSession
    import spark.implicits._
    val e = embs.select(col(gCol).as("__g"), col(idCol).as("__id"),
        col(vecCol).cast("array<float>").as("__v"))
      .where(col("__v").isNotNull)
      .transform(Cut(_))

    var cent: DataFrame = seedMode match {
      case "hash" =>
        // ONE-PASS seeding: the k smallest (salted-hash, id) rows per
        // group via the bounded-state TopKAggregator (map-side partials
        // carry ≤ k candidates per task — exchange O(groups·k), ONE
        // corpus pass). Farthest-first costs k sequential passes —
        // right for a small-k coarse quantizer trained on a sample,
        // wrong for a ks≥16 codebook over the full corpus, where Lloyd
        // iterations repair seed spread anyway (recall gates in
        // VectorIndexSpec/IvfPqSpec hold under this mode).
        // The seed join keys on __id cast to long: a non-integral id
        // would silently NULL out, match no seeds, and hand groups
        // EMPTY centroids — fail loudly instead (round-7 ADVICE); the
        // hash is negated in LONG space so Int.MinValue can't overflow
        // and invert one key's priority.
        import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
        val idType = e.schema("__id").dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
          s"seedMode='hash' needs an integral id column (got $idType for '$idCol')")
        import graft.functions.{ScoredId, TopKAggregator}
        val ids = e
          .select(col("__g").cast("string").as("__gs"),
            struct(col("__id").cast("long").as("id"),
              (-(hash32(concat(lit("km:"), col("__id").cast("string")))
                .cast("long"))).as("score")).as("s"))
          .as[(String, ScoredId)]
          .groupByKey(_._1)
          .agg(new TopKAggregator(k).toColumn.name("top"))
          .flatMap { case (g, hits) =>
            hits.iterator.zipWithIndex.map { case (h, i) =>
              (g, i.toLong, h.id)
            }
          }
          .toDF("__gs", "__cid", "__sid")
        val e2 = e.withColumn("__gs", col("__g").cast("string"))
          .withColumn("__idl", col("__id").cast("long"))
        e2.join(ids, e2("__gs") === ids("__gs") && e2("__idl") === ids("__sid"))
          .select(e2("__g"), col("__cid"), col("__v").as("__c"))
          .transform(Cut(_))
      case _ =>
        // seed 1 per group: smallest (salted-hash, id) — the argmin form
        // of seedFirst's TakeOrdered, aggregated per group
        var c0 = e
          .groupBy(col("__g"))
          .agg(min_by(col("__v"), struct(
            hash32(concat(lit("km:"), col("__id").cast("string"))),
            col("__id"))).as("__c"))
          .select(col("__g"), lit(0L).as("__cid"), col("__c"))
          .transform(Cut(_))
        // farthest-first: per group, the point maximizing the min
        // distance to that group's chosen seeds (ties on id)
        for (i <- 1 until k) {
          val next = e
            .join(broadcast(c0.withColumn("__cn", dot(col("__c"), col("__c")))), Seq("__g"))
            .groupBy(col("__g"), col("__id"))
            .agg(first_value(col("__v")).as("__v"),
              min(col("__cn") - lit(2.0) * dot(col("__v"), col("__c"))).as("__s"))
            .withColumn("__d", dot(col("__v"), col("__v")) + col("__s"))
            .groupBy(col("__g"))
            .agg(min_by(col("__v"), struct(-col("__d"), col("__id"))).as("__c"))
            .select(col("__g"), lit(i.toLong).as("__cid"), col("__c"))
          c0 = Cut(c0.unionByName(next))
        }
        c0
    }

    var assign: DataFrame = null
    for (_ <- 0 until iters) {
      val scored = e
        .join(broadcast(cent.withColumn("__cn", dot(col("__c"), col("__c")))), Seq("__g"))
        .withColumn("__score", col("__cn") - lit(2.0) * dot(col("__v"), col("__c")))
      val w = Window.partitionBy(col("__g"), col("__id"))
        .orderBy(col("__score"), col("__cid"))
      assign = scored
        .withColumn("__r", row_number().over(w))
        .where(col("__r") === 1)
        .select(col("__g"), col("__id"), col("__cid"), col("__v"))
        .transform(Cut(_))
      val means = groupedMeans(assign)
      cent = cent.join(means, Seq("__g", "__cid"), "left")
        .select(col("__g"), col("__cid"),
          coalesce(col("__cNew"), col("__c")).as("__c"))
        .transform(Cut(_))
    }
    // final mean pass over the last assignment — lloydCentroids semantics
    groupedMeans(assign)
      .select(col("__g").as(gCol), col("__cid").as("cid"),
        col("__cNew").as("centroid"))
  }

  /** Per-(group, cluster, dimension) means of an assignment frame →
    * (__g, __cid, __cNew float-array). */
  private def groupedMeans(assign: DataFrame): DataFrame =
    assign
      .select(col("__g"), col("__cid"), posexplode(col("__v")))
      .groupBy(col("__g"), col("__cid"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("__g"), col("__cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("__g"), col("__cid"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("__cNew"))

  /** Seed-1 selection (exposed for plan assertions): the smallest
    * salted-hash row via orderBy+limit(1), which plans as
    * TakeOrderedAndProject — a parallel partial top-1 per partition.
    * A `row_number().over(Window.orderBy(...))` would compute the same
    * row but funnel the ENTIRE table through one task (the only
    * un-partitioned WindowExec the codebase ever had); at 100 TB that
    * is a hard single-executor bottleneck, so the shape is pinned by
    * KMeansSpec. */
  private[graft] def seedFirst(e: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.ensureRegistered(e.sparkSession)
    e.orderBy(hash32(concat(lit("km:"), col("__id").cast("string"))), col("__id"))
      .limit(1)
      .select(lit(0L).as("__cid"), col("__v").as("__c"))
  }
}
