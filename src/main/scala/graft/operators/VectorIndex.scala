package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Persisted IVF-PQ vector index — the artifact LIFECYCLE around the
  * ANN family (FAISS `IVFx,PQy` as tables, not a serving process):
  * [[build]] trains the coarse quantizer and the residual product
  * quantizer and encodes the corpus; [[save]]/[[load]] round-trip the
  * whole index as parquet (codes distributed and PARTITIONED BY CELL so
  * a probe reads only its cells' files; centroids/codebooks/meta are
  * KB-scale model tables); [[appendTo]] encodes NEW vectors with the
  * frozen model — one narrow pass, no retrain: the production ingest
  * path between periodic rebuilds; [[search]] probes the query's
  * nearest cells and ADC-scores ONLY their members in one distributed
  * pass (per-cell residual lookup tables built driver-side — probes·m·ks
  * rows — and broadcast into a codegen'd equi join); [[searchRerank]]
  * re-ranks the merged shortlist exactly against raw vectors.
  *
  * Scale shape at 100 TB: the hot artifact is the codes table (m bytes
  * per vector at ks=256 — 32× smaller than raw floats); a query touches
  * probes/cells of it via partition pruning, the model never exceeds
  * cells·dim + m·ks·(dim/m) floats (driver/broadcast-safe by
  * construction), and ingest is embarrassingly parallel. Raw embeddings
  * stay in cold storage, touched only for the shortlist rerank.
  * Composes [[KMeans.lloydCentroids]] + [[ProductQuantizer]] (Jégou et
  * al. TPAMI'11); residuals concentrate near zero so the same code
  * budget quantizes them tighter than raw vectors.
  */
object VectorIndex {

  /** A built or loaded index: KB-scale model state driver-held (exactly
    * what [[save]] persists to the model tables) plus the distributed
    * codes frame (id, cluster, codes). `rotation` (the OPQ d×d
    * orthogonal matrix, [[buildRotated]]) applies to corpus vectors
    * BEFORE cell assignment and PQ encode; queries rotate through the
    * same map at search time. Exact L2 reranks stay in RAW space — an
    * orthogonal rotation preserves every pairwise distance, so the
    * shortlist order is identical and raw vectors never need a rotated
    * copy on disk. */
  final case class Index(dim: Int, m: Int, ks: Int,
      centroids: Vector[(Long, Array[Float])],
      pq: ProductQuantizer.PqModel,
      codes: DataFrame,
      rotation: Option[Opq.OpqModel] = None)

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Nearest-cell id under (distance, cell id) — deterministic ties. */
  private def nearestCell(v: Array[Float],
      cents: Vector[(Long, Array[Float])]): Long = {
    var best = cents.head._1; var bestD = Double.MaxValue
    cents.foreach { case (c, ct) =>
      val d = sqDist(v, ct)
      if (d < bestD || (d == bestD && c < best)) { best = c; bestD = d }
    }
    best
  }

  /** Assignment-only narrow pass: (id, cluster) under a FROZEN coarse
    * quantizer — no PQ, no shuffle. The routing primitive the encode
    * path embeds, exposed for consumers that need cell ids without an
    * index build: filtered search over an ad-hoc corpus slice (q208),
    * re-shard planning, per-cell census. Ties break (distance, cell id)
    * exactly as [[encodeAll]] does, so an assignment computed here
    * matches the codes table of any index built on the same centroids. */
  def assignCells(embs: DataFrame, idCol: String, vecCol: String,
      cents: Vector[(Long, Array[Float])]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    embs.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, nearestCell(v, bcC.value)) }
      .toDF(idCol, "cluster")
  }

  /** ONE fused narrow pass: assign the nearest cell, residualize, and
    * PQ-encode — (id, cluster, codes). No shuffle, no join; this is both
    * the build encoder and the [[appendTo]] ingest path. */
  private def encodeAll(embs: DataFrame, idCol: String, vecCol: String,
      cents: Vector[(Long, Array[Float])],
      pq: ProductQuantizer.PqModel): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    val bcP = spark.sparkContext.broadcast(pq)
    embs.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bcC.value
        val mdl = bcP.value
        val cell = nearestCell(v, cs)
        val ct = cs.find(_._1 == cell).get._2
        val r = Array.tabulate(v.length)(i => v(i) - ct(i))
        val sub = mdl.subDim
        val codes = Array.tabulate(mdl.m) { j =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < mdl.codebooks(j).length) {
            val cb = mdl.codebooks(j)(c)
            var dist = 0.0; var t = 0
            while (t < sub) {
              val d = r(j * sub + t) - cb(t); dist += d * d; t += 1
            }
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          best
        }
        (id, cell, codes)
      }
      .toDF(idCol, "cluster", "codes")
  }

  /** Train coarse centroids + residual codebooks and encode the corpus.
    * Deterministic end to end (farthest-first seeding, fixed iters,
    * id-tie-broken assignments). */
  def build(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
      cells: Int, m: Int, ks: Int, iters: Int = 3): Index = {
    val e = embs.select(col(idCol), col(vecCol))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .transform(Cut(_))
    val cents = KMeans.lloydCentroids(e, idCol, vecCol, k = cells, iters = iters)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toVector
    buildWith(e, idCol, vecCol, dim, cents, m, ks, iters)
  }

  /** [[build]] with EXTERNALLY-SUPPLIED coarse centroids — the pluggable
    * coarse quantizer: production passes [[KMeans.lloydCentroids]] output
    * (what [[build]] does), a re-shard passes last epoch's frozen
    * centroids, and the oracle-gated lifecycle query (q199/q200) passes
    * driver-inlined literal centroids so an external SQL engine can
    * replicate the assignment exactly (the SemDeDup parametric-cells
    * pattern, q173/q186). Still trains the REAL residual product
    * quantizer and runs the real fused encode pass. */
  def buildWith(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
      cents: Vector[(Long, Array[Float])], m: Int, ks: Int,
      iters: Int = 3): Index = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val e = embs.select(col(idCol), col(vecCol))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
    // residualize once (narrow) to train the PQ on residuals
    val spark = e.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(cents)
    val resid = e.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val ct = bcC.value.find(_._1 == nearestCell(v, bcC.value)).get._2
        (id, Array.tabulate(v.length)(i => v(i) - ct(i)))
      }
      .toDF(idCol, "residual")
    // hash seeding: ONE pass instead of ks farthest-first rounds — the
    // right trainer shape for a ks-entry codebook over the full corpus
    // (Lloyd iterations repair seed spread; the recall gates in
    // VectorIndexSpec/IvfPqSpec hold under this mode and pin it)
    val pq = ProductQuantizer.train(resid, idCol, "residual", dim, m, ks,
      iters, seedMode = "hash")
    Index(dim, m, ks, cents, pq, encodeAll(e, idCol, vecCol, cents, pq))
  }

  /** FAISS `OPQx,IVFy,PQz`: fit the OPQ rotation (Ge et al. CVPR'13 —
    * [[Opq.fit]], one covariance pass + driver-side eigensolve), rotate
    * the corpus once (narrow map, no shuffle), and build the IVF-PQ
    * index in the rotated space, where each PQ subspace carries a
    * balanced share of the variance. Costs the corpus ONE extra narrow
    * pass at build and each query one d×d multiply at search — for the
    * ≥20% PQ-MSE cut OpqSpec pins. */
  def buildRotated(embs: DataFrame, idCol: String, vecCol: String,
      dim: Int, cells: Int, m: Int, ks: Int, iters: Int = 3): Index = {
    val e = embs.select(col(idCol), col(vecCol))
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .transform(Cut(_))
    val rot = Opq.fit(e, vecCol, dim, m)
    val rotated = Opq.transform(e, idCol, vecCol, rot)
    build(rotated, idCol, vecCol, dim, cells, m, ks, iters)
      .copy(rotation = Some(rot))
  }

  /** Persist the index: `path/codes` (partitioned by cluster — probes
    * prune to their cells' files), `path/centroids`, `path/codebooks`,
    * `path/meta`. Overwrites an existing index at `path`. */
  def save(idx: Index, idCol: String, path: String): Unit = {
    val spark = idx.codes.sparkSession
    import spark.implicits._
    // batch_id = -1 marks the build; appends land in their own batch_id
    // partitions so an at-least-once retry overwrites itself (dynamic
    // partition overwrite — the StreamingDedup idempotence contract)
    idx.codes.withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("batch_id", "cluster")
      .parquet(s"$path/codes")
    idx.centroids.map { case (c, ct) => (c, ct.toSeq) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for {
      j <- 0 until idx.pq.m
      c <- idx.pq.codebooks(j).indices
    } yield (j, c, idx.pq.codebooks(j)(c).toSeq))
      .toDF("j", "c", "subv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((idx.dim, idx.m, idx.ks, idCol))
      .toDF("dim", "m", "ks", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    // OPQ rotation, if any: row t = eigenvector at output position t;
    // row -1 carries the mean. O(d²) doubles — KBs.
    idx.rotation.foreach { r =>
      ((-1, 0.0, r.mean.toSeq) +:
        r.rows.indices.map(t => (t, r.eigvals(t), r.rows(t).toSeq)))
        .toDF("t", "eig", "vals")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    }
  }

  /** Schema of the persisted codes table (incl. the two partition
    * columns) — passed explicitly on read so an index saved from an
    * EMPTY corpus (a partitioned write of zero rows leaves no data
    * files to infer from) still loads as an empty frame. */
  def codesSchema(idCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idCol, LongType), StructField("codes", ArrayType(IntegerType)),
      StructField("batch_id", LongType), StructField("cluster", LongType)))
  }

  /** Load a saved index; model tables collect (KB by construction), the
    * codes frame stays a lazy partitioned scan. Returns (index, idCol). */
  def load(spark: SparkSession, path: String): (Index, String) = {
    graft.sources.ArtifactCommit.recoverSwapAt(spark, s"$path/codes")
    val meta = spark.read.parquet(s"$path/meta").collect().head
    val (dim, m, ks, idCol) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getString(3))
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toVector
    val cbRows = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toVector))
    val cbs = (0 until m).map { j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toVector
    }.toVector
    val codes = spark.read.schema(codesSchema(idCol)).parquet(s"$path/codes")
      .select(col(idCol), col("cluster").cast("long").as("cluster"), col("codes"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val rotation =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/rotation"))) {
        val rows = spark.read.parquet(s"$path/rotation").collect()
          .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2).toArray))
        val mean = rows.find(_._1 == -1).get._3
        val sorted = rows.filter(_._1 >= 0).sortBy(_._1)
        Some(Opq.OpqModel(mean, sorted.map(_._3), sorted.map(_._2)))
      } else None
    (Index(dim, m, ks, cents, ProductQuantizer.PqModel(m, ks, cbs), codes,
      rotation), idCol)
  }

  /** Ingest new vectors into a saved index with the FROZEN model: one
    * narrow encode pass into the codes table's `batch_id` partition via
    * DYNAMIC overwrite — deterministic content, so an at-least-once
    * retry of the same batch rewrites itself instead of duplicating
    * (the StreamingDedup idempotence contract). No retrain — centroid
    * drift is handled by periodic [[build]]s, the standard IVF serving
    * trade. Caller owns id uniqueness across batches. */
  def appendTo(path: String, idx: Index, idCol: String,
      embs: DataFrame, vecCol: String, batchId: Long): Unit = {
    graft.sources.ArtifactCommit.recoverSwapAt(embs.sparkSession, s"$path/codes")
    val in = idx.rotation match {
      case Some(r) => Opq.transform(
        embs.where(col(idCol).isNotNull && col(vecCol).isNotNull),
        idCol, vecCol, r)
      case None => embs
    }
    encodeAll(in, idCol, vecCol, idx.centroids, idx.pq)
      .withColumn("batch_id", lit(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cluster")
      .parquet(s"$path/codes")
  }

  /** Fold per-batch code partitions into the `batch_id=-1` baseline
    * when the partition listing itself becomes a cost (thousands of
    * streaming micro-batches): deterministic content, cluster
    * partitioning preserved, search results unchanged (the
    * StreamingCentroidMonitor.compact analog for the codes table). */
  def compactBatches(spark: SparkSession, path: String): Unit = {
    graft.sources.ArtifactCommit.recoverSwapAt(spark, s"$path/codes")
    val idCol = spark.read.parquet(s"$path/meta").collect().head.getString(3)
    val all = spark.read.schema(codesSchema(idCol)).parquet(s"$path/codes")
      .select(col(idCol), col("cluster"), col("codes"))
    // live-serving swap (round-7 ADVICE; the shared
    // [[graft.sources.ArtifactCommit.swap]] protocol): the replacement
    // table commits COMPLETELY in a sibling dir while the live codes
    // table keeps serving, the cutover is two checked renames with the
    // old table deleted LAST
    graft.sources.ArtifactCommit.swap(spark, s"$path/codes") { tmp =>
      all.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id", "cluster")
        .parquet(tmp)
    }
  }

  /** What a [[forget]] call did: rows removed, partitions rewritten in
    * place, partitions deleted outright (emptied by the removal). */
  final case class ForgetStats(nForgotten: Long, nPartsRewritten: Long,
    nPartsDeleted: Long)

  /** Right-to-be-forgotten DELETE on the persisted codes table — the
    * ACTING counterpart of q221's erasure audit (the census→action
    * pattern: q221 *reports* the per-(batch_id, cluster) footprint a
    * deletion list touches; this operator *rewrites exactly that
    * footprint* and nothing else). GDPR/CCPA erasure for a vector
    * store: after `forget`, no search path ([[search]], [[searchFlat]],
    * [[searchRerank]]) can ever return a forgotten id, because the id
    * is gone from the inverted file itself — not masked at query time.
    *
    * Mechanics: (1) one semi join finds the touched (batch_id, cluster)
    * partitions — a bounded driver list (batches × cells, partition
    * METADATA, not data); (2) the touched partitions' surviving rows are
    * anti-joined against the deletion list, materialized (through
    * [[graft.core.Cut]] — the frame must not lazily re-read the files it is about to
    * replace), and written back via DYNAMIC partition overwrite, so
    * untouched partitions keep their bytes; (3) partitions the deletion
    * EMPTIED (dynamic overwrite never sees them — zero output rows)
    * have their directories deleted explicitly. Crash-safe by
    * RETRY-IDEMPOTENCE rather than a global swap: each job commit is
    * all-or-nothing per partition, a crash between steps leaves the
    * forgotten ids still present in un-replaced partitions, and a rerun
    * of the SAME call converges (already-scrubbed partitions are no
    * longer touched; a second run after success is a no-op returning
    * zeros). The whole-table write-then-rename of [[compactBatches]]
    * would also work but rewrites every partition — wrong cost shape
    * when the erasure footprint is a few cells of a few batches.
    *
    * Scale shape at 100 TB: cost is O(touched partitions' data), not
    * O(index); the deletion list joins with NO forced broadcast (it is
    * externally sized — audit rule; AQE broadcasts real GDPR lists,
    * which are small). */
  def forget(spark: SparkSession, path: String, delIds: DataFrame,
      delCol: String): ForgetStats = {
    graft.sources.ArtifactCommit.recoverSwapAt(spark, s"$path/codes")
    val idCol = spark.read.parquet(s"$path/meta").collect().head.getString(3)
    val del = delIds.select(col(delCol).cast("long").as(idCol))
      .where(col(idCol).isNotNull).distinct()
    val codes = spark.read.schema(codesSchema(idCol)).parquet(s"$path/codes")
    val hit = codes.join(del, Seq(idCol), "left_semi")
    // touched partition list + forgotten-row count in ONE bounded agg
    val touched = hit.groupBy(col("batch_id"), col("cluster"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (touched.isEmpty) return ForgetStats(0L, 0L, 0L)
    val nForgotten = touched.map(_._3).sum
    val touchedPred = touched.map { case (b, c, _) =>
      col("batch_id") === b && col("cluster") === c
    }.reduce(_ || _)
    val remaining = codes.where(touchedPred)
      .join(del, Seq(idCol), "left_anti")
      .transform(Cut(_))
    val survivors = remaining.select(col("batch_id"), col("cluster"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    remaining
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cluster")
      .parquet(s"$path/codes")
    val fs = new org.apache.hadoop.fs.Path(s"$path/codes")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val emptied = touched.collect {
      case (b, c, _) if !survivors((b, c)) =>
        new org.apache.hadoop.fs.Path(
          s"$path/codes/batch_id=$b/cluster=$c")
    }
    emptied.foreach(fs.delete(_, true))
    ForgetStats(nForgotten, touched.length - emptied.length,
      emptied.length.toLong)
  }

  /** foreachBatch sink for streaming ingest: wire as
    * `vecStream.writeStream.foreachBatch(VectorIndex.ingestSink(path,
    * idx, idCol, vecCol))`. Each micro-batch is one narrow frozen-model
    * encode into its own batch_id partition — retry-stable per
    * [[appendTo]]. */
  def ingestSink(path: String, idx: Index, idCol: String,
      vecCol: String): (DataFrame, Long) => Unit =
    (batch, batchId) => appendTo(path, idx, idCol, batch, vecCol, batchId)

  /** foreachBatch sink for a streaming DELETION feed — the erasure
    * queue every GDPR pipeline drains ([[ingestSink]]'s inverse): each
    * micro-batch of ids is one [[forget]] call against the persisted
    * index. At-least-once safe by forget's own contract: a redelivered
    * batch finds its ids already gone and is a zero-op, a crashed batch
    * converges on retry. `delCol` names the id column of the stream. */
  def forgetSink(path: String, delCol: String): (DataFrame, Long) => Unit =
    (batch, _) => { forget(batch.sparkSession, path, batch, delCol); () }

  /** ADC top-k over the `probes` cells nearest to `query`, in ONE
    * distributed pass: the per-cell residual lookup tables (probes·m·ks
    * rows, exact doubles) broadcast into an equi join on
    * (cluster, subspace, code); cells not probed are pruned at the scan.
    * Returns (idCol, cluster, adc_dist2). */
  def search(idx: Index, idCol: String, query0: Array[Float],
      probes: Int, k: Int): DataFrame = {
    require(query0.length == idx.dim, s"query dim ${query0.length} != ${idx.dim}")
    // queries enter the index's space through the same rotation as the
    // corpus (identity when the index is unrotated)
    val query = idx.rotation.map(Opq.transformOne(query0, _)).getOrElse(query0)
    val spark = idx.codes.sparkSession
    import spark.implicits._
    val probed = idx.centroids
      .map { case (c, ct) => (c, sqDist(query, ct)) }
      .sortBy { case (c, d) => (d, c) }.take(probes).map(_._1)
    val sub = idx.pq.subDim
    val table = for {
      cell <- probed
      ct = idx.centroids.find(_._1 == cell).get._2
      j <- 0 until idx.pq.m
      c <- idx.pq.codebooks(j).indices
    } yield {
      var dist = 0.0; var t = 0
      while (t < sub) {
        val d = (query(j * sub + t) - ct(j * sub + t)) - idx.pq.codebooks(j)(c)(t)
        dist += d * d; t += 1
      }
      (cell, j, c, dist)
    }
    idx.codes.where(col("cluster").isin(probed: _*))
      .select(col(idCol), col("cluster"), posexplode(col("codes")).as(Seq("j", "c")))
      .join(broadcast(table.toDF("cluster", "j", "c", "sub_d2")),
        Seq("cluster", "j", "c"))
      .groupBy(col(idCol), col("cluster"))
      .agg(sum(col("sub_d2")).as("adc_dist2"))
      .orderBy(col("adc_dist2"), col(idCol))
      .limit(k)
  }

  /** IVF-Flat query path (FAISS `IVFx,Flat`): probe the nearest cells,
    * then rank EVERY member of those cells by exact L2 against the raw
    * vectors — no PQ approximation in the answer, the codes table used
    * purely as the partition-pruned inverted file. The exact-recall
    * complement of [[search]]/[[searchRerank]]: costs a raw-vector read
    * of the probed cells (≈ probes/cells of the corpus) instead of an
    * m-byte ADC scan, the right trade when the corpus fits hot storage
    * or recall must be exact within the probed region. The member-id
    * frame tracks corpus size, so the id join carries NO broadcast hint
    * (AQE decides; at 100 TB it's a shuffle join pruned to the probed
    * partitions). Returns (idCol, cluster, d2) — the top-k. */
  def searchFlat(idx: Index, raw: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], probes: Int, k: Int): DataFrame = {
    require(query.length == idx.dim, s"query dim ${query.length} != ${idx.dim}")
    import graft.functions.VectorFunctions.dot
    graft.expressions.GraftFunctions.ensureRegistered(raw.sparkSession)
    // probe selection happens in the index's (possibly rotated) space;
    // the exact rerank below stays in RAW space — orthogonal rotations
    // preserve L2, so the ranking is identical and `raw` needs no
    // rotated copy
    val qIdx = idx.rotation.map(Opq.transformOne(query, _)).getOrElse(query)
    val probed = idx.centroids
      .map { case (c, ct) => (c, sqDist(qIdx, ct)) }
      .sortBy { case (c, d) => (d, c) }.take(probes).map(_._1)
    val members = idx.codes.where(col("cluster").isin(probed: _*))
      .select(col(idCol), col("cluster"))
    val qlit = typedlit(query.toSeq)
    raw.join(members, Seq(idCol))
      .select(col(idCol), col("cluster"),
        (dot(col(vecCol), col(vecCol)) - lit(2.0) * dot(col(vecCol), qlit)
          + lit(query.map(x => x.toDouble * x).sum)).as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(k)
  }

  /** ADC shortlist → exact L2 rerank against raw vectors (the only
    * point raw floats are touched — a broadcast semi join of a few
    * dozen ids). Returns (idCol, d2). */
  def searchRerank(idx: Index, raw: DataFrame, idCol: String,
      vecCol: String, query: Array[Float], probes: Int, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    import graft.functions.VectorFunctions.dot
    graft.expressions.GraftFunctions.ensureRegistered(raw.sparkSession)
    val cands = search(idx, idCol, query, probes, shortlist).select(col(idCol))
    val qlit = typedlit(query.toSeq)
    raw.join(broadcast(cands), Seq(idCol))
      .select(col(idCol),
        (dot(col(vecCol), col(vecCol)) - lit(2.0) * dot(col(vecCol), qlit)
          + lit(query.map(x => x.toDouble * x).sum)).as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(k)
  }
}
