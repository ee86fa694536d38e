package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-bound scale path
  * of the ANN family (q51 brute / q52 hyperplane-LSH / q53 IVF cover
  * the compute-bound paths): split each d-dim vector into `m`
  * subvectors, k-means a `ks`-entry codebook per subspace, and store
  * each vector as `m` small codes (m bytes at ks=256) — a 64-dim float
  * vector compresses 32× at m=8. Asymmetric distance (ADC) then scores
  * a query against COMPRESSED vectors: one m×ks lookup table of exact
  * query-to-centroid sub-distances, and each candidate costs m table
  * lookups instead of d multiplies.
  *
  * Scale shape: training slices the corpus ONCE into (id, subspace,
  * subvector) rows and fits all m codebooks simultaneously with the
  * group-keyed [[KMeans.lloydCentroidsGrouped]] — one set of
  * seeding/Lloyd passes total, instead of m sequential
  * [[KMeans.lloydCentroids]] fits re-scanning the corpus m×(seeds +
  * iters) times (PqTrainFusedSpec proves codebook equality and
  * measures the action-count drop); the model is m×ks×(d/m) floats — a
  * few KB — broadcast, never a driver data collect. Encoding is one narrow
  * typed map (embarrassingly parallel, no shuffle). ADC search explodes
  * codes to (id, subspace, code) rows and equi-joins the BROADCAST
  * lookup table, then one grouped sum + TakeOrdered — codegen'd
  * end-to-end, no interpreted HOF touches a corpus-sized row. At 100 TB
  * the encoded table is what lives hot (32× smaller than raw vectors);
  * raw embeddings stay in cold storage for optional re-ranking. */
object ProductQuantizer {

  /** Trained model: `codebooks(j)(c)` = centroid `c` of subspace `j`
    * (each of length d/m). Driver-held, broadcast at use sites. */
  final case class PqModel(m: Int, ks: Int, codebooks: Vector[Vector[Vector[Float]]]) {
    def subDim: Int = codebooks.head.head.length
  }

  /** Fit one codebook per subspace over `embs(idCol, vecCol)`. `dim`
    * must be divisible by `m`. Deterministic: inherits KMeans'
    * farthest-first seeding and fixed iteration count. All m codebooks
    * train in ONE fused set of passes (slice once → group-keyed Lloyd);
    * scan count is independent of m. */
  def train(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int, ks: Int, iters: Int = 3,
      seedMode: String = "farthest"): PqModel = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val slices = embs.select(col(idCol),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), slice(col(vecCol), j * sub + 1, sub).as("subv"))): _*)).as("s"))
      .select(col(idCol), col("s.j").as("j"), col("s.subv").as("subv"))
    val rows = KMeans.lloydCentroidsGrouped(slices, "j", idCol, "subv",
        k = ks, iters = iters, seedMode = seedMode)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector))
    val cbs = (0 until m).map { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3).toVector
    }.toVector
    PqModel(m, ks, cbs)
  }

  /** Encode every vector as its `m` nearest-sub-centroid codes:
    * (idCol, codes array<int>). Narrow typed map over a broadcast
    * model — no shuffle. */
  def encode(embs: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    embs.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val mdl = bc.value
        val sub = mdl.subDim
        val codes = Array.tabulate(mdl.m) { j =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < mdl.codebooks(j).length) {
            val cb = mdl.codebooks(j)(c)
            var dist = 0.0; var t = 0
            while (t < sub) {
              val df = v(j * sub + t) - cb(t); dist += df * df; t += 1
            }
            // strict < keeps the smallest code on ties — deterministic
            if (dist < bestD) { bestD = dist; best = c }
            c += 1
          }
          best
        }
        (id, codes)
      }
      .toDF(idCol, "codes")
  }

  /** ADC top-k: the `k` encoded vectors nearest to `query` by the
    * quantized L2 distance. Returns (idCol, adc_dist2). */
  def search(encoded: DataFrame, idCol: String, query: Array[Float],
      model: PqModel, k: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    require(query.length == model.m * model.subDim,
      s"query dim ${query.length} != model dim ${model.m * model.subDim}")
    val sub = model.subDim
    // exact query→sub-centroid distance table, built driver-side:
    // m×ks rows, broadcast into a codegen'd equi join
    val table = for {
      j <- 0 until model.m
      c <- 0 until model.codebooks(j).length
    } yield {
      var dist = 0.0; var t = 0
      while (t < sub) {
        val df = query(j * sub + t) - model.codebooks(j)(c)(t); dist += df * df; t += 1
      }
      (j, c, dist)
    }
    val tableDf = table.toDF("j", "c", "sub_d2")
    encoded.select(col(idCol), posexplode(col("codes")).as(Seq("j", "c")))
      .join(broadcast(tableDf), Seq("j", "c"))
      .groupBy(col(idCol))
      .agg(sum(col("sub_d2")).as("adc_dist2"))
      .orderBy(col("adc_dist2"), col(idCol))
      .limit(k)
  }

  /** The production PQ pipeline: ADC prunes the corpus to a `shortlist`
    * of candidates from COMPRESSED codes only, then the exact L2 rank
    * runs on just those candidates' raw vectors (a broadcast semi join —
    * at 100 TB this is the only point raw vectors are touched, for a
    * few dozen rows per query). Quantization error then costs recall
    * only when a true neighbor falls outside the whole shortlist, not
    * whenever ADC misorders two tight neighbors. Returns the exact-
    * ranked top `k` as (idCol, d2). */
  def searchRerank(encoded: DataFrame, raw: DataFrame, idCol: String,
      vecCol: String, query: Array[Float], model: PqModel, k: Int,
      shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    import graft.functions.VectorFunctions.dot
    val cands = search(encoded, idCol, query, model, shortlist).select(col(idCol))
    val qlit = typedlit(query.toSeq)
    raw.join(broadcast(cands), Seq(idCol))
      .select(col(idCol),
        // ‖x−q‖² = x·x − 2·x·q + q·q, all in double via graft_fdot
        (dot(col(vecCol), col(vecCol)) - lit(2.0) * dot(col(vecCol), qlit)
          + lit(query.map(x => x.toDouble * x).sum)).as("d2"))
      .orderBy(col("d2"), col(idCol))
      .limit(k)
  }
}
