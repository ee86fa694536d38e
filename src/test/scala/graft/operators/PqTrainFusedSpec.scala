package graft.operators

import graft.SparkSpec
import graft.core.{JobTimer, Tables}
import org.apache.spark.sql.functions._

/** The fused PQ trainer ([[KMeans.lloydCentroidsGrouped]] over (id,
  * subspace, subvector) rows) must be a pure re-orchestration of the
  * sequential per-subspace fits: identical codebooks, far fewer driver
  * actions. Equality is asserted EXACTLY (bit-for-bit floats): every
  * step — salted-hash seed, farthest-first argmax, argmin assignment,
  * per-(cluster, dim) means — is deterministic and arithmetic-identical
  * between the two forms, so any drift means a semantic change, not
  * noise. The action count (JobTimer on the listener bus) is the scan
  * proxy: sequential training re-runs seeding + Lloyd per subspace, so
  * its action count grows ~m×; fused is flat in m. */
class PqTrainFusedSpec extends SparkSpec {

  private val Dim = 64
  private val M = 4
  private val Ks = 4

  /** The pre-fusion trainer — m sequential per-subspace
    * [[KMeans.lloydCentroids]] fits, m×(seeding+iters) corpus scans:
    * the equivalence reference for [[ProductQuantizer.train]]. */
  private def trainPerSubspace(embs: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, ks: Int,
      iters: Int): ProductQuantizer.PqModel = {
    val sub = dim / m
    val cbs = (0 until m).map { j =>
      KMeans.lloydCentroids(
          embs.select(col(idCol), slice(col(vecCol), j * sub + 1, sub).as("subv")),
          idCol, "subv", k = ks, iters = iters)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector)
        .sortBy(_._1).map(_._2).toVector
    }.toVector
    ProductQuantizer.PqModel(m, ks, cbs)
  }

  test("fused trainer reproduces the sequential per-subspace codebooks exactly") {
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(s, sfDir)
      .select($"vec_id", $"embedding").localCheckpoint()

    val timer = JobTimer.install(s)
    val seq = trainPerSubspace(
      e, "vec_id", "embedding", Dim, M, Ks, iters = 2)
    val seqActions = timer.entries.size
    val fused = ProductQuantizer.train(
      e, "vec_id", "embedding", Dim, M, Ks, iters = 2)
    val fusedActions = timer.entries.size - seqActions
    JobTimer.uninstall(s, timer)

    assert(fused.m == seq.m && fused.ks == seq.ks)
    assert(fused.codebooks == seq.codebooks,
      "fused codebooks must be bit-identical to the sequential fits")

    // the whole point: driver actions (≈ corpus scans) no longer scale
    // with m. Sequential is ~m× the fused count; assert a conservative
    // (m-1)× so fixed per-call overhead can't flake the gate.
    assert(fusedActions > 0 && seqActions >= (M - 1) * fusedActions,
      s"expected ~${M}x action drop, got sequential=$seqActions fused=$fusedActions")
  }
}
