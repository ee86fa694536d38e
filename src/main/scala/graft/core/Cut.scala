package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The engine's one lineage cut: every materialisation in the engine
  * goes through here, so how lineage is cut is decided in one place.
  *
  * Storage follows the master the session runs under. In local mode
  * (`SparkContext.isLocal`) a cut is exactly `Dataset.localCheckpoint()`
  * (blocks at Spark's local-checkpoint default, MEMORY_AND_DISK). On any
  * other master the blocks go to DISK_ONLY_2: a local checkpoint drops
  * the lineage, so a cut whose only copy sat on a lost executor could
  * not be recomputed; a second replica on another executor's disk
  * survives that loss (the RDD recovery model, Zaharia et al. NSDI'12).
  */
object Cut {

  /** Eager cut, as `ds.localCheckpoint()`: runs the plan once (one job
    * when the plan has no exchange), and the returned leaf keeps Spark's
    * origin statistics and the output partitioning and ordering — so
    * downstream plans are those of a direct `localCheckpoint`. Safe to
    * use before deleting the files `ds` was read from. */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    cut(ds, ds.sparkSession.sparkContext.isLocal)

  /** Lazy cut that also RESETS plan statistics: an RDD round trip, so
    * the leaf gets fresh default stats instead of the stats of the plan
    * it replaces, and the first action fills the checkpoint once.
    * `Dataset.localCheckpoint` keeps the pre-cut plan's estimates, and
    * Catalyst's size-only visitor estimates a join as the PRODUCT of its
    * children's sizeInBytes — an iterative self-join ladder compounds
    * that BigInt multiplicatively (digits roughly ×4 per doubling round;
    * by round 7 the driver spent 20+ min in BigInteger.multiply planning
    * the next level on a 2k-position fixture, see SuffixRank). Fresh
    * stats keep the arithmetic constant-size; AQE still re-plans
    * downstream joins from runtime sizes. Plans built on this leaf
    * differ from those on an [[apply]] cut, hence the separate entry.
    * An UnsafeRow-level round trip (`queryExecution.toRdd` +
    * `internalCreateDataFrame`, skipping both Row conversions) measured
    * neutral on SuffixRank's three-long frames; it only pays on wide
    * rows. */
  def freshStats(df: DataFrame): DataFrame =
    freshStatsCut(df, df.sparkSession.sparkContext.isLocal)

  /** [[apply]] with the storage rule's branch chosen by `local`. */
  private[graft] def cut[T](ds: Dataset[T], local: Boolean): Dataset[T] =
    atCaller(ds.sparkSession.sparkContext) {
      if (local) ds.localCheckpoint()
      else ds.localCheckpoint(eager = true, storageLevel = Replicated)
    }

  /** [[freshStats]] with the storage rule's branch chosen by `local`. */
  private[graft] def freshStatsCut(df: DataFrame, local: Boolean): DataFrame = {
    val rdd = df.rdd
    if (!local) rdd.persist(Replicated)
    rdd.localCheckpoint()
    df.sparkSession.createDataFrame(rdd, df.schema)
  }

  private val Replicated = StorageLevel.DISK_ONLY_2
  private val CallSiteShort = "callSite.short"

  /** Class-name prefixes of frames between the stack walk and the
    * caller: the walk itself, this object, Scala and Spark. */
  private val notCaller =
    Seq("java.lang.Thread", getClass.getName, "scala.", "org.apache.spark.")

  /** Runs `body` with its jobs' call site naming the code that called
    * Cut ("localCheckpoint at KMeans.scala:74", as a direct call reads),
    * not a line of this file. A call site already set by an enclosing
    * caller (a streaming batch's) is left as it is. */
  private def atCaller[A](sc: SparkContext)(body: => A): A =
    if (sc.getLocalProperty(CallSiteShort) != null) body
    else {
      Thread.currentThread.getStackTrace
        .find(f => !notCaller.exists(f.getClassName.startsWith))
        .foreach(f => sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
      try body finally sc.setLocalProperty(CallSiteShort, null)
    }
}
