package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.core.Cut

/** The ONE commit/manifest protocol layer shared by every persisted
  * artifact (VERDICT r9 #5): [[graft.operators.SeqPacker]] (shard
  * export), [[graft.streaming.StreamingExport]] (streaming export),
  * [[graft.operators.VectorIndex]] (IVF-PQ index),
  * [[graft.operators.SuffixIndex]] (exact-substring index),
  * [[graft.operators.BandIndex]], the BPE vocabulary,
  * [[graft.streaming.StreamingCentroidMonitor]] and
  * [[ParquetUpsertStore]] all commit through these primitives, so a
  * protocol fix lands everywhere at once (round 9's unchecked-rename
  * and footprint-only-WAL findings each had to be hunted across call
  * sites — exactly the failure mode a shared layer removes).
  *
  * Primitives (reference: the reference engine's nightly report jobs
  * re-run whole HiveQL pipelines for crash recovery —
  * `homed/repots/DemandReport.scala`-family; a library artifact store
  * needs real commit protocols instead):
  *
  *  - [[swap]]: THE whole-tree replace, for offline builds and
  *    live-serving trees alike. The replacement commits completely in
  *    the sibling `<live>_compact_tmp` while the live tree (if any)
  *    keeps serving; a `_SWAP_READY` marker proves the write finished;
  *    the cutover is two checked renames (live → `<live>_compact_old`,
  *    tmp → live) with the old tree deleted LAST. A crash at any step
  *    leaves a complete tree on disk: the pre-swap one, or the
  *    replacement one rename away. Owners call [[recoverSwapAt]] before
  *    they first read or write a swapped tree, so a torn cutover
  *    serves instead of reading as absent; [[swap]] itself recovers on
  *    entry.
  *  - footprint WAL ([[writeFootprint]]/[[readFootprint]]): the
  *    partition-scoped erasure intent record — tab-separated key tuples
  *    written BEFORE any mutation, cleared only after the final commit
  *    phase, unioned into a retry's own footprint so a crashed run's
  *    partitions are re-finished.
  *  - ids WAL ([[writeIdsWal]]/[[readIdsWal]]/[[clearIdsWal]]): the
  *    deletion ids themselves as a parquet sidecar. The footprint alone
  *    is NOT a sufficient WAL for erasure: dynamic partition overwrite
  *    never rewrites a zero-survivor partition, so in the window
  *    between the overwrite and the emptied-dir deletes those
  *    partitions still hold the condemned rows — a retry whose fresh
  *    deletion list no longer hits them would rewrite them as survivors
  *    and clear the WAL (the round-9 ADVICE finding). Persisting the
  *    ids lets any retry union them in and converge regardless of its
  *    own list.
  *
  * All renames are CHECKED and live in this file (ArtifactGuardSpec
  * keeps it so): Hadoop `FileSystem.rename` returns false instead of
  * throwing in several failure cases, and an unchecked false turns a
  * failed commit into a silent no-op.
  */
object ArtifactCommit {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-artifact-dir JVM mutex (round 12, VERDICT r11 #7): the
    * shared-artifact contract ("whoever runs first builds; the others
    * serve") was previously held up by scheduling luck — two threads
    * entering `ensure` on the same dir concurrently would BOTH see a
    * stale fingerprint and race their swaps (one thread's tmp-tree
    * delete clobbering the other's half-written build). Serializing
    * check-then-build per canonical dir path makes the second thread
    * re-check freshness after the first's swap and serve instead.
    * Java monitors are reentrant, so a locked `compact` may call a
    * locked `forget` on the same dir. JVM-scoped by design: the
    * driver/bench/test regime runs one JVM; coordinating across
    * DRIVERS would need an FS lease or a single build owner
    * (documented out of scope — a multi-driver deployment must not
    * point two concurrent builders at one artifact dir). */
  def withDirLock[T](dir: String)(body: => T): T =
    dirLocks.computeIfAbsent(new Path(dir).toString, _ => new Object)
      .synchronized(body)

  /** Checked rename — a false return fails loud. */
  def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename $from -> $to failed")

  /** Sibling-dir suffix of every [[swap]]: `<live>_compact_tmp` and
    * `<live>_compact_old`. The name predates the offline-build callers;
    * keeping it means leftovers of earlier crashes are still recognized
    * and cleaned. */
  private val SWAP_SUFFIX = "_compact"

  private def swapTmp(live: Path): Path = new Path(live.toString + SWAP_SUFFIX + "_tmp")
  private def swapOld(live: Path): Path = new Path(live.toString + SWAP_SUFFIX + "_old")

  /** Whole-tree replace: `write` receives the tmp root and must commit
    * the COMPLETE replacement under it; then live→old (skipped when
    * there is no live tree yet), tmp→live, old deleted last.
    *
    * Entry FIRST finishes a prior run's interrupted cutover
    * ([[recoverSwapDir]]): a crash between the two renames leaves live
    * missing with tmp (and old) complete, and deleting those
    * "leftovers" before recovering would destroy the only remaining
    * complete copies — every retry would then fail its live→old rename
    * forever (a checked-rename regression the round-10 review caught:
    * the old unchecked code accidentally self-healed). */
  def swap(spark: SparkSession, livePath: String)(write: String => Unit): Unit = {
    val live = new Path(livePath)
    val tmp = swapTmp(live)
    val old = swapOld(live)
    val fs = fsOf(spark, livePath)
    recoverSwapDir(fs, live)
    fs.delete(tmp, true); fs.delete(old, true) // stale crash leftovers
    write(tmp.toString)
    // completeness marker, created only AFTER the write closure commits:
    // recovery must never promote a tmp whose write died mid-flight
    // (provable when live never existed — the r10 ADVICE window; the
    // "_"-prefix keeps it invisible to parquet readers)
    fs.create(new Path(tmp, SWAP_READY), true).close()
    if (fs.exists(live)) rename(fs, live, old)
    rename(fs, tmp, live)
    fs.delete(new Path(live, SWAP_READY), false)
    fs.delete(old, true)
  }

  private val SWAP_READY = "_SWAP_READY"

  /** Finish an interrupted [[swap]] cutover: live missing ⟹ the crash
    * fell between the two renames, so tmp holds the COMPLETE
    * replacement — provable by its `_SWAP_READY` marker (written only
    * after the write closure returns; without it a tmp is a mid-write
    * corpse and must be discarded, not promoted) — rename it in and
    * drop old; else if old survives, restore the pre-swap tree (covers
    * both the defensive case and a marker-less tmp beside a complete
    * old). Callers that READ a swapped path outside swap() (e.g. a
    * meta table consulted before the next swap runs) call this first
    * so a torn artifact serves instead of reading as absent. */
  private def recoverSwapDir(fs: FileSystem, live: Path): Unit =
    if (!fs.exists(live)) {
      val tmp = swapTmp(live)
      val old = swapOld(live)
      if (fs.exists(new Path(tmp, SWAP_READY))) {
        rename(fs, tmp, live)
        fs.delete(new Path(live, SWAP_READY), false)
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        fs.delete(tmp, true) // mid-write corpse, if any
        rename(fs, old, live)
      } else fs.delete(tmp, true) // first-swap mid-write crash: nothing
                                  // complete survives; path reads absent
    }

  /** [[recoverSwapDir]] by live path (the [[swap]] sibling naming). */
  def recoverSwapAt(spark: SparkSession, livePath: String): Unit =
    recoverSwapDir(fsOf(spark, livePath), new Path(livePath))

  /** Erasure-intent footprint WAL: one tab-separated line per touched
    * partition key tuple, written atomically enough for a text file
    * (single create call) BEFORE any mutation. */
  def writeFootprint(fs: FileSystem, path: Path,
      rows: Seq[Seq[String]]): Unit = {
    val out = fs.create(path, true)
    try out.write(rows.map(_.mkString("\t"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read a pending footprint WAL (empty if absent). */
  def readFootprint(fs: FileSystem, path: Path): Seq[Array[String]] =
    if (!fs.exists(path)) Seq.empty
    else {
      val in = fs.open(path)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      txt.linesIterator.filter(_.nonEmpty).map(_.split('\t')).toSeq
    }

  private def idsNewPath(idsPath: Path): Path =
    new Path(idsPath.toString + "_new")

  private def idsStagedPath(idsPath: Path): Path =
    new Path(idsPath.toString + "_staged")

  /** Persist a parquet sidecar FRAME crash-safely against an existing
    * one: the fresh frame commits to `<path>_staged` (which
    * [[readFrameWal]] NEVER reads — writing over the `_new` fallback in
    * place would let a crash leave a PARTIAL fallback that reads as a
    * subset of committed rows, the round-10 review's finding), then
    * promotes `_staged` → `_new` → `<path>` via delete+rename pairs.
    * Any crash prefix leaves a readable complete sidecar: the live
    * path survives until a complete `_new` exists, and `_new` survives
    * until the live rename. The round-12 review found
    * [[graft.operators.SuffixIndex.compact]] hand-rolling a
    * delete-then-rename version of this (a crash between its delete
    * and rename orphaned the only copy of quarantined docs in the
    * never-read `_staged`) — generalizing the ids protocol to any
    * frame is the fix, per CLAUDE.md's no-hand-rolled-sidecars rule. */
  def writeFrameWal(df: DataFrame, path: Path): Unit = {
    val spark = df.sparkSession
    val fs = fsOf(spark, path.toString)
    val staged = idsStagedPath(path)
    val neu = idsNewPath(path)
    df.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(staged.toString)
    fs.delete(neu, true)
    rename(fs, staged, neu)
    fs.delete(path, true)
    rename(fs, neu, path)
  }

  /** Read a pending sidecar frame if one exists (falling back to
    * `_new` if a crash landed between the old sidecar's delete and the
    * rename; `_staged` is never read — it may be partial). */
  def readFrameWal(spark: SparkSession, path: Path,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val fs = fsOf(spark, path.toString)
    val src =
      if (fs.exists(path)) Some(path)
      else if (fs.exists(idsNewPath(path))) Some(idsNewPath(path))
      else None
    src.map(p => spark.read.schema(schema).parquet(p.toString))
  }

  /** True iff [[readFrameWal]] would find a sidecar (live or `_new`),
    * or a mid-write `_staged` corpse exists (a retry will rewrite it —
    * callers treating the WAL as "work pending" must not serve a
    * fresh-looking state past it). */
  def frameWalPending(fs: FileSystem, path: Path): Boolean =
    fs.exists(path) || fs.exists(idsNewPath(path)) ||
      fs.exists(idsStagedPath(path))

  /** The deletion-ids specialization of [[writeFrameWal]]. */
  def writeIdsWal(del: DataFrame, idsPath: Path): Unit =
    writeFrameWal(del, idsPath)

  /** The deletion-ids specialization of [[readFrameWal]] (single long
    * column named `idCol`). */
  def readIdsWal(spark: SparkSession, idsPath: Path,
      idCol: String): Option[DataFrame] =
    readFrameWal(spark, idsPath, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType))))

  /** Corpus fingerprint for freshness-gated artifacts
    * ([[graft.operators.SuffixIndex]], [[graft.operators.BandIndex]]):
    * (xor-hash, count) over `(doc_id, text)` AFTER the caller's
    * filters — order-free (xor), one narrow agg, O(corpus) cheap
    * against any artifact build. */
  def corpusFingerprint(docs: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = docs.agg(
      coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L))
        .as("fp"),
      count(lit(1)).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Drop both ids-sidecar paths (post-success, or when nothing is
    * pending). */
  def clearIdsWal(fs: FileSystem, idsPath: Path): Unit = {
    fs.delete(idsPath, true)
    fs.delete(idsNewPath(idsPath), true)
    fs.delete(idsStagedPath(idsPath), true)
  }

  /** Sidecar that carries a pending erasure commitment ACROSS a
    * whole-tree rebuild. It lives OUTSIDE the artifact dir: [[swap]]
    * deletes the whole old tree (in-tree `_forget_pending*` WALs
    * included), so a crash between the swap and the re-applied
    * forget's own WAL write would otherwise permanently drop committed
    * deletion ids (the r10 ADVICE medium finding). */
  def rebuildPendingPath(dir: String): Path =
    new Path(dir + "_rebuild_pending_ids")

  /** True iff ANY erasure WAL is pending at `dir` — the in-tree
    * footprint, the in-tree ids sidecar (or its `_new` fallback —
    * forget() writes ids BEFORE the footprint, so ids-without-footprint
    * is a reachable crash prefix), or the out-of-tree rebuild sidecar.
    * A fresh-looking fingerprint must never serve while any of these
    * exist: the stored tree may still witness condemned docs. */
  def erasurePending(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    def ex(p: String) = fs.exists(new Path(p))
    ex(s"$dir/_forget_pending") || ex(s"$dir/_forget_pending_ids") ||
      ex(s"$dir/_forget_pending_ids_new") ||
      ex(s"$dir/_forget_pending_ingest") ||
      ex(rebuildPendingPath(dir).toString) ||
      ex(rebuildPendingPath(dir).toString + "_new")
  }

  /** Rebuild an artifact WITHOUT losing a pending erasure commitment:
    * union the in-tree ids WAL with any prior rebuild sidecar, persist
    * the union OUTSIDE the tree, run `build` (which may destroy the
    * in-tree WALs via [[swap]]), re-apply via `applyForget`, and
    * clear the sidecar only after the forget completed. Every crash
    * prefix leaves either the original WALs or the external sidecar
    * readable, so a retry converges. */
  def rebuildWithPending(spark: SparkSession, dir: String, idCol: String)
      (build: => Unit)(applyForget: DataFrame => Unit): Unit = {
    val fs = fsOf(spark, dir)
    val ext = rebuildPendingPath(dir)
    val inTree = new Path(s"$dir/_forget_pending_ids")
    val pending = (readIdsWal(spark, ext, idCol).toSeq ++
      readIdsWal(spark, inTree, idCol).toSeq)
      .reduceOption(_.unionByName(_).distinct())
      .map(Cut(_)) // the files behind it are about to go
    pending.foreach(ids => writeIdsWal(ids, ext))
    build
    pending.foreach(applyForget)
    clearIdsWal(fs, ext)
  }
}
