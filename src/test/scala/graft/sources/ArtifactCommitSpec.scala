package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Pins the shared commit layer's crash-window contracts directly
  * (round-10 review findings): a swap() retry after a crash BETWEEN
  * the two renames must recover the complete replacement instead of
  * destroying the only remaining copies, and the ids-WAL staged-write
  * protocol must never leave a readable partial fallback. */
class ArtifactCommitSpec extends SparkSpec {

  private def dir(tag: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_commit_$tag").toString
    val hp = new Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(hp)
    p
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMarker(p: Path, content: String): Unit = {
    fsFor(p).mkdirs(p)
    val o = fsFor(p).create(new Path(p, "marker"), true)
    o.write(content.getBytes("UTF-8")); o.close()
  }

  private def marker(p: Path): String = {
    val in = fsFor(p).open(new Path(p, "marker"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Simulated crash states must reproduce what swap() leaves on disk:
    * a tmp whose write closure COMPLETED carries the _SWAP_READY
    * completeness marker (created before any rename). */
  private def ready(p: Path): Unit =
    fs.create(new Path(p, "_SWAP_READY"), true).close()

  test("swap retry after a crash between the two renames recovers the " +
    "replacement (review finding: deletes-first destroyed both copies)") {
    val d = dir("swaprec")
    val live = new Path(s"$d/table")
    writeMarker(live, "v1")
    // crash window: live→old happened, tmp→live did not
    ArtifactCommit.rename(fs, live, new Path(s"$d/table_compact_old"))
    writeMarker(new Path(s"$d/table_compact_tmp"), "v2")
    ready(new Path(s"$d/table_compact_tmp"))
    // a reader-side recovery alone must restore the replacement
    ArtifactCommit.recoverSwapAt(spark, live.toString)
    assert(marker(live) == "v2", "tmp (the complete replacement) wins")
    assert(!fs.exists(new Path(s"$d/table_compact_old")))
    assert(!fs.exists(new Path(live, "_SWAP_READY")),
      "recovery strips the marker from the promoted tree")
    // and a full retried swap() from the same torn state must converge
    ArtifactCommit.rename(fs, live, new Path(s"$d/table_compact_old"))
    writeMarker(new Path(s"$d/table_compact_tmp"), "v3")
    ready(new Path(s"$d/table_compact_tmp"))
    ArtifactCommit.swap(spark, live.toString) { tmp =>
      writeMarker(new Path(tmp), "v4")
    }
    assert(marker(live) == "v4", "retried swap lands the new write")
    assert(!fs.exists(new Path(s"$d/table_compact_tmp")) &&
      !fs.exists(new Path(s"$d/table_compact_old")))
    // defensive: only old survives -> pre-swap tree restored
    ArtifactCommit.rename(fs, live, new Path(s"$d/table_compact_old"))
    ArtifactCommit.recoverSwapAt(spark, live.toString)
    assert(marker(live) == "v4")
  }

  test("swap recovery never promotes a mid-write tmp corpse (r10 ADVICE: " +
    "no marker => no promotion; old restored when present)") {
    val d = dir("swapcorpse")
    val live = new Path(s"$d/table")
    // first-swap crash: live never existed, write died mid-flight —
    // the marker-less tmp must be discarded, not promoted as complete
    writeMarker(new Path(s"$d/table_compact_tmp"), "partial")
    ArtifactCommit.recoverSwapAt(spark, live.toString)
    assert(!fs.exists(live), "partial tmp is not promoted to live")
    assert(!fs.exists(new Path(s"$d/table_compact_tmp")),
      "the corpse is cleaned up")
    // crash mid-write of a RETRY while old holds the pre-swap tree:
    // restore old, drop the corpse
    writeMarker(new Path(s"$d/table_compact_old"), "v1")
    writeMarker(new Path(s"$d/table_compact_tmp"), "partial")
    ArtifactCommit.recoverSwapAt(spark, live.toString)
    assert(marker(live) == "v1", "pre-swap tree restored over the corpse")
    assert(!fs.exists(new Path(s"$d/table_compact_tmp")) &&
      !fs.exists(new Path(s"$d/table_compact_old")))
  }

  test("swap creates a tree that does not exist yet; a crash before its " +
    "only rename is recovered") {
    import graft.CrashFs
    val d = CrashFs.dir(spark, "firstswap")
    val live = new Path(s"$d/table")
    ArtifactCommit.swap(spark, live.toString) { tmp =>
      writeMarker(new Path(tmp), "v1")
    }
    assert(marker(live) == "v1")
    val fresh = new Path(s"$d/fresh")
    CrashFs.at(CrashFs.RenameTo, fresh.toString) {
      ArtifactCommit.swap(spark, fresh.toString) { tmp =>
        writeMarker(new Path(tmp), "v1")
      }
    }
    assert(!fsFor(fresh).exists(fresh))
    ArtifactCommit.recoverSwapAt(spark, fresh.toString)
    assert(marker(fresh) == "v1", "the ready tmp is promoted")
    assert(!fsFor(fresh).exists(new Path(fresh, "_SWAP_READY")) &&
      !fsFor(fresh).exists(new Path(s"$d/fresh_compact_tmp")))
  }

  test("ids WAL: the _new fallback is never overwritten in place — a " +
    "crash prefix always leaves a complete, superset sidecar readable") {
    val s = spark; import s.implicits._
    val d = dir("idswal")
    val ids = new Path(s"$d/_forget_pending_ids")
    ArtifactCommit.writeIdsWal(Seq(1L, 2L).toDF("docId"), ids)
    assert(ArtifactCommit.readIdsWal(s, ids, "docId").get
      .as[Long].collect().toSet == Set(1L, 2L))
    // crash window A: live deleted, _new complete (pre-promote state):
    // simulate by moving live to _new
    ArtifactCommit.rename(fs, ids, new Path(s"$d/_forget_pending_ids_new"))
    assert(ArtifactCommit.readIdsWal(s, ids, "docId").get
      .as[Long].collect().toSet == Set(1L, 2L), "_new fallback readable")
    // crash window B: a retry died mid-write of its STAGED dir while
    // _new still holds the committed set — the stale staged dir must
    // never shadow it
    fs.mkdirs(new Path(s"$d/_forget_pending_ids_staged"))
    val o = fs.create(
      new Path(s"$d/_forget_pending_ids_staged/part-garbage.parquet"), true)
    o.write(Array[Byte](1, 2, 3)); o.close()
    assert(ArtifactCommit.readIdsWal(s, ids, "docId").get
      .as[Long].collect().toSet == Set(1L, 2L),
      "partial staged dir is invisible to readers")
    // a retried writeIdsWal from exactly this torn state converges to
    // the union its caller computed
    ArtifactCommit.writeIdsWal(Seq(1L, 2L, 3L).toDF("docId"), ids)
    assert(ArtifactCommit.readIdsWal(s, ids, "docId").get
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    ArtifactCommit.clearIdsWal(fs, ids)
    assert(ArtifactCommit.readIdsWal(s, ids, "docId").isEmpty)
    assert(!fs.exists(new Path(s"$d/_forget_pending_ids_staged")))
  }

  test("suffix-index meta swap recovery: a forget retry after the meta " +
    "crash window converges instead of throwing 'no suffix index'") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val d = dir("metarec")
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
      posexplode(split(trim($"text"), "\\s+"))).toDF("doc_id", "pos", "tok")
    graft.operators.SuffixIndex.ensure(s"$d/ix", docs, toks)
    // simulate forget's meta-swap crash window: meta moved aside, the
    // complete replacement sits in the swap tmp, WALs still pending
    ArtifactCommit.rename(fs, new Path(s"$d/ix/meta"),
      new Path(s"$d/ix/meta_compact_tmp"))
    ready(new Path(s"$d/ix/meta_compact_tmp"))
    val o = fs.create(new Path(s"$d/ix/_forget_pending"), true)
    o.write("0\n".getBytes("UTF-8")); o.close()
    Seq(2L).toDF("doc_id").coalesce(1)
      .write.parquet(s"$d/ix/_forget_pending_ids")
    val stats = graft.operators.SuffixIndex.forget(s, s"$d/ix",
      Seq.empty[Long].toDF("gone"), "gone")
    assert(stats.nDocsForgotten == 1L, "retry converges off the WALs")
    assert(graft.operators.SuffixIndex.readMeta(s, s"$d/ix").nonEmpty)
  }

  test("concurrent ensure on one dir: exactly ONE build, both threads " +
    "serve (round 12, VERDICT r11 #7 — previously scheduling luck)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val d = dir("race")
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def toks = {
      builds.incrementAndGet()
      docs.select($"doc_id",
        posexplode(split(trim($"text"), "\\s+"))).toDF("doc_id", "pos", "tok")
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    val fut = (1 to 2).map(_ => Future {
      gate.await()
      graft.operators.SuffixIndex.ensure(s"$d/ix", docs, toks).count()
    })
    gate.countDown()
    val counts = fut.map(Await.result(_, Duration.Inf))
    assert(builds.get() == 1,
      s"whoever enters first builds; the other must serve (got ${builds.get()} builds)")
    assert(counts.toSet == Set(11L), "both threads serve the full table")
    // BandIndex.ensure under the same race: serialized check-then-build
    // leaves a consistent artifact both threads can classify against
    val bfut = (1 to 2).map(_ => Future {
      graft.operators.BandIndex.ensure(s"$d/band", docs, "doc_id", "text",
        k = 3, nh = 16, b = 4, r = 4)
    })
    bfut.foreach(Await.result(_, Duration.Inf))
    val verdicts = graft.operators.BandIndex.classify(s, s"$d/band",
      docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts.values.forall(_ == "exact_dup"),
      "the index must witness its own build slice exactly once")
  }
}
