package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[SeqPacker.writeShards]]/[[SeqPacker.readShards]] — the
  * export layer q249 drives: faithful round trip, manifest/file
  * agreement, retry-idempotence after both crash and success (the
  * VectorIndex tmp-swap pattern), and the empty-export read path
  * (explicit schemas, no parquet inference failure). */
class SeqShardWriterSpec extends SparkSpec {

  import SeqPacker.Piece

  private def dir(tag: String): String = java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"), s"graft_shardspec_$tag").toString

  private def fixturePacked = {
    val s = spark
    import s.implicits._
    val ps = Seq(
      Piece("en", 0L, 0L, 0L, 1L, 400L), Piece("en", 0L, 1L, 0L, 2L, 200L),
      Piece("en", 0L, 2L, 0L, 3L, 512L), Piece("en", 1L, 0L, 0L, 4L, 100L),
      Piece("fr", 0L, 0L, 0L, 5L, 300L), Piece("fr", 0L, 1L, 0L, 6L, 300L),
      Piece("fr", 0L, 2L, 0L, 7L, 100L)).toDS()
    SeqPacker.pack(ps, 512)
  }

  test("round trip: read-back placement rows equal the packed frame") {
    val s = spark
    val d = dir("rt")
    val packed = fixturePacked
    SeqPacker.writeShards(packed, d)
    val (files, man) = SeqPacker.readShards(s, d)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("lang", "bucket", "ord1", "ord2", "docId", "size", "seq")
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(key(files) == key(packed.toDF()), "placement rows must survive")
    // manifest equals an independent recomputation from the FILES
    val recomputed = SeqPacker.manifest(files)
    assert(recomputed.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq ==
      man.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      "manifest must equal the census of what was actually written")
    // data layout is directory-partitioned by (lang, bucket)
    val root = new java.io.File(s"$d/data")
    assert(root.listFiles().exists(f => f.getName.startsWith("lang=")),
      "data must be partitioned by lang")
  }

  test("retry-idempotent: rerun after success and after a simulated " +
    "crash both converge; stale tmp never leaks into the export") {
    val s = spark
    val d = dir("retry")
    val packed = fixturePacked
    SeqPacker.writeShards(packed, d)
    val first = SeqPacker.readShards(s, d)._1.collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // simulated crash: a half-built tmp from a dead attempt
    val tmp = new java.io.File(d + "_compact_tmp/data")
    tmp.mkdirs()
    val junk = new java.io.File(tmp, "part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    SeqPacker.writeShards(packed, d)
    val second = SeqPacker.readShards(s, d)._1.collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(second == first, "rerun must converge to identical content")
    assert(!new java.io.File(d + "_compact_tmp").exists(), "tmp must be swapped away")
    assert(!new java.io.File(s"$d/data/part-junk.parquet").exists() &&
      SeqPacker.readShards(s, d)._1.count() == first.size,
      "crashed-attempt junk must not survive into the export")
  }

  private def md5Of(dir: java.io.File): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Seq.empty
    walk(dir).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getPath -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    }.toMap
  }

  test("forgetShards: bounded erasure — ids gone, touched shards " +
    "repacked, untouched shards byte-identical, emptied dir removed") {
    val s = spark
    import s.implicits._
    val d = dir("forget")
    SeqPacker.writeShards(fixturePacked, d)
    val frBefore = md5Of(new java.io.File(s"$d/data/lang=fr"))
    // doc 2 lives in (en,0); doc 4 is ALONE in (en,1) -> emptied
    val stats = SeqPacker.forgetShards(s, d,
      Seq(2L, 4L).toDF("doc_id"), "doc_id", 512)
    assert(stats == SeqPacker.ForgetShardStats(2L, 1L, 1L))
    val (files, man) = SeqPacker.readShards(s, d)
    assert(files.where(col("docId").isin(2L, 4L)).count() == 0,
      "forgotten ids must not survive")
    assert(!new java.io.File(s"$d/data/lang=en/bucket=1").exists(),
      "emptied shard dir must be deleted")
    assert(man.where(col("lang") === "en" && col("bucket") === 1L)
      .count() == 0, "emptied shard's manifest row must be gone")
    // (en,0) repacked == pack of the original pieces minus doc 2
    val expect = SeqPacker.pack(fixturePacked.filter(_.docId != 2L)
      .select(col("lang"), col("bucket"), col("ord1"), col("ord2"),
        col("docId"), col("size")).as[Piece], 512)
      .toDF().collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(files.select("lang", "bucket", "ord1", "ord2", "docId",
      "size", "seq").collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      .filter(_.head != "fr") ==
      expect.map(r => Seq(r(0), r(1), r(2), r(3), r(4), r(5), r(6)))
        .filter(_.head != "fr").filter(r => r(1) != 1L),
      "touched shard must equal the pack of its survivors in original order")
    assert(md5Of(new java.io.File(s"$d/data/lang=fr")) == frBefore,
      "untouched shards must be byte-identical")
    assert(SeqPacker.manifest(files).collect().map(_.toSeq)
      .sortBy(_.mkString("|")).toSeq ==
      man.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      "post-forget manifest must equal the census of the files")
    // retry after success: zero-op, bytes untouched
    val all = md5Of(new java.io.File(s"$d/data"))
    assert(SeqPacker.forgetShards(s, d, Seq(2L, 4L).toDF("doc_id"),
      "doc_id", 512) == SeqPacker.ForgetShardStats(0L, 0L, 0L))
    assert(md5Of(new java.io.File(s"$d/data")) == all,
      "post-success retry must not rewrite anything")
  }

  test("forgetShards crash windows: a pending intent sidecar re-finishes " +
    "a stale manifest; an interrupted manifest swap recovers on entry") {
    val s = spark
    import s.implicits._
    val d = dir("crash")
    SeqPacker.writeShards(fixturePacked, d)
    // -- window 1: data committed, manifest swap never happened --
    // simulate: corrupt (en,0)'s manifest row, leave the intent behind
    val man0 = SeqPacker.readShards(s, d)._2
    man0.withColumn("n_pieces",
        when(col("lang") === "en" && col("bucket") === 0L, lit(999L))
          .otherwise(col("n_pieces")))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/manifest_stale")
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/manifest"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/manifest_stale"),
      new org.apache.hadoop.fs.Path(s"$d/manifest"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$d/_forget_pending"), true)
    out.write("en\t0\n".getBytes("UTF-8")); out.close()
    // retry with an EMPTY deletion list: the sidecar alone must drive
    SeqPacker.forgetShards(s, d, Seq.empty[Long].toDF("doc_id"),
      "doc_id", 512)
    val (files1, man1) = SeqPacker.readShards(s, d)
    assert(SeqPacker.manifest(files1).collect().map(_.toSeq)
      .sortBy(_.mkString("|")).toSeq ==
      man1.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      "sidecar retry must re-finish the stale manifest row")
    assert(!new java.io.File(s"$d/_forget_pending").exists(),
      "sidecar must be cleared after the swap commits")
    // -- window 2: crash between the manifest swap's two renames (the
    // complete replacement, marked ready, sits beside a missing live) --
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/manifest"),
      new org.apache.hadoop.fs.Path(s"$d/manifest_compact_tmp"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$d/manifest_compact_tmp/_SWAP_READY"), true).close()
    assert(SeqPacker.forgetShards(s, d, Seq.empty[Long].toDF("doc_id"),
      "doc_id", 512) == SeqPacker.ForgetShardStats(0L, 0L, 0L))
    assert(new java.io.File(s"$d/manifest").exists() &&
      !new java.io.File(s"$d/manifest_compact_tmp").exists(),
      "entry must complete an interrupted manifest swap")
  }

  test("forgetShards crash after the manifest replacement is written and " +
    "before the old manifest is removed: the retry succeeds") {
    val s = spark
    import s.implicits._
    val d = graft.CrashFs.dir(s, "shards")
    SeqPacker.writeShards(fixturePacked, d)
    graft.CrashFs.at(graft.CrashFs.Remove, s"$d/manifest") {
      SeqPacker.forgetShards(s, d, Seq(2L).toDF("doc_id"), "doc_id", 512)
    }
    SeqPacker.forgetShards(s, d, Seq(2L).toDF("doc_id"), "doc_id", 512)
    val (files, man) = SeqPacker.readShards(s, d)
    assert(files.where(col("docId") === 2L).count() == 0)
    assert(SeqPacker.manifest(files).collect().map(_.toSeq)
      .sortBy(_.mkString("|")).toSeq ==
      man.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      "the retried manifest must equal the census of the files")
  }

  test("forgetSink: a streaming deletion feed drains into the export, " +
    "redelivery is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = s.sqlContext
    val d = dir("sink")
    SeqPacker.writeShards(fixturePacked, d)
    val total = SeqPacker.readShards(s, d)._1.count()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = in.toDF().toDF("doc_id")
      .writeStream
      .foreachBatch(SeqPacker.forgetSink(d, "doc_id", 512))
      .outputMode("append").start()
    try {
      in.addData(2L); q.processAllAvailable()
      in.addData(5L); q.processAllAvailable()
      in.addData(2L); q.processAllAvailable() // redelivery
    } finally q.stop()
    val (files, man) = SeqPacker.readShards(s, d)
    assert(files.count() == total - 2,
      "each deletion applied exactly once across batches + redelivery")
    assert(files.where(col("docId").isin(2L, 5L)).count() == 0)
    assert(SeqPacker.manifest(files).collect().map(_.toSeq)
      .sortBy(_.mkString("|")).toSeq ==
      man.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq,
      "manifest stays consistent across streamed erasures")
  }

  test("a (lang, bucket)-filtered read prunes at the PARTITION level — " +
    "a trainer fetching one shard never scans the export") {
    val s = spark
    val d = dir("prune")
    SeqPacker.writeShards(fixturePacked, d)
    val one = SeqPacker.readShards(s, d)._1
      .where(col("lang") === "en" && col("bucket") === 0L)
    val p = one.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val parts = p.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(parts.contains("lang") && parts.contains("bucket"), p)
    assert(one.count() == 3L, "en/0 holds exactly its three pieces")
  }

  test("negative path: file loss and file duplication both break the " +
    "manifest agreement q249's ok column asserts") {
    val s = spark
    val d = dir("corrupt")
    SeqPacker.writeShards(fixturePacked, d)
    def parts(sub: String) = new java.io.File(s"$d/data/$sub").listFiles()
      .filter(_.getName.startsWith("part-"))
    // loss: drop a data file from (en,0)
    assert(parts("lang=en/bucket=0").head.delete())
    // duplication: double a data file in (fr,0)
    val fr = parts("lang=fr/bucket=0").head
    java.nio.file.Files.copy(fr.toPath,
      fr.toPath.resolveSibling("part-dup-" + fr.getName.drop(5)))
    val (files, man) = SeqPacker.readShards(s, d)
    val recomputed = SeqPacker.manifest(files).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val stored = man.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    assert(recomputed.get(("en", 0L)) != stored.get(("en", 0L)),
      "row loss must break the shard's manifest agreement " +
        "(a whole-file loss may drop the shard from the recompute entirely)")
    assert(recomputed.get(("fr", 0L)) != stored.get(("fr", 0L)),
      "row duplication must break the shard's manifest agreement")
    assert(recomputed.get(("en", 1L)) == stored.get(("en", 1L)),
      "untouched shards keep agreeing")
  }

  test("empty export reads back as empty frames (explicit schemas)") {
    val s = spark
    import s.implicits._
    val d = dir("empty")
    SeqPacker.writeShards(
      SeqPacker.pack(Seq.empty[Piece].toDS(), 512), d)
    val (files, man) = SeqPacker.readShards(s, d)
    assert(files.count() == 0 && man.count() == 0)
    assert(files.schema == SeqPacker.shardSchema)
  }

  test("forgetShards ids WAL: a disjoint-list retry after a crash still " +
    "erases condemned rows in zero-survivor shards (ADVICE r9 class)") {
    val s = spark
    import s.implicits._
    val d = dir("idswal")
    SeqPacker.writeShards(fixturePacked, d)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the (en,1) shard's entire doc set, as a run that crashed right
    // after its WAL writes would have recorded it
    val condemned = SeqPacker.readShards(s, d)._1
      .where(col("lang") === "en" && col("bucket") === 1L)
      .select($"docId").as[Long].collect().toSet
    assert(condemned.nonEmpty)
    condemned.toSeq.toDF("docId").coalesce(1)
      .write.parquet(s"$d/_forget_pending_ids")
    val o = fs.create(new org.apache.hadoop.fs.Path(s"$d/_forget_pending"), true)
    o.write("en\t1\n".getBytes("UTF-8")); o.close()
    // retry with a DIFFERENT, non-overlapping list: without the ids
    // sidecar the condemned rows would be re-packed as survivors
    val stats = SeqPacker.forgetShards(s, d, Seq(999L).toDF("doc_id"),
      "doc_id", 512)
    assert(stats.nForgotten == condemned.size.toLong && stats.nEmptied == 1L)
    val (files, man) = SeqPacker.readShards(s, d)
    assert(files.where(col("docId").isin(condemned.toSeq: _*)).count() == 0,
      "condemned docs must be gone")
    assert(man.where(col("lang") === "en" && col("bucket") === 1L).count() == 0)
    assert(!new java.io.File(s"$d/_forget_pending").exists() &&
      !new java.io.File(s"$d/_forget_pending_ids").exists(),
      "both WAL sidecars cleared after the converged retry")
  }
}
