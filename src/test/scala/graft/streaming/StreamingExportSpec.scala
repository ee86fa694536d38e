package graft.streaming

import graft.SparkSpec
import graft.operators.SeqPacker
import graft.operators.SeqPacker.Piece
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins [[StreamingExport]]: the streamed pack landed on disk equals
  * the batch pack, the census's read-time n_seqs is correct even when
  * a sequence SPANS micro-batches (per-batch distinct counts would
  * double-count at the seam — the documented design pitfall), the
  * manifest cross-check holds, and a redelivered batch converges. */
class StreamingExportSpec extends SparkSpec {

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      body
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def md5(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("streamed export equals the batch pack; read-time n_seqs is " +
    "exact across a batch-spanning sequence; manifest cross-check ok") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_export").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val pieces = (1L to 120L).map(i =>
      Piece("l" + (i % 2), i % 2, i, 0L, i, (i * 37 % 500) + 1))
    val ordered = pieces.sortBy(p => (p.ord1, p.ord2))
    val (b1, rest) = ordered.splitAt(ordered.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val batches = Seq(b1, b2, b3).map(_.sortBy(p => md5(s"se:${p.docId}")))
    withRocksDb {
      val in = MemoryStream[Piece]
      val q = StreamingPacker.placed(in.toDS(), 512).toDF()
        .writeStream.foreachBatch(StreamingExport.sink(dir))
        .outputMode("append").start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val landed = StreamingExport.readPlaced(s, dir)
    val batchPack = SeqPacker.pack(pieces.toDS(), 512).toDF()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("lang", "bucket", "ord1", "ord2", "docId", "size", "seq")
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(key(landed) == key(batchPack),
      "the landed placements must equal the batch next-fit pack")
    // the pitfall is actually exercised: some sequence spans batches
    val spanning = landed.groupBy($"lang", $"bucket", $"seq")
      .agg(countDistinct($"batch_id").as("nb"))
      .where($"nb" > 1).count()
    assert(spanning > 0, "fixture must produce a batch-spanning sequence")
    // census: read-time n_seqs equals the batch pack's distinct count
    val census = StreamingExport.census(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val expect = batchPack.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("p"), countDistinct($"seq").as("sq"),
        sum($"size").as("t")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(census.keySet == expect.keySet)
    census.foreach { case (k, (p, sq, t, ok)) =>
      assert((p, sq, t) == expect(k), s"$k: census disagrees with batch pack")
      assert(ok == 1L, s"$k: manifest cross-check failed")
    }
    // redelivery: re-append the LAST batch's landed rows under its own
    // batch_id — content must converge, not double
    val last = landed.where($"batch_id" === landed.agg(max($"batch_id"))
      .head().getLong(0))
    val lastId = last.select($"batch_id").head().getLong(0)
    StreamingExport.appendBatch(last, dir, lastId)
    assert(key(StreamingExport.readPlaced(s, dir)) == key(batchPack),
      "a redelivered batch must converge to identical content")
    assert(StreamingExport.census(s, dir).collect()
      .forall(_.getLong(5) == 1L), "census stays ok after redelivery")
  }

  test("compact: folds all but the last batch, census byte-identical, " +
    "stale crash leftovers cleaned, kept batch still redelivery-safe, " +
    "sealed fold collapses to one subtree") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_export_c").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val placed = SeqPacker.pack(
      (1L to 90L).map(i =>
        Piece("l" + (i % 2), i % 2, i, 0L, i, (i * 53 % 400) + 1)).toDS(),
      512).toDF().localCheckpoint()
    // three appendBatch calls split by packing order — batch 2 is "last"
    Seq(0L, 1L, 2L).foreach { b =>
      StreamingExport.appendBatch(
        placed.where($"ord1" % 3 === b), dir, b)
    }
    def censusRows() = StreamingExport.census(s, dir).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def batchDirs(sub: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    val before = censusRows()
    assert(before.nonEmpty && before.forall(_.last == 1L))
    // stale leftovers from a hypothetical prior crash must not break it
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data_compact_tmp/junk"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/manifest_compact_old"))
    StreamingExport.compact(s, dir)
    assert(batchDirs("data") == Seq("batch_id=-1", "batch_id=2"),
      "keepLast folds every batch except the highest")
    assert(batchDirs("manifest") == Seq("batch_id=-1", "batch_id=2"))
    assert(censusRows() == before,
      "the fold must be invisible to every census reader")
    // the kept batch keeps its per-batch idempotence: redeliver it
    val last = StreamingExport.readPlaced(s, dir)
      .where($"batch_id" === 2L).localCheckpoint()
    StreamingExport.appendBatch(last, dir, 2L)
    assert(censusRows() == before, "redelivered kept batch converges")
    // sealed export: fold EVERYTHING
    StreamingExport.compact(s, dir, keepLast = false)
    assert(batchDirs("data") == Seq("batch_id=-1"))
    assert(batchDirs("manifest") == Seq("batch_id=-1"))
    assert(censusRows() == before, "sealed fold is a no-op to readers")
  }

  test("forget: erased ids vanish, untouched partitions byte-identical, " +
    "census stays ok, emptied partition dirs removed, sequences never " +
    "renumbered, post-success rerun is a zero-op, WAL recovery heals") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_export_f").toString
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // 4 buckets x 2 langs x 3 batches: enough partitions that the
    // deletion list leaves most of them untouched
    val placed = SeqPacker.pack(
      (1L to 90L).map(i =>
        Piece("l" + (i % 2), i % 4, i, 0L, i, (i * 53 % 400) + 1)).toDS(),
      512).toDF().localCheckpoint()
    Seq(0L, 1L, 2L).foreach { b =>
      StreamingExport.appendBatch(placed.where($"ord1" % 3 === b), dir, b)
    }
    val before = StreamingExport.readPlaced(s, dir).collect()
      .map(_.toSeq).toSet
    def md5Of(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16)
        out.toByteArray
      } finally in.close()
      md5(new String(bytes.map(_.toChar)))
    }
    def dataFiles(): Map[String, String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/data"), true)
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += (f.toString -> md5Of(f))
      }
      b.result()
    }
    val filesBefore = dataFiles()
    // scattered deletions + ONE whole partition's ids (empties it)
    val onePart = StreamingExport.readPlaced(s, dir)
      .where($"batch_id" === 1L && $"lang" === "l0" && $"bucket" === 0L)
      .select($"docId").as[Long].collect().toSet
    val scattered = (1L to 90L).filter(_ % 31 == 0).toSet
    val delSet = onePart ++ scattered
    val stats = StreamingExport.forget(s, dir,
      delSet.toSeq.toDF("gone"), "gone")
    assert(stats.nForgotten > 0 && stats.nPartsDeleted >= 1)
    val after = StreamingExport.readPlaced(s, dir).collect()
      .map(_.toSeq).toSet
    // exact set semantics: survivors unchanged (seq/ord intact), erased gone
    assert(after == before.filterNot(r => delSet(r(2).asInstanceOf[Long])),
      "forget must remove exactly the listed ids and nothing else")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/data/batch_id=1/lang=l0/bucket=0")), "emptied dir removed")
    assert(StreamingExport.census(s, dir).collect()
      .forall(_.getLong(5) == 1L), "census ok after forget")
    // untouched partitions keep their exact bytes
    val filesAfter = dataFiles()
    val common = filesBefore.keySet intersect filesAfter.keySet
    assert(common.nonEmpty)
    common.foreach { f =>
      assert(filesBefore(f) == filesAfter(f), s"untouched file changed: $f")
    }
    // post-success rerun: zero-op
    val rerun = StreamingExport.forget(s, dir,
      delSet.toSeq.toDF("gone"), "gone")
    assert(rerun == StreamingExport.ForgetExportStats(0L, 0L, 0L, 0L))
    assert(dataFiles() == filesAfter, "rerun must not rewrite anything")
    // WAL recovery: a pending sidecar names a partition whose ids are
    // already scrubbed (the crash-between-rewrite-and-manifest window);
    // a forget with an EMPTY list must finish the job and clear it
    val pend = new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")
    val o = fs.create(pend, true)
    o.write("0\tl1\t1\n".getBytes("UTF-8")); o.close()
    val heal = StreamingExport.forget(s, dir,
      Seq.empty[Long].toDF("gone"), "gone")
    assert(heal.nBatchesTouched == 1L && !fs.exists(pend),
      "pending footprint drained and cleared")
    assert(StreamingExport.census(s, dir).collect()
      .forall(_.getLong(5) == 1L), "census ok after WAL recovery")
  }

  test("empty streaming export reads back as empty frames; census empty") {
    val s = spark
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_export_e").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/manifest"))
    assert(StreamingExport.readPlaced(s, dir).count() == 0)
    assert(StreamingExport.census(s, dir).count() == 0)
  }

  test("forget WAL persists deletion ids: a retry with a non-overlapping " +
    "list still erases the crashed run's condemned rows (ADVICE r9)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_stream_export_wal").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // batch 0: bucket 0 holds the even doc ids, bucket 1 the odd
    val placed = (1L to 8L).map(i => ("l0", i % 2, i, 0L, i, 10L, i / 2))
      .toDF("lang", "bucket", "ord1", "ord2", "docId", "size", "seq")
    StreamingExport.appendBatch(placed, dir, 0L)
    // simulate a run that committed to erasing ALL of bucket 0 (zero
    // survivors -- the partition dynamic overwrite never rewrites) and
    // crashed right after its WAL writes, before any mutation
    val evens = Seq(2L, 4L, 6L, 8L)
    evens.toDF("docId").coalesce(1)
      .write.parquet(s"$dir/_forget_pending_ids")
    val o = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_forget_pending"), true)
    o.write("0\tl0\t0\n".getBytes("UTF-8")); o.close()
    // retry with a DIFFERENT, non-overlapping list: without the ids
    // sidecar this rewrites the condemned rows as survivors and clears
    // the WAL -- silent erasure failure
    val stats = StreamingExport.forget(s, dir, Seq(999L).toDF("gone"), "gone")
    assert(stats.nForgotten == 4L && stats.nPartsDeleted == 1L)
    val left = StreamingExport.readPlaced(s, dir)
      .select($"docId").as[Long].collect().toSet
    assert(left == Set(1L, 3L, 5L, 7L),
      s"condemned evens must be gone, got $left")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_forget_pending")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_forget_pending_ids")),
      "both WAL sidecars cleared after the converged retry")
    assert(StreamingExport.census(s, dir).collect()
      .forall(_.getLong(5) == 1L), "census ok after recovery")
  }

  test("compact: a crash between the data swap's two renames; a rerun " +
    "converges") {
    val s = spark
    import s.implicits._
    import graft.CrashFs
    val dir = CrashFs.dir(s, "stream_export")
    val placed = SeqPacker.pack(
      (1L to 30L).map(i =>
        Piece("l" + (i % 2), i % 2, i, 0L, i, (i * 53 % 400) + 1)).toDS(),
      512).toDF().localCheckpoint()
    Seq(0L, 1L, 2L).foreach { b =>
      StreamingExport.appendBatch(placed.where($"ord1" % 3 === b), dir, b)
    }
    def censusRows() = StreamingExport.census(s, dir).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val before = censusRows()
    CrashFs.at(CrashFs.RenameTo, s"$dir/data") {
      StreamingExport.compact(s, dir)
    }
    StreamingExport.compact(s, dir)
    assert(censusRows() == before, "the rerun fold is invisible to readers")
    assert(StreamingExport.readPlaced(s, dir).select($"batch_id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(-1L, 2L))
  }
}
