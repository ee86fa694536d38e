package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.IoOps
import graft.streaming.{PlayEvent, StreamingOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The fork-free `file:` filesystem (LocalFs.scala): the session wires it
  * into both Hadoop APIs, it leaves the same mode bits and link statuses
  * as the stock `RawLocalFileSystem`, and Spark's write paths over it
  * start no process. */
class LocalFsSpec extends SparkSpec {

  private def tmp(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)
  private def perm(digits: String) = new FsPermission(oct(digits).toShort)

  test("file: resolves to the fork-free classes on the session's Hadoop conf") {
    // FileSystem.get caches by scheme, authority and user, not by conf: a
    // stock instance cached earlier in the JVM would win here
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
  }

  private def raw(stock: Boolean, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set(FsPermission.UMASK_LABEL, umask)
    val fs = if (stock) new RawLocalFileSystem else new ForkFreeRawLocalFileSystem
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  /** Full mode (sticky bit included) and the POSIX permission set. */
  private def mode(p: java.nio.file.Path): (Int, String) =
    (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777"),
      Files.getPosixFilePermissions(p).asScala.toSeq.map(_.toString).sorted.mkString(","))

  test("create, mkdirs and setPermission leave the stock mode bits") {
    val names = Seq("f", "g", "d", "d/e", "m", "s", "t")
    for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
      def run(stock: Boolean): Map[String, (Int, String)] = {
        val fs = raw(stock, umask)
        val root = tmp("graft_localfs_mode")
        def p(name: String) = new Path(root.resolve(name).toString)
        fs.create(p("f")).close()
        fs.create(p("g"), perm("755"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(p("d/e"))
        fs.mkdirs(p("m"), perm("751"))
        fs.create(p("s")).close()
        fs.setPermission(p("s"), perm("640"))
        fs.mkdirs(p("t"))
        fs.setPermission(p("t"), perm("1777"))
        val modes = names.map(n => n -> mode(root.resolve(n))).toMap
        fs.delete(new Path(root.toString), true)
        modes
      }
      val ours = run(stock = false)
      assert(ours == run(stock = true), s"umask $umask")
      assert(ours("f")._1 == oct(file) && ours("d")._1 == oct(dir), s"umask $umask")
      assert(ours("t")._1 == oct("1777"), "sticky bit kept")
    }
  }

  test("getFileLinkStatus matches stock on a file, symlinks and a missing path") {
    val root = tmp("graft_localfs_link")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path): Either[String, Any] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
          s.getModificationTime, s.getPermission))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val stock = raw(stock = true, "022")
    val ours = raw(stock = false, "022")
    for (name <- Seq("file", "link", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toString), new Path(root.resolve(name).toUri))) {
      assert(status(ours, p) == status(stock, p), p)
    }
    assert(status(ours, new Path(root.resolve("missing").toString)) ==
      Left(classOf[FileNotFoundException].getName))
    assert(ours.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    ours.delete(new Path(root.toString), true)
  }

  test("partition writes and state-store commits start no process") {
    // On Hadoop's stock file: filesystem this block starts 388 processes
    // (124 chmod, 264 readlink; 4 cores, no native libhadoop).
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import s.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.range(1).count() // session start-up forks before the recording
    val root = tmp("graft_localfs_jfr")
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      IoOps.replaceDayPartitions(spark.range(0L, 300L)
        .selectExpr("id", "concat('2024010', 1 + id % 3) AS day"), root.resolve("days").toString)
      val in = MemoryStream[PlayEvent]
      val q = StreamingOps.onlineStatus(in.toDS(), idleTimeout = None)
        .writeStream.format("memory").queryName("localfs_online")
        .option("checkpointLocation", root.resolve("checkpoint").toString)
        .outputMode("append").start()
      try {
        (0 until 3).foreach { b =>
          in.addData((1L to 20L).map(u =>
            PlayEvent(u, new java.sql.Timestamp(b * 60000L + u), "start", "svc")))
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(spark.table("localfs_online").count() == 60)
    } finally recording.stop()
    val out = root.resolve("process.jfr")
    recording.dump(out)
    recording.close()
    // the starts left to the session are Spark's page-size probe on the
    // first driver and executor heartbeats, which land here when this
    // suite runs first
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filterNot(e => e.getString("command") == "getconf PAGESIZE" &&
        e.getThread("eventThread").getJavaName.endsWith("-heartbeater"))
    assert(starts.isEmpty, starts.map(_.getString("command")).mkString("\n"))
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root.toString), true)
  }
}
