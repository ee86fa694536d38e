package graft

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A `crash:` local filesystem that dies at one chosen step. [[CrashFs.at]]
  * arms a one-shot trap on a mutation of one path; the filesystem throws
  * there instead of performing it, so the disk holds exactly what a
  * process killed at that step would leave. Crash-window specs drive the
  * real code into its window this way, whatever sibling paths the
  * protocol under test happens to use. */
class CrashFs extends graft.core.ForkFreeRawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.hit(CrashFs.RenameTo, dst)
    CrashFs.hit(CrashFs.Remove, src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.hit(CrashFs.Remove, p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  sealed trait Step
  /** A rename whose destination is the path. */
  case object RenameTo extends Step
  /** A delete of the path, or a rename that moves it away. */
  case object Remove extends Step

  final class Crash(msg: String) extends java.io.IOException(msg)

  @volatile private var trap: Option[(Step, String)] = None

  private def hit(step: Step, p: Path): Unit = trap.foreach { case (s, at) =>
    if (s == step && p.toUri.getPath == at) {
      trap = None
      throw new Crash(s"simulated crash at $step $at")
    }
  }

  /** A fresh, empty `crash:` dir under the JVM tmpdir (the scheme is
    * registered on the session's Hadoop conf). */
  def dir(spark: SparkSession, tag: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crash.impl", classOf[CrashFs].getName)
    val local = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_crash_$tag")
    val p = new Path("crash://" + local)
    p.getFileSystem(conf).delete(p, true)
    p.toString
  }

  /** Run `body`, which must die at `step` on `path`. */
  def at(step: Step, path: String)(body: => Any): Unit = {
    trap = Some((step, new Path(path).toUri.getPath))
    try {
      body
      throw new AssertionError(s"no crash at $step $path")
    } catch { case _: Crash => () }
    finally trap = None
  }
}
