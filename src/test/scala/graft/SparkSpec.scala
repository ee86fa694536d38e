package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, so getOrCreate dedups across suites). Built
  * by the engine's factory, so every suite plans under the confs the
  * mains run with. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
