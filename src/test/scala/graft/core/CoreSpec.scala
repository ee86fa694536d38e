package graft.core

import graft.SparkSpec

/** Driver-facing invariants: the session factory's scale-critical confs,
  * the table loaders, and the automatic native-function registration. */
class CoreSpec extends SparkSpec {

  test("GraftSession builder sets the scale-critical confs") {
    // the shared suite session must itself come from the factory: the
    // codegen cache size is static, so it holds only when the JVM's
    // first session was built by GraftSession
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.autoBroadcastJoinThreshold").toLong ==
      200L * 1024 * 1024)
    assert(c.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(c.get("spark.hadoop.fs.file.impl") ==
      classOf[ForkFreeLocalFileSystem].getName)
    assert(c.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[ForkFreeLocalFs].getName)
  }

  test("every harness table loads with a non-empty schema") {
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      assert(df.columns.nonEmpty, s"table $t has no columns")
    }
    // events gets its nanos column restored to a usable timestamp
    val ts = Tables.events(spark, sfDir).schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType)
  }

  test("native functions are registered by any table load") {
    Tables.load(spark, sfDir, "region")
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    assert(spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_fdot")))
  }
}
