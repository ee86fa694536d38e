package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class IoOpsSpec extends SparkSpec {

  test("replaceDayPartitions overwrites only the written partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_io").toString
    val d1 = Seq((1L, "a", "20240101"), (2L, "b", "20240102"))
      .toDF("id", "v", "day")
    IoOps.replaceDayPartitions(d1, dir)
    // rewrite day 20240102 only; 20240101 must survive
    val d2 = Seq((9L, "z", "20240102")).toDF("id", "v", "day")
    IoOps.replaceDayPartitions(d2, dir)
    val back = spark.read.parquet(dir)
      .select("id", "day").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "20240101"), (9L, "20240102")))
  }

  test("compactDayPartitions rewrites listed days to few files, preserves data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString
    // fragment two days into many small files; leave a third day intact
    val frag = spark.range(0L, 200L)
      .selectExpr("id", "concat('2024010', 1 + id % 2) AS day")
      .repartition(20)
    IoOps.replaceDayPartitions(frag, dir)
    val intact = Seq((999L, "20240103")).toDF("id", "day")
    IoOps.replaceDayPartitions(intact, dir)
    def files(day: String): Long = {
      val p = java.nio.file.Paths.get(dir, s"day=$day")
      Files.list(p).filter(f => f.toString.endsWith(".parquet")).count()
    }
    assert(files("20240101") > 1, "fixture must start fragmented")
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq

    IoOps.compactDayPartitions(spark, dir, Seq("20240101", "20240102"))
    assert(files("20240101") == 1 && files("20240102") == 1)
    assert(files("20240103") == 1, "unlisted day must be untouched")
    val after = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(after == before, "compaction must not change the data")
  }

  test("readDayPartition prunes partitions in the plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_io2").toString
    IoOps.replaceDayPartitions(
      Seq((1L, "20240101"), (2L, "20240102")).toDF("id", "day"), dir)
    val df = IoOps.readDayPartition(spark, dir, "20240101")
    assert(df.as[(Long, String)].collect().toSeq == Seq((1L, "20240101")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("day#"),
      s"expected partition pruning in plan:\n$plan")
  }

  test("ParquetUpsertStore merges by key across batches (K2 semantics)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert").toString + "/store"
    val store = new ParquetUpsertStore(dir, Seq("user_id"))
    store.upsert(Seq((1L, "online", 1L), (2L, "online", 1L))
      .toDF("user_id", "status", "play_count"))
    store.upsert(Seq((1L, "offline", 2L), (3L, "online", 1L))
      .toDF("user_id", "status", "play_count"))
    val out = store.read(spark)
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "offline", 2L), (2L, "online", 1L), (3L, "online", 1L)))
  }

  test("ParquetUpsertStore: a crash after the old store is moved away and " +
    "before the merged store is promoted loses no earlier row") {
    import spark.implicits._
    val dir = graft.CrashFs.dir(spark, "upsert") + "/store"
    val store = new ParquetUpsertStore(dir, Seq("user_id"))
    def batch(rows: (Long, String, Long)*) =
      rows.toDF("user_id", "status", "play_count")
    store.upsert(batch((1L, "online", 1L), (2L, "online", 1L)))
    graft.CrashFs.at(graft.CrashFs.RenameTo, dir) {
      store.upsert(batch((1L, "offline", 2L), (3L, "online", 1L)))
    }
    store.upsert(batch((4L, "online", 1L)))
    assert(store.read(spark).as[(Long, String, Long)].collect().toSet == Set(
      (1L, "offline", 2L), (2L, "online", 1L), (3L, "online", 1L),
      (4L, "online", 1L)))
  }

  test("iacs parser round-trips pipe-delimited session lines") {
    val r = graft.etl.LogParsers.parseIacsLine(
      "S-9f|50312573|1005360181|2024-01-15 10:00:00|2024-01-15 10:30:00|closed").get
    assert(r.sessionId == "S-9f" && r.deviceId == 1005360181L && r.status == "closed")
    assert(graft.etl.LogParsers.parseIacsLine("bad|line").isEmpty)
    assert(graft.etl.LogParsers.parseIacsLine(null).isEmpty)
  }

  test("bucketed tables join with zero exchanges") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    val li = graft.core.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
    val ord = graft.core.Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_totalprice")
    IoOps.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
    IoOps.writeBucketed(ord, "b_orders", "o_orderkey", 4)
    // disable auto-broadcast for the assertion: a broadcast join would
    // trivially have no shuffle; the point is the SORT-MERGE path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (200L * 1024 * 1024).toString)
    assert(!plan.contains("ShuffleExchange"),
      s"bucketed join must not shuffle:\n${plan.take(1500)}")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
  }

  test("readResilient skips corrupt files and merges drifted schemas") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resilient").toString + "/lake"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 9L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(dir)
    // a truncated/garbage file among the good ones
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-corrupt.parquet"),
      "not a parquet file".getBytes)
    // the strict read fails on the bad footer...
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).collect()
    }
    // ...the resilient read returns every good row, nulling the column
    // the older file predates
    val rows = IoOps.readResilient(spark, dir)
      .select($"id", $"v", $"extra").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(rows == Set((1L, "a", -1L), (2L, "b", 9L)))
  }

  test("ORC roundtrip (the reference's at-rest columnar format)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_orc").toString + "/t"
    val df = Seq((1L, "a", "20240101"), (2L, "b", "20240102"))
      .toDF("id", "v", "day")
    df.write.format("orc").partitionBy("day").save(dir)
    val back = spark.read.orc(dir).select("id", "day")
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "20240101"), (2L, "20240102")))
  }

  test("writeTextReport formats delimited lines with null tokens, one file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report").toString + "/out"
    val df = Seq((1L, Some("a"), 2.5), (2L, None, 10.0))
      .toDF("id", "name", "score")
    IoOps.writeTextReport(df, dir, sep = "|", nullToken = "\\N")
    val lines = spark.read.textFile(dir).collect().sorted.toSeq
    assert(lines == Seq("1|a|2.5", "2|\\N|10.0"))
    // exactly one part file (writers = 1)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts == 1)
  }

  test("expireDayPartitions drops only days beyond the retention window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ret").toString + "/t"
    Seq((1L, "20240101"), (2L, "20240102"), (3L, "20240103"), (4L, "20240104"))
      .toDF("id", "day").write.partitionBy("day").parquet(dir)
    val dropped = IoOps.expireDayPartitions(spark, dir, keepDays = 2)
    assert(dropped == Seq("20240101", "20240102"))
    val left = spark.read.parquet(dir).select($"day").distinct()
      .as[String].collect().sorted.toSeq
    assert(left == Seq("20240103", "20240104"))
    // idempotent: second sweep drops nothing
    assert(IoOps.expireDayPartitions(spark, dir, keepDays = 2).isEmpty)
    // missing path is a no-op, not a crash
    assert(IoOps.expireDayPartitions(spark, dir + "_missing", 2).isEmpty)
  }

  test("CSV roundtrip with header and explicit schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv").toString + "/t"
    val df = Seq((1L, "a,with comma", 2.5), (2L, null, 10.0))
      .toDF("id", "name", "score")
    df.write.option("header", "true").csv(dir)
    val back = spark.read
      .option("header", "true")
      .schema("id LONG, name STRING, score DOUBLE")
      .csv(dir)
      .as[(Long, Option[String], Double)].collect().toSet
    assert(back == Set((1L, Some("a,with comma"), 2.5), (2L, None, 10.0)))
  }

  test("textLogs reads multiple paths as one dataset") {
    val dir = Files.createTempDirectory("graft_txt")
    val f1 = dir.resolve("a.log"); val f2 = dir.resolve("b.log")
    Files.writeString(f1, "line1\nline2\n")
    Files.writeString(f2, "line3\n")
    val ds = IoOps.textLogs(spark, Seq(f1.toString, f2.toString))
    assert(ds.collect().sorted.toSeq == Seq("line1", "line2", "line3"))
  }

  test("writeShards: fixed-size deterministic shards, every doc exactly once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_shards").toString
    val docs = (0L until 100L).map(i => (i, s"doc$i")).toDF("doc_id", "payload")
    IoOps.writeShards(docs, s"$dir/corpus", "doc_id", docsPerShard = 16)
    val back = spark.read.parquet(s"$dir/corpus")
    val byShard = back.groupBy($"shard").count()
      .as[(Long, Long)].collect().toMap
    // 100 docs / 16 per shard = shards 0..5 full, shard 6 short
    assert(byShard.keySet == (0L to 6L).toSet)
    assert((0L to 5L).forall(byShard(_) == 16L) && byShard(6L) == 4L)
    assert(back.select($"doc_id").distinct().count() == 100L)
    // assignment is a pure function of the id: a re-export reproduces
    // byte-identical shard membership
    val first = back.select($"doc_id", $"shard").as[(Long, Long)].collect().toMap
    IoOps.writeShards(docs, s"$dir/corpus2", "doc_id", docsPerShard = 16)
    val second = spark.read.parquet(s"$dir/corpus2")
      .select($"doc_id", $"shard").as[(Long, Long)].collect().toMap
    assert(first == second)
    // ... and equals the q122-census formula computed independently:
    // salted-hash permutation (ties on id), (rank-1) DIV docsPerShard
    import org.apache.spark.sql.functions.{concat, lit}
    val expected = docs
      .withColumn("__hk", graft.functions.DedupFunctions.hash32(
        concat(lit("shard:"), $"doc_id".cast("string"))))
      .select($"doc_id", $"__hk").as[(Long, Long)].collect()
      .sortBy { case (id, hk) => (hk, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> i.toLong / 16L }.toMap
    assert(first == expected,
      "writeShards membership must equal the census assignment formula")
  }
}
