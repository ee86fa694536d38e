package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.Cut

/** Sources and sinks (SURVEY §2.1).
  *
  * The reference's connector layer (`utils/DBUtils.scala`,
  * `utils/MultilistUtils.scala`) re-expressed Spark-first: JDBC dimension
  * loads keep the pushdown-subquery pattern (the one thing Spark's JDBC
  * source cannot derive on its own — aggregation/join pushdown into the
  * dim database), partitioned fact storage is Parquet with dynamic
  * partition overwrite replacing the reference's delete-before-write
  * idempotence (K9), and JDBC report sinks keep the small-N coalesce so
  * a 1000-executor job doesn't open 1000 connections against MySQL.
  */
object IoOps {

  /** K7: delimited text/report sink (`monitor/MonitorApp.scala:44-48`
    * local report file; `etl/ArateFilter.scala` saveAsTextFile exports).
    * Formats every column through a null-safe concat_ws line (nulls
    * render as `nullToken`, column order = schema order), coalesces to a
    * bounded writer count (report files are consumed by humans/scripts,
    * not re-scanned at scale — few big files beat 200 shards), and
    * optionally compresses. Ordering inside a part file follows the
    * input partition order; pass a pre-sorted df for ordered reports. */
  def writeTextReport(df: DataFrame, path: String, sep: String = "|",
      nullToken: String = "\\N", writers: Int = 1,
      codec: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{coalesce => cf, concat_ws, lit}
    val line = concat_ws(sep,
      df.schema.fieldNames.map(f => cf(col(f).cast("string"), lit(nullToken))): _*)
    val w = df.select(line.as("value")).coalesce(writers).write.mode(SaveMode.Overwrite)
    codec.fold(w)(c => w.option("compression", c)).text(path)
  }

  /** Retention sweep — the lake-side form of the reference's realtime
    * retention (keep latest 2 node snapshots + 24 h of hourly marks,
    * `homed/realtime/NodeTime.scala:27-35,96-104`, enforced there with
    * DELETE statements): list the table's day partitions from the
    * filesystem, drop every partition strictly older than `keepDays`
    * distinct newest days. Deletes whole partition DIRECTORIES — never
    * a row-level rewrite — so the sweep is O(partitions) metadata work
    * regardless of table size, and re-running it is a no-op
    * (idempotent). Returns the dropped day values. */
  def expireDayPartitions(spark: SparkSession, path: String, keepDays: Int,
      partitionCol: String = "day"): Seq[String] = {
    require(keepDays >= 1, s"keepDays must be >= 1 (got $keepDays)")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val prefix = s"$partitionCol="
    val days = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix))
      .sorted
    val expired = days.dropRight(keepDays)
    expired.foreach { d =>
      if (!fs.delete(new org.apache.hadoop.fs.Path(root, s"$prefix$d"), true))
        throw new java.io.IOException(
          s"retention sweep failed to delete $path/$prefix$d")
    }
    expired
  }

  /** S1: multi-path raw log scan (`etl/RunLogParser.scala:69,688-697`). */
  def textLogs(spark: SparkSession, paths: Seq[String]): Dataset[String] =
    spark.read.textFile(paths: _*)

  /** S4: JDBC dimension load with a pushdown subquery
    * (`utils/DBUtils.scala:56-63`): the dim database evaluates `query`,
    * Spark sees a single pre-filtered relation — keep dims tiny so every
    * enrichment join broadcasts. */
  def jdbcDim(spark: SparkSession, url: String, query: String,
      props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, s"($query) t", props)

  /** S5: sharded-table scan (`utils/MultilistUtils.scala:27-47`): shard
    * names come from the database's catalog (first column of
    * `shardListQuery`), each shard reads as its own JDBC relation, the
    * union is a metadata-only combine (no shuffle). The listing query is
    * provider-specific — [[mysqlShardListQuery]] reproduces the
    * reference's `information_schema` form. */
  def shardedJdbcUnion(spark: SparkSession, url: String, shardListQuery: String,
      props: java.util.Properties): DataFrame = {
    val shards = jdbcDim(spark, url, shardListQuery, props)
      .collect().map(_.getString(0))
    require(shards.nonEmpty, s"no shards listed by: $shardListQuery")
    shards.map(t => spark.read.jdbc(url, t, props)).reduce(_ union _)
  }

  /** MySQL shard listing for [[shardedJdbcUnion]]
    * (`utils/MultilistUtils.scala:27-47`). */
  def mysqlShardListQuery(schema: String, tablePattern: String): String = {
    // identifiers are interpolated into SQL — reject anything that could
    // escape the literal
    require(schema.matches("[A-Za-z0-9_]+"), s"unsafe schema name: $schema")
    require(tablePattern.matches("[A-Za-z0-9_\\[\\]\\^\\$\\.\\+\\*-]+"),
      s"unsafe table pattern: $tablePattern")
    s"""SELECT table_name FROM information_schema.tables
       | WHERE table_schema = '$schema'
       |   AND table_name REGEXP '$tablePattern'""".stripMargin
  }

  /** K4/K9: idempotent day-partition write. Dynamic partition overwrite
    * replaces ONLY the partitions present in `df` — the managed
    * equivalent of the reference's `delete from t where f_date='$d'`
    * then re-insert (`homed/repots/LiveChannelStatistics.scala:409-420`). */
  def replaceDayPartitions(df: DataFrame, path: String, partitionCol: String = "day"): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Read back a day partition with pruning (S3: the scan only touches
    * `day=<d>` directories — verify via PartitionFilters in explain). */
  def readDayPartition(spark: SparkSession, path: String, day: String,
      partitionCol: String = "day"): DataFrame =
    spark.read.parquet(path).where(col(partitionCol) === day)

  /** Bucketed fact storage (SURVEY §4 "co-locate joins via bucketing"):
    * writing both sides of a recurring fact-fact join bucketed+sorted on
    * the join key lets Spark plan the join with ZERO exchanges — at
    * 100 TB this removes the dominant shuffle of every daily report run.
    * Requires a table catalog (saveAsTable); bucket count should match
    * target parallelism. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Resilient lake scan: at 100 TB a directory ALWAYS has a few
    * truncated/corrupt files (killed writers, partial uploads) and
    * schema drift across ingest generations. `ignoreCorruptFiles` skips
    * unreadable files instead of failing the whole job N hours in;
    * `mergeSchema` unions per-file schemas so early files surface nulls
    * for later-added columns. Both are per-read options here — NOT
    * session-wide flags, which would mask corruption in jobs that must
    * fail loudly (the audit/publish paths). */
  def readResilient(spark: SparkSession, path: String,
      mergeSchema: Boolean = true): DataFrame =
    spark.read
      .option("ignoreCorruptFiles", "true")
      .option("mergeSchema", mergeSchema.toString)
      .parquet(path)

  /** Point-lookup-optimized parquet write: file-level bloom filters on
    * the given columns (parquet-mr `parquet.bloom.filter.enabled#col`),
    * so selective equality scans skip whole row groups WITHOUT reading
    * the column data — the storage-side complement of the join-time
    * bloom prune in [[graft.operators.BloomJoin]]. At 100 TB a
    * `WHERE device_id = X` probe against bloom-filtered files touches
    * only the row groups whose filter might contain X; min/max stats
    * alone can't do that for high-cardinality unsorted keys. `ndv`
    * sizes the filter (distinct values per row group).
    *
    * Dictionary encoding is turned OFF for the bloom columns:
    * parquet-mr omits the bloom filter when every page of a column is
    * dictionary-encoded (the dictionary is already an exact filter), and
    * a high-cardinality probe key gains little from a dictionary — this
    * keeps the filter present deterministically instead of depending on
    * whether the data happened to fall back to plain encoding. */
  def writeBloomFiltered(df: DataFrame, path: String, bloomCols: Seq[String],
      ndv: Long = 100000L): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    val configured = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    configured.parquet(path)
  }

  /** O4: clustered partition write (`etl/RunLogParser.scala:175` —
    * sortWithinPartitions before the fact write). Repartition on the
    * partition column, then sort INSIDE each task (no global sort, no
    * extra exchange): parquet's run-length/dictionary encoders and
    * page min-max stats get monotone input, so downstream scans that
    * filter on the cluster keys skip pages. The sort MUST lead with the
    * partition column: FileFormatWriter requires partition-column
    * ordering and would otherwise insert its own (unstable) sort on it,
    * destroying the cluster order. */
  def writeClustered(df: DataFrame, path: String, partitionCol: String,
      clusterCols: Seq[String]): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: clusterCols).map(col): _*)
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** K1: JDBC report sink with bounded connection fan-out
    * (`utils/DBUtils.scala:71-109` — coalesce(10) before every MySQL
    * write). Coalesce, not repartition: no shuffle, just fewer writers. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties, connections: Int = 10,
      mode: SaveMode = SaveMode.Append): Unit =
    df.coalesce(connections).write.mode(mode).jdbc(url, table, props)

  /** Training-corpus shard export: deterministic salted-hash shuffle →
    * global row number (two-pass [[graft.functions.DistributedRank]], no
    * single-task window) → fixed-size shards written one directory per
    * shard. The assignment is a pure function of the id column, so
    * re-runs (and incremental re-exports after a corpus change) are
    * reproducible; q122 hash-proves the same assignment against DuckDB.
    * `docsPerShard` fixes shard SIZE (what trainers want) rather than
    * shard count — the final shard may run short. Shard index is
    * integral `DIV`, never Column `/` (IEEE double): past 2⁵³ rows the
    * correctly-rounded double quotient can land on the wrong side of a
    * shard boundary and silently mis-route the boundary doc. */
  def writeShards(df: DataFrame, path: String, idCol: String,
      docsPerShard: Int): Unit = {
    require(docsPerShard >= 1, s"docsPerShard must be >= 1 (got $docsPerShard)")
    import org.apache.spark.sql.functions.{concat, expr, lit}
    graft.expressions.GraftFunctions.ensureRegistered(df.sparkSession)
    val h = graft.functions.DedupFunctions.hash32(
      concat(lit("shard:"), col(idCol).cast("string")))
    graft.functions.DistributedRank
      .withRowNumber(df.withColumn("__hk", h), "__rn", col("__hk"), col(idCol))
      .withColumn("shard",
        expr(s"(__rn - 1L) DIV ${docsPerShard.toLong}L"))
      .drop("__hk", "__rn")
      .repartition(col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
  }

  /** Small-file compaction of selected day partitions — the maintenance
    * half of the reference's explicit `repartition(args.partitions)`
    * before every partition insert (`etl/RunLogParser.scala:192`): a day
    * that accumulated many small files (per-micro-batch appends,
    * over-parallel writers) is rewritten in place as `filesPerDay` files.
    * Dynamic partition overwrite makes the rewrite idempotent and touches
    * ONLY the listed days; at 100 TB this runs as a nightly sweep over
    * yesterday's ingest, not the whole table. Repartition on the
    * partition column + a spread key would skew to one task per day —
    * instead each day is repartitioned independently (days are rewritten
    * one at a time; the per-day write parallelism is the point). */
  def compactDayPartitions(spark: SparkSession, path: String, days: Seq[String],
      filesPerDay: Int = 1, partitionCol: String = "day"): Unit = {
    require(filesPerDay >= 1, s"filesPerDay must be >= 1 (got $filesPerDay)")
    days.foreach { d =>
      readDayPartition(spark, path, d, partitionCol)
        .repartition(filesPerDay)
        // materialize BEFORE the write: Spark (correctly) refuses to
        // overwrite a path its own plan is still reading from
        .transform(Cut(_))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCol)
        .parquet(path)
    }
  }
}
