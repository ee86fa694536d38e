package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.Path

/** Keyed upsert sinks (SURVEY §2.1 K2): the reference overwrites Phoenix
  * state tables per batch (`utils/DBUtils.scala:142-162`); here the same
  * semantics are a MERGE — new rows replace existing rows with equal
  * keys. [[ParquetUpsertStore]] is the self-contained implementation
  * (anti-join + union + rewrite — at lake scale this maps 1:1 to a Delta
  * `MERGE WHEN MATCHED`); a JDBC store implements the same trait with
  * `DELETE ... WHERE key IN` + append inside one transaction. */
trait UpsertStore {
  def upsert(rows: DataFrame): Unit
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame
}

final class ParquetUpsertStore(path: String, keys: Seq[String]) extends UpsertStore {

  override def upsert(rows: DataFrame): Unit = {
    val spark = rows.sparkSession
    // a crash inside the previous upsert's swap leaves the complete
    // merged store beside the live path: promote it before the probe
    ArtifactCommit.recoverSwapAt(spark, path)
    // emptiness is decided by an existence probe, NEVER by catching read
    // errors: a transient read failure mistaken for "empty store" would
    // drop all accumulated state below. The filesystem is the STORE
    // PATH's (not fs.defaultFS — a store on s3a/file while defaultFS is
    // hdfs would throw "Wrong FS")
    val existing =
      if (ArtifactCommit.fsOf(spark, path).exists(new Path(path)))
        Some(spark.read.parquet(path))
      else None
    // rows feeds both the anti-join key set and the union — persist so
    // the (possibly expensive) upstream plan runs once per upsert
    rows.persist()
    try {
      val merged = existing match {
        case None => rows
        case Some(cur) =>
          // keep current rows whose key is NOT being replaced, then append
          cur.join(rows.select(keys.map(col): _*).distinct(), keys, "left_anti")
            .unionByName(rows)
      }
      // rewrite beside the live store: the plan reads `path` lazily, so
      // writing over it in place would truncate its own input
      ArtifactCommit.swap(spark, path) { tmp =>
        merged.write.mode(SaveMode.Overwrite).parquet(tmp)
      }
    } finally {
      rows.unpersist()
    }
  }

  override def read(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    ArtifactCommit.recoverSwapAt(spark, path)
    spark.read.parquet(path)
  }

  /** Wire into a stream: `stream.writeStream.foreachBatch(store.asBatchSink)` —
    * the micro-batch replacement for the reference's per-batch Phoenix
    * overwrite (R4's external round-trip, now one merge per trigger). */
  def asBatchSink: (DataFrame, Long) => Unit = (batch, _) => upsert(batch)
}

/** JDBC realization of [[UpsertStore]] — the reference's state-table
  * upsert (`utils/DBUtils.scala:142-162`: per-batch DELETE + re-insert
  * from `foreachRDD`), as a distributed delete-then-insert: rows
  * repartition on the key (all rows of a key land in ONE task), each
  * task opens one connection and runs its batched `DELETE WHERE key=?`
  * + `INSERT` inside a single transaction, so a reader never sees a key
  * half-replaced and the connection fan-out is exactly `writers` (the
  * K1 bounded-connection rule).
  *
  * Contract: ONE row per key per upsert call (feed it keep-latest
  * output, as the streaming spec does) — duplicate keys in one batch
  * would both survive the batched delete phase. Failure semantics are
  * the reference's: a mid-batch crash leaves some keys replaced and
  * some not, and the foreachBatch RETRY re-runs the same delete+insert
  * pairs — convergent (idempotent per key), not atomic across keys.
  * Cross-key atomicity needs a staging table + MERGE, which this env's
  * Derby cannot express. */
final class JdbcUpsertStore(url: String, table: String, keyCols: Seq[String],
    props: java.util.Properties, writers: Int = 10) extends UpsertStore {

  override def upsert(rows: DataFrame): Unit = {
    val cols = rows.schema.fieldNames.toSeq
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"key columns $keyCols must be a subset of $cols")
    def q(c: String) = "\"" + c + "\""
    val del = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"${q(k)} = ?").mkString(" AND ")
    val ins = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val keyIdx = keyCols.map(cols.indexOf)
    val (u, p) = (url, props) // serializable captures, not `this`
    rows.repartition(writers, keyCols.map(col): _*)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val c = java.sql.DriverManager.getConnection(u, p)
          try {
            c.setAutoCommit(false)
            val ds = c.prepareStatement(del)
            val is = c.prepareStatement(ins)
            try {
              it.foreach { r =>
                keyIdx.zipWithIndex.foreach { case (ci, pi) =>
                  ds.setObject(pi + 1, r.get(ci))
                }
                ds.addBatch()
                cols.indices.foreach(i => is.setObject(i + 1, r.get(i)))
                is.addBatch()
              }
              ds.executeBatch()
              is.executeBatch()
              c.commit()
            } catch {
              case t: Throwable => c.rollback(); throw t
            } finally { ds.close(); is.close() }
          } finally c.close()
        }
      }
  }

  override def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.jdbc(url, table, props)

  /** foreachBatch adapter, same shape as [[ParquetUpsertStore.asBatchSink]]. */
  def asBatchSink: (DataFrame, Long) => Unit = (batch, _) => upsert(batch)
}

/** Dialect-specific upsert statement generators. [[JdbcUpsertStore]]'s
  * portable delete-then-insert works on any JDBC database; against MySQL
  * the reference instead issues single-statement duplicate-key upserts
  * (`utils/DBUtils.scala:56-109`) — half the round trips and atomic per
  * row. The statement TEXT is generated and spec-pinned here (this env
  * has no MySQL to execute it, only embedded Derby — the one seam noted
  * as untestable in round 3); wire it as the prepared statement of a
  * foreachPartition writer exactly like JdbcUpsertStore's insert. */
object UpsertSql {

  private def ident(c: String): String = {
    require(c.matches("[A-Za-z0-9_]+"), s"unsafe identifier: $c")
    s"`$c`"
  }

  /** `INSERT ... ON DUPLICATE KEY UPDATE` — every non-key column takes
    * the incoming row's value (MySQL 8.0.19+ alias form, which replaced
    * the deprecated VALUES() the reference uses). */
  def mysqlUpsert(table: String, cols: Seq[String], keyCols: Seq[String]): String = {
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"key columns $keyCols must be a subset of $cols")
    val nonKey = cols.filterNot(keyCols.contains)
    require(nonKey.nonEmpty,
      "all columns are keys — use INSERT IGNORE, there is nothing to update")
    s"INSERT INTO ${ident(table)} (${cols.map(ident).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")}) AS new " +
      s"ON DUPLICATE KEY UPDATE ${nonKey.map(c => s"${ident(c)} = new.${ident(c)}").mkString(", ")}"
  }
}
