package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cut, Tables}
import graft.operators.{HilbertCurve, ZOrderLayout}
import graft.functions.DistributedRank

/** Data-LAYOUT queries: the storage-clustering decisions that decide how
  * much of a 100 TB table a scan must read. `IoOps.writeClustered` /
  * `writeBucketed` / `writeBloomFiltered` give graft the single-key
  * layouts the reference gets from its nightly `repartition` + insert
  * jobs (`etl/RunLogParser.scala:175-192`); this pack makes the
  * MULTI-dimensional layout tradeoff itself oracle-checkable: Z-order
  * (Morton) and Hilbert clustering vs a linear sort, measured as the
  * exact count of range-partitions a 2-d box predicate must touch and
  * the exact per-partition bounding-box mass. The census math is pure
  * integer arithmetic (codes, curve indexes, rank-derived partition
  * ids), so DuckDB replays it bit-for-bit — layout quality becomes a
  * hash-checked NUMBER, not a benchmark anecdote.
  *
  * Shared shape: ONE narrow lineitem projection is coded on
  * (l_partkey, l_suppkey) by exact min/max quantization
  * ([[ZOrderLayout.quantizeText]] — one div/mod text, both engines),
  * each layout is an exact global rank over its ordering key (the
  * window-free [[DistributedRank]]: bucket exchange, never a
  * single-task window), and partition id is `(rank-1)*PARTS DIV n` —
  * exact equi-depth, engine-agnostic (a real write's range boundaries
  * come from sampling, which an oracle can't replay — see
  * [[ZOrderLayout.writeZOrdered]]; ZOrderLayoutSpec drives that real
  * write path and pins the same skipping claim at the FILE grain).
  */
object LayoutQueries extends QueryPack {

  private val BITS = 10            // 10-bit codes per dimension, z < 2^20
  private val PARTS = 32L          // census partitions (files, at a write)
  // the probe box in CODE space: [256, 511]² = 1/16 of the key area —
  // fixed literals (never data-derived), the q247 ladder convention
  private val (boxLo, boxHi) = (256L, 511L)

  /** The shared coded frame: narrow projection × 1-row min/max stats
    * (the broadcast audit exemption), integer codes, Morton value. */
  private def coded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val stats = li.agg(
      min($"l_partkey").as("amin"), max($"l_partkey").as("amax"),
      min($"l_suppkey").as("bmin"), max($"l_suppkey").as("bmax"))
    li.crossJoin(broadcast(stats))
      .withColumn("ca",
        expr(ZOrderLayout.quantizeText("l_partkey", "amin", "amax", BITS, "DIV")))
      .withColumn("cb",
        expr(ZOrderLayout.quantizeText("l_suppkey", "bmin", "bmax", BITS, "DIV")))
      .withColumn("zv", expr(ZOrderLayout.zText("ca", "cb", BITS, "DIV")))
  }

  /** Equi-depth partition census over a ranked layout: bounding box per
    * partition, probe-box touch flag, exact box mass. */
  private def census(ranked: DataFrame, layout: String): DataFrame = {
    import ranked.sparkSession.implicits._
    ranked
      .withColumn("pid", expr(s"((rn - 1L) * ${PARTS}L) DIV n"))
      .groupBy($"pid")
      .agg(count(lit(1)).as("n_rows"),
        min($"ca").as("ca_min"), max($"ca").as("ca_max"),
        min($"cb").as("cb_min"), max($"cb").as("cb_max"))
      .withColumn("layout", lit(layout))
      .withColumn("box_area",
        ($"ca_max" - $"ca_min" + 1L) * ($"cb_max" - $"cb_min" + 1L))
      .withColumn("touches_box",
        ($"ca_max" >= boxLo && $"ca_min" <= boxHi &&
         $"cb_max" >= boxLo && $"cb_min" <= boxHi).cast("int"))
  }

  private def ranked(df: DataFrame, key: String): DataFrame = {
    import df.sparkSession.implicits._
    DistributedRank.withRowNumberAndTotal(df, "rn", "n",
      col(key), $"l_orderkey", $"l_linenumber")
  }

  /** q252 — Z-order vs linear layout, skip census (Morton 1966; the
    * OPTIMIZE ZORDER recipe of Delta/Iceberg/Hudi): the touched-
    * partition count for a fixed 2-d probe box under each layout IS the
    * published file-skipping win, here an oracle-hashed integer. Scale:
    * two rank passes over the narrow coded frame (each one bucket
    * exchange), censuses close at O(PARTS) rows. */
  private val q252: Q = (s, d) => {
    import s.implicits._
    // checkpoint-once (r12, the q253/q228 rule): FOUR jobs consume the
    // coded frame (two rank boundary scans + the two-branch main pass),
    // each re-running the scan + stats crossJoin + code/Morton
    // arithmetic before the cut. One narrow 6-column materialization.
    val c = Cut(coded(s, d))
    census(ranked(c, "zv"), "zorder")
      .unionByName(census(ranked(c, "ca"), "linear"))
      .select($"layout", $"pid", $"n_rows",
        $"ca_min", $"ca_max", $"cb_min", $"cb_max", $"touches_box")
      .orderBy($"layout", $"pid")
  }

  /** q253 — Hilbert vs Z-order locality (the liquid-clustering
    * upgrade): the Hilbert walk never jumps, so equal-depth partitions
    * of the curve carry tighter bounding boxes than Morton's — less
    * box MASS per partition and fewer partitions touched by the same
    * probe. Both curves rank over the SAME coded frame; the Hilbert
    * index is the native codegen'd [[graft.expressions.HilbertIndex]]
    * loop (r12 — the 10-step column unroll executed ~10 µs/row; the
    * expression computes the identical recurrence, and the oracle runs
    * the [[HilbertCurve.cteChain]] texts). Output keeps the full
    * bounding boxes so the hash pins WHERE every partition sits, not
    * just the two headline sums. */
  private val q253: Q = (s, d) => {
    import s.implicits._
    // checkpoint-once (the q228 rule): FOUR downstream jobs (two rank
    // bucket-bound scans + two main passes) would otherwise each re-run
    // the coded+Hilbert projection. One narrow 6-column
    // materialization, then every consumer reads the truncated lineage.
    val c = HilbertCurve.withHilbert(coded(s, d), "hd", col("ca"), col("cb"), BITS)
      .select($"l_orderkey", $"l_linenumber", $"ca", $"cb", $"zv", $"hd")
      .transform(Cut(_))
    census(ranked(c, "hd"), "hilbert")
      .unionByName(census(ranked(c, "zv"), "zorder"))
      .select($"layout", $"pid", $"n_rows", $"box_area",
        $"ca_min", $"ca_max", $"cb_min", $"cb_max", $"touches_box")
      .orderBy($"layout", $"pid")
  }

  /** Oracle prefix shared verbatim by q252/q253 (the one-text rule):
    * stats → codes → Morton value. */
  private val codedSql: String = s"""
      stats AS (
        SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
               min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
        FROM lineitem),
      coded AS (
        SELECT l_orderkey, l_linenumber,
               ${ZOrderLayout.quantizeText("l_partkey", "amin", "amax", BITS, "//")} AS ca,
               ${ZOrderLayout.quantizeText("l_suppkey", "bmin", "bmax", BITS, "//")} AS cb
        FROM lineitem, stats),
      z AS (
        SELECT *, ${ZOrderLayout.zText("ca", "cb", BITS, "//")} AS zv
        FROM coded),
      n AS (SELECT count(*) AS n FROM z)"""

  /** Shared per-layout oracle census body over a ranked CTE exposing
    * (ca, cb, pid). */
  private def censusSql(src: String, layout: String): String = s"""
        SELECT '$layout' AS layout, pid, count(*) AS n_rows,
               min(ca) AS ca_min, max(ca) AS ca_max,
               min(cb) AS cb_min, max(cb) AS cb_max
        FROM $src GROUP BY pid"""

  private val touchSql: String = s"""
             CAST(CASE WHEN ca_max >= $boxLo AND ca_min <= $boxHi
                        AND cb_max >= $boxLo AND cb_min <= $boxHi
                       THEN 1 ELSE 0 END AS INT) AS touches_box"""

  /** q254 — equi-depth vs min/max coding occupancy (the skew half of
    * the layout family): min/max quantization ([[ZOrderLayout.quantize]])
    * is exact and oracle-friendly but inherits the COLUMN'S
    * distribution — a skewed key crowds most rows into few codes, and a
    * curve layout built on crowded codes degenerates back to few giant
    * cells (the scaladoc's warning, here measured). Equi-depth codes —
    * the global rank scaled into the code space, `(rank-1)*2^bits DIV
    * n` — are balanced by CONSTRUCTION for any distribution. The census
    * reports both schemes' occupancy over the 32-bucket code space
    * (rows per bucket + distinct codes used) on events.user_id (the
    * repeat-visitor key: heavy users crowd the low codes). Scale: the
    * equi-depth side is one window-free [[DistributedRank]] pass; the
    * min/max side is pure row arithmetic; censuses close at O(64)
    * rows. */
  private val q254: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .where($"user_id".isNotNull && $"event_id".isNotNull)
      .select($"user_id", $"event_id")
    val stats = ev.agg(min($"user_id").as("lo"), max($"user_id").as("hi"))
    val mm = ev.crossJoin(broadcast(stats))
      .withColumn("code",
        expr(ZOrderLayout.quantizeText("user_id", "lo", "hi", BITS, "DIV")))
    val ed = DistributedRank.withRowNumberAndTotal(ev, "rn", "n",
        $"user_id", $"event_id")
      .withColumn("code", expr(s"((rn - 1L) * ${1L << BITS}L) DIV n"))
    def occupancy(df: DataFrame, scheme: String): DataFrame =
      df.withColumn("bucket", expr("code DIV 32"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"code").as("n_codes"))
        .withColumn("scheme", lit(scheme))
    occupancy(mm, "minmax").unionByName(occupancy(ed, "equidepth"))
      .select($"scheme", $"bucket", $"n_rows", $"n_codes")
      .orderBy($"scheme", $"bucket")
  }

  /** q260 — the q253 locality claim priced on REAL FILES (VERDICT r9
    * #4: the Hilbert write path was spec-only): two actual
    * [[ZOrderLayout.writeCurvedExact]] writes (Hilbert and Morton) land
    * pid-partitioned parquet trees, and the census is computed FROM THE
    * FILES READ BACK — per real file (one per pid): row count, (ca, cb)
    * bounding box, box area, probe-box touch flag. Because the exact
    * write replaces sampling with the rank-derived pid, the oracle
    * replays the whole layout bit-for-bit (the SAME census text as
    * q253 — one-text rule), so a green hash here proves the files on
    * disk carry exactly the boxes the planning census promised.
    * ZOrderLayoutSpec adds the plan-level assert: a non-leading-column
    * probe over the written tree reads fewer files than the total
    * (FileSourceScanExec numFiles).
    *
    * Scale shape: two one-exchange rank passes + two partitioned
    * writes (hash-repartitioned on pid, one writer per file — the
    * per-directory commit-cost rule), censuses close at O(PARTS) rows
    * read from file footers' worth of data. */
  private val q260: Q = (s, d) => {
    import s.implicits._
    val base = tmpArtifactDir("graft_curved_write", d)
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    // the write path deliberately refuses an empty frame (nothing to
    // quantize — codeStats fails loud); the QUERY's empty-corpus
    // contract is an empty census with the contract schema, matching
    // the oracle's zero rows (EmptyInputSpec)
    if (li.isEmpty) {
      import org.apache.spark.sql.types._
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("layout", StringType), StructField("pid", LongType),
          StructField("n_rows", LongType), StructField("box_area", LongType),
          StructField("ca_min", LongType), StructField("ca_max", LongType),
          StructField("cb_min", LongType), StructField("cb_max", LongType),
          StructField("touches_box", IntegerType))))
    } else {
      // the two layout writes are disjoint trees (separate dirs, same
      // read-only input) — run them CONCURRENTLY (r12, guide §2.6 /
      // the q270 fan-out rule): each is a fixed protocol of small jobs
      // (stats, rank sampling, main exchange, 32-dir partitioned
      // write), so wall time was the SUM; concurrent it is the max.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val writes = Seq(
        Future(ZOrderLayout.writeCurvedExact(li, s"$base/h", "l_partkey",
          "l_suppkey", BITS, PARTS, hilbert = true,
          tieCols = Seq("l_orderkey", "l_linenumber"))),
        Future(ZOrderLayout.writeCurvedExact(li, s"$base/z", "l_partkey",
          "l_suppkey", BITS, PARTS, hilbert = false,
          tieCols = Seq("l_orderkey", "l_linenumber"))))
      writes.foreach(Await.result(_, Duration.Inf))
      def fileCensus(path: String, layout: String): DataFrame =
        s.read.parquet(path)
          .groupBy($"pid".cast("long").as("pid"))
          .agg(count(lit(1)).as("n_rows"),
            min($"ca").as("ca_min"), max($"ca").as("ca_max"),
            min($"cb").as("cb_min"), max($"cb").as("cb_max"))
          .withColumn("layout", lit(layout))
          .withColumn("box_area",
            ($"ca_max" - $"ca_min" + 1L) * ($"cb_max" - $"cb_min" + 1L))
          .withColumn("touches_box",
            ($"ca_max" >= boxLo && $"ca_min" <= boxHi &&
             $"cb_max" >= boxLo && $"cb_min" <= boxHi).cast("int"))
      fileCensus(s"$base/h", "hilbert")
        .unionByName(fileCensus(s"$base/z", "zorder"))
        .select($"layout", $"pid", $"n_rows", $"box_area",
          $"ca_min", $"ca_max", $"cb_min", $"cb_max", $"touches_box")
        .orderBy($"layout", $"pid")
    }
  }

  override def queries: Map[String, Q] = Map(
    "q252_zorder_skip" -> q252,
    "q253_hilbert_locality" -> q253,
    "q254_equidepth_codes" -> q254,
    "q260_curved_write" -> q260)

  override def oracle: Map[String, String] = Map(
    "q252_zorder_skip" -> s"""
      WITH $codedSql,
      zr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY zv, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM z, n),
      lr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY ca, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM z, n),
      u AS (${censusSql("zr", "zorder")}
        UNION ALL${censusSql("lr", "linear")})
      SELECT layout, pid, n_rows, ca_min, ca_max, cb_min, cb_max,
             $touchSql
      FROM u
      ORDER BY layout, pid""",

    "q253_hilbert_locality" -> s"""
      WITH $codedSql,
      seed AS (
        SELECT l_orderkey, l_linenumber, ca, cb, zv,
               CAST(0 AS BIGINT) AS d, ca AS x, cb AS y
        FROM z),
      ${HilbertCurve.cteChain("seed", "hout",
        Seq("l_orderkey", "l_linenumber", "ca", "cb", "zv"), BITS, "//")},
      hr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY d, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM hout, n),
      zr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY zv, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM hout, n),
      u AS (${censusSql("hr", "hilbert")}
        UNION ALL${censusSql("zr", "zorder")})
      SELECT layout, pid, n_rows,
             (ca_max - ca_min + 1) * (cb_max - cb_min + 1) AS box_area,
             ca_min, ca_max, cb_min, cb_max,
             $touchSql
      FROM u
      ORDER BY layout, pid""",

    // q260 replays as q253's census: the exact write's pid IS the
    // rank-derived pid, so the file census == the planning census
    "q260_curved_write" -> s"""
      WITH $codedSql,
      seed AS (
        SELECT l_orderkey, l_linenumber, ca, cb, zv,
               CAST(0 AS BIGINT) AS d, ca AS x, cb AS y
        FROM z),
      ${HilbertCurve.cteChain("seed", "hout",
        Seq("l_orderkey", "l_linenumber", "ca", "cb", "zv"), BITS, "//")},
      hr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY d, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM hout, n),
      zr AS (
        SELECT ca, cb,
               ((row_number() OVER (ORDER BY zv, l_orderkey, l_linenumber) - 1) * $PARTS) // n AS pid
        FROM hout, n),
      u AS (${censusSql("hr", "hilbert")}
        UNION ALL${censusSql("zr", "zorder")})
      SELECT layout, pid, n_rows,
             (ca_max - ca_min + 1) * (cb_max - cb_min + 1) AS box_area,
             ca_min, ca_max, cb_min, cb_max,
             $touchSql
      FROM u
      ORDER BY layout, pid""",

    "q254_equidepth_codes" -> s"""
      WITH ev AS (
        SELECT user_id, event_id FROM events
        WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
      stats AS (SELECT min(user_id) AS lo, max(user_id) AS hi FROM ev),
      mm AS (
        SELECT ${ZOrderLayout.quantizeText("user_id", "lo", "hi", BITS, "//")} AS code
        FROM ev, stats),
      nn AS (SELECT count(*) AS n FROM ev),
      ed AS (
        SELECT ((row_number() OVER (ORDER BY user_id, event_id) - 1)
                 * ${1L << BITS}) // n AS code
        FROM ev, nn),
      u AS (
        SELECT 'minmax' AS scheme, code // 32 AS bucket, count(*) AS n_rows,
               CAST(count(DISTINCT code) AS BIGINT) AS n_codes
        FROM mm GROUP BY bucket
        UNION ALL
        SELECT 'equidepth' AS scheme, code // 32 AS bucket, count(*) AS n_rows,
               CAST(count(DISTINCT code) AS BIGINT) AS n_codes
        FROM ed GROUP BY bucket)
      SELECT scheme, bucket, n_rows, n_codes
      FROM u
      ORDER BY scheme, bucket""")
}
