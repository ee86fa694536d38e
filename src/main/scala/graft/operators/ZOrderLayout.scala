package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cut

/** Multi-dimensional data layout via Z-ordering (Morton order) — the
  * storage-side complement of the scan-pruning machinery in
  * [[graft.sources.IoOps]]: `writeClustered` sorts by ONE key chain, so
  * parquet min/max stats prune scans filtered on the leading column and
  * nothing else; a table probed on TWO independent columns (the
  * reference's fact tables are probed by device id ranges AND time —
  * `homed/repots/DemandReport.scala`-family filters) leaves the second
  * predicate unprunable. Interleaving the bits of both keys (Morton
  * 1966; the OPTIMIZE ZORDER recipe of the Delta/Iceberg/Hudi lakes)
  * bounds the per-file BOUNDING BOX in (a, b) space instead of the
  * per-file range of one column: a 2-d box predicate then skips every
  * file whose box misses it — at 100 TB the difference between reading
  * one column's worth of matching files and reading the whole table.
  *
  * Pieces:
  *  - [[quantize]]: map a column to a `bits`-wide integer code by
  *    min/max scaling — EXACT integer arithmetic (`(v - lo) * 2^bits
  *    DIV (hi - lo + 1)`), no doubles, so an oracle replays it
  *    bit-for-bit. Min/max quantization assumes roughly uniform keys
  *    (TPC-H-style surrogate ids); a heavily skewed column wants
  *    equi-DEPTH codes instead — rank the column with
  *    [[graft.functions.DistributedRank]] and quantize the rank, which
  *    this module deliberately leaves to the caller (same interleave
  *    downstream).
  *  - [[interleave]]: the Morton value as built-in shift/mask column
  *    expressions — whole-stage-codegen'd, no UDF.
  *  - [[zText]]: the SAME interleave as div/mod arithmetic TEXT, for
  *    engines without shift operators in the shared-oracle dialect
  *    (DuckDB spells integer division `//`, Spark `DIV` — the q223
  *    family convention); `Σ ((c DIV 2^i) % 2) * 2^(pos)` is exact on
  *    both.
  *  - [[writeZOrdered]]: the production write — ONE stats action
  *    freezes min/max, then `repartitionByRange` on the z-value +
  *    `sortWithinPartitions` so every output file covers a contiguous
  *    z-range (parquet page/file stats get monotone input, same
  *    rationale as `IoOps.writeClustered`). Range boundaries come from
  *    Spark's sampling — fine for a WRITE (any split preserves the
  *    locality property); the oracle-checked census (q252) assigns
  *    partitions by exact global rank instead so both engines agree on
  *    the assignment.
  *
  * Scale: the z column is a handful of codegen'd integer ops per row;
  * the write is one range exchange (the same price writeClustered pays).
  * Skew in the KEYS becomes skew in z only as far as min/max
  * quantization allows — the equi-depth route above restores balance.
  */
object ZOrderLayout {

  /** Exact `bits`-wide code for `v` in [lo, hi]: `(v-lo)*2^bits DIV
    * (hi-lo+1)` — monotone, 0-based, degenerate lo==hi maps to 0.
    * Integral `div`, never `Column./` (IEEE double division — past 2^53
    * the quotient can land a code on the wrong side of a boundary, the
    * IoOps.writeShards lesson). */
  def quantize(v: Column, lo: Column, hi: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 20, s"bits out of range: $bits")
    val width = lit(1L << bits)
    call_function("div",
      (v.cast("long") - lo.cast("long")) * width,
      hi.cast("long") - lo.cast("long") + lit(1L))
  }

  /** Morton interleave of two `bits`-wide codes: bit i of `a` lands at
    * position 2i+1, bit i of `b` at 2i (a is the more-significant
    * dimension). Built-in shift/mask expressions — codegen'd. */
  def interleave(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1),
          shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }
    terms.reduce(_.bitwiseOR(_))
  }

  /** [[interleave]] as pure div/mod/mul/add SQL text over column names
    * `a`/`b` — `div` is the dialect's integral-division token (Spark
    * `DIV`, DuckDB `//`). Exact-integer closure, so the two spellings
    * agree bit-for-bit with [[interleave]]. */
  def zText(a: String, b: String, bits: Int, div: String): String = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).flatMap { i =>
      Seq(s"(($a $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}",
          s"(($b $div ${1L << i}) % 2) * ${1L << (2 * i)}")
    }.mkString("(", " + ", ")")
  }

  /** [[quantize]] as shared SQL text (same div-token convention). */
  def quantizeText(v: String, lo: String, hi: String, bits: Int,
      div: String): String = {
    require(bits >= 1 && bits <= 20, s"bits out of range: $bits")
    s"((($v - $lo) * ${1L << bits}) $div ($hi - $lo + 1))"
  }

  /** One 1-row stats action + the overflow/degenerate guards shared by
    * both write paths: no non-null keys fails loud (the NullInputSpec
    * standard), and a key range past 2^(63−bits) fails loud because
    * `(v-lo)*2^bits` would overflow Long SILENTLY and land codes on
    * wrong partitions. */
  private def codeStats(df: DataFrame, colA: String, colB: String,
      bits: Int): (Long, Long, Long, Long) = {
    val r = df.agg(
      min(col(colA)).cast("long").as("alo"), max(col(colA)).cast("long").as("ahi"),
      min(col(colB)).cast("long").as("blo"), max(col(colB)).cast("long").as("bhi"))
      .head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"curved write: no non-null values in '$colA'/'$colB' " +
        "(empty frame or all-null key column) — nothing to quantize")
    def rangeOk(lo: Long, hi: Long, name: String): Unit =
      require(hi - lo >= 0 && hi - lo + 1 <= (Long.MaxValue >> bits),
        s"curved write: '$name' range [$lo, $hi] exceeds 2^${63 - bits} " +
          s"at bits=$bits — quantize would overflow; reduce bits or " +
          "pre-rank the column (equi-depth codes)")
    rangeOk(r.getLong(0), r.getLong(1), colA)
    rangeOk(r.getLong(2), r.getLong(3), colB)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Production curve-ordered rewrite: quantize `colA`/`colB` against
    * their observed min/max (ONE 1-row stats action — a driver scalar,
    * not a data collect), range-partition on the curve value and sort
    * within each task, so files carry tight (a, b) bounding boxes.
    * Null keys code as the minimum (bounding boxes stay correct —
    * nulls simply inflate file 0's box). `hilbert = true` orders by
    * the Hilbert index instead of Morton — the acting counterpart of
    * q253's census (tighter boxes, fewer files per probe) at the price
    * of the `bits`-step unroll per row; the unroll evaluates exactly
    * once here (single write job), so the multi-consumer checkpoint
    * rule does not apply. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      bits: Int = 10, partitions: Int = 32, hilbert: Boolean = false): Unit = {
    require(partitions >= 1, s"partitions must be >= 1 (got $partitions)")
    val (alo, ahi, blo, bhi) = codeStats(df, colA, colB, bits)
    val ca = quantize(coalesce(col(colA), lit(alo)), lit(alo), lit(ahi), bits)
    val cb = quantize(coalesce(col(colB), lit(blo)), lit(blo), lit(bhi), bits)
    val curved =
      if (hilbert)
        HilbertCurve.withHilbert(
          df.withColumn("__ca", ca).withColumn("__cb", cb),
          "__zv", col("__ca"), col("__cb"), bits).drop("__ca", "__cb")
      else df.withColumn("__zv", interleave(ca, cb, bits))
    curved
      .repartitionByRange(partitions, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** [[writeZOrdered]] with EXACT equi-depth boundaries — the
    * oracle-gateable write path (round-10; VERDICT r9 #4): partition id
    * is `(rank−1)·parts DIV n` over the curve value via the window-free
    * [[graft.functions.DistributedRank]] (rank ties broken by
    * `tieCols`), written as a `pid=`-partitioned directory tree with
    * the integer codes kept as data columns `ca`/`cb`. No sampling
    * anywhere, so the ENTIRE file layout — which rows land in which
    * file, each file's (ca, cb) bounding box — is replayable
    * bit-for-bit by an oracle (q260 prices q253's locality claim on
    * these real files). One file per pid (hash-repartition on the
    * partition key before the partitioned write — the per-directory
    * commit-cost rule). The sampling-based [[writeZOrdered]] stays the
    * cheaper production default: one range exchange, no rank pass, and
    * any boundary split preserves the locality property.
    *
    * The caller's frame must not already carry `ca`/`cb`/`pid` (they
    * become output columns — checked loud). */
  def writeCurvedExact(df: DataFrame, path: String, colA: String,
      colB: String, bits: Int = 10, parts: Long = 32L,
      hilbert: Boolean = false, tieCols: Seq[String] = Nil): Unit = {
    require(parts >= 1L, s"parts must be >= 1 (got $parts)")
    Seq("ca", "cb", "pid").foreach(c => require(!df.columns.contains(c),
      s"writeCurvedExact: input already has a '$c' column"))
    val (alo, ahi, blo, bhi) = codeStats(df, colA, colB, bits)
    val coded = df
      .withColumn("ca", quantize(coalesce(col(colA), lit(alo)),
        lit(alo), lit(ahi), bits))
      .withColumn("cb", quantize(coalesce(col(colB), lit(blo)),
        lit(blo), lit(bhi), bits))
    val curved =
      if (hilbert)
        // checkpoint-once: the rank pass (two jobs) + the write would
        // otherwise each re-run the coded+Hilbert projection (the q253
        // rule; the index itself is the codegen'd graft_hilbert since r12)
        HilbertCurve.withHilbert(coded, "__cv", col("ca"), col("cb"), bits)
          .transform(Cut(_))
      else coded.withColumn("__cv", interleave(col("ca"), col("cb"), bits))
    val ranked = graft.functions.DistributedRank
      .withRowNumberAndTotal(curved, "__rn", "__n",
        (col("__cv") +: tieCols.map(col)): _*)
    ranked
      .withColumn("pid", expr(s"((__rn - 1L) * ${parts}L) DIV __n"))
      .drop("__rn", "__n", "__cv")
      .repartition(col("pid"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pid").parquet(path)
  }
}
