package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, ValueState}

/** One changelog operation: key, total order (seqUs, opId), tombstone
  * flag, payload. The (seqUs, opId) pair is unique per op, so "latest"
  * is total — late or duplicate delivery can never make it ambiguous. */
final case class CdcOp(key: Long, seqUs: Long, opId: Long,
  isDel: Boolean, cents: Long)

/** Per-key snapshot view emitted each micro-batch the key appears in:
  * cumulative op/delete counts plus the current winning operation.
  * `nOps` strictly increases on every emission for a key, so the row
  * with the maximal nOps IS the final state — no batch ids needed to
  * reconstruct the end-of-stream snapshot from an append sink. */
final case class CdcRow(key: Long, nOps: Long, nDeletes: Long,
  isDel: Boolean, cents: Long)

private[streaming] final case class CdcState(nOps: Long, nDeletes: Long,
  seqUs: Long, opId: Long, isDel: Boolean, cents: Long)

/** Streaming CDC apply — the incremental twin of batch q227
  * (`queries/EtlQueries`): per key, keep the operation with the maximal
  * (seqUs, opId) plus running op/delete counts, in O(1) typed state per
  * key on RocksDB (the transformWithState shape of FunnelMachine /
  * ConcurrencyMachine). A key whose winner is a tombstone is a DEAD
  * key: it stays in state (a later out-of-order upsert with a higher seq
  * may revive it) but a snapshot consumer filters `isDel`. Because the
  * winner is the max over a TOTAL order, the final state is independent
  * of how the changelog is split into micro-batches and of arrival order
  * within them — CdcMachineSpec proves replay equality against the batch
  * q227 snapshot under an adversarial shuffled split.
  *
  * At 100 TB: state is one fixed-size row per live key (the same bound
  * as the batch max_by's map-side candidate), keyed shuffles only on the
  * changelog's key — the standard Debezium-topic → lakehouse-table apply
  * loop with exactly-once state from checkpointing. */
object CdcMachine {

  final class Processor extends StatefulProcessor[Long, CdcOp, CdcRow] {
    @transient private var st: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcState](
        "cdc", Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcOp],
        timerValues: TimerValues): Iterator[CdcRow] = {
      var s = if (st.exists()) st.get()
        else CdcState(0L, 0L, Long.MinValue, Long.MinValue, isDel = false, 0L)
      rows.foreach { op =>
        val wins = op.seqUs > s.seqUs ||
          (op.seqUs == s.seqUs && op.opId > s.opId)
        s = CdcState(
          s.nOps + 1L,
          s.nDeletes + (if (op.isDel) 1L else 0L),
          if (wins) op.seqUs else s.seqUs,
          if (wins) op.opId else s.opId,
          if (wins) op.isDel else s.isDel,
          if (wins) op.cents else s.cents)
      }
      st.update(s)
      Iterator.single(CdcRow(key, s.nOps, s.nDeletes, s.isDel, s.cents))
    }
  }

  /** Wire the apply loop onto a changelog stream (RocksDB provider
    * required, as for every transformWithState op). */
  def snapshots(ops: Dataset[CdcOp])(
      implicit s: SparkSession): Dataset[CdcRow] = {
    import s.implicits._
    ops.groupByKey(_.key)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append())
  }

  /** End-of-stream snapshot from an APPEND sink of [[CdcRow]]
    * emissions — the reconstruction the CdcRow scaladoc promises:
    * `nOps` strictly increases on every emission for a key, so the
    * row with the maximal nOps IS the latest state. One declarative
    * max_by per key (map-side partial reduction, the q227 idiom — no
    * window/sort over the emission history); O(keys) output whatever
    * the history length. Tombstoned keys are RETAINED (isDel=true) —
    * a snapshot consumer filters, exactly as with the live state. */
  def reconstruct(rows: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    rows.groupBy(col("key"))
      .agg(max(col("nOps")).as("nOps"),
        max_by(col("nDeletes"), col("nOps")).as("nDeletes"),
        max_by(col("isDel"), col("nOps")).as("isDel"),
        max_by(col("cents"), col("nOps")).as("cents"))
  }
}
