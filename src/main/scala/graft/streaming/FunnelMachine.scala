package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, ValueState}

/** One funnel input event (epoch millis). */
final case class FunnelEvent(userId: Long, tsMs: Long, eventType: String)

/** Emitted exactly once per user per completed step (1=view, 2=click,
  * 3=purchase), carrying the step's event time. */
final case class FunnelStep(userId: Long, step: Int, tsMs: Long)

/** Streaming ordered-conversion funnel — the incremental form of batch
  * q101 (`queries/BehaviorQueries`): step N completes at the first
  * qualifying event at-or-after step N−1's completion time. Per-user
  * state is three epoch-millis slots in a typed [[ValueState]] on the
  * RocksDB store (transformWithState), so state per user is O(1) and
  * the machine holds nothing else — the scale contract a billion-user
  * funnel needs.
  *
  * Within a micro-batch, events are processed in event-time order
  * (sorted per user per batch); ACROSS batches the machine is a forward
  * pass, so feeding it event-time-ordered batches (replay, or a
  * watermark-sorted upstream) reproduces the batch q101 step times
  * exactly — FunnelMachineSpec replays the fixture and asserts per-user
  * equality with the batch formulation. A late event older than an
  * already-completed step is ignored (monotone forward pass), which is
  * the deliberate streaming trade: q101 remains the exact batch
  * re-statement. */
object FunnelMachine {

  private val Steps = Map("view" -> 1, "click" -> 2, "purchase" -> 3)

  /** (t1, t2, t3) epoch millis, -1 = step not reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  final class Processor
      extends StatefulProcessor[Long, FunnelEvent, FunnelStep] {
    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, events: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelStep] = {
      var st = if (state.exists()) state.get() else FunnelState(-1L, -1L, -1L)
      val out = Seq.newBuilder[FunnelStep]
      events.toSeq.sortBy(e => (e.tsMs, Steps.getOrElse(e.eventType, 9)))
        .foreach { e =>
          (Steps.getOrElse(e.eventType, 0), st) match {
            case (1, FunnelState(-1L, _, _)) =>
              st = st.copy(t1 = e.tsMs); out += FunnelStep(uid, 1, e.tsMs)
            case (2, FunnelState(t1, -1L, _)) if t1 >= 0 && e.tsMs >= t1 =>
              st = st.copy(t2 = e.tsMs); out += FunnelStep(uid, 2, e.tsMs)
            case (3, FunnelState(_, t2, -1L)) if t2 >= 0 && e.tsMs >= t2 =>
              st = st.copy(t3 = e.tsMs); out += FunnelStep(uid, 3, e.tsMs)
            case _ => // step already done, out of order, or unknown type
          }
        }
      state.update(st)
      out.result().iterator
    }
  }

  /** Wire the machine onto a funnel-event stream. Requires the RocksDB
    * state store provider, as transformWithState does. */
  def funnelSteps(events: Dataset[FunnelEvent])(
      implicit s: SparkSession): Dataset[FunnelStep] = {
    import s.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append())
  }
}
