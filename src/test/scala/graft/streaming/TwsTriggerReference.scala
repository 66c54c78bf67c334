package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.functions.CombineFn
import graft.streaming.Triggers._

/** The fixed-window pane processor as it ran on transformWithState before
  * `Triggers.triggeredAggregate` moved to flatMapGroupsWithState: one
  * ValueState record and two event-time timers per (key, window), the
  * timers firing once the watermark reaches them. Kept as the reference
  * of FuzzFixedTriggerSpec's differential and as the writer of
  * old-layout checkpoints in CheckpointRecoverySpec.
  *
  * `tieShiftMs` plants a bug for the fuzz layer's sensitivity check: a
  * nonzero value registers the end-of-window timer that much late, so
  * the ON_TIME step no longer fires at a watermark equal to window end. */
object TwsTriggerReference {

  private val ON_TIME = "ON_TIME"; private val EARLY = "EARLY"; private val LATE = "LATE"

  private class TriggerProcessor[K, V, ACC, OUT](
      fn: CombineFn[V, ACC, OUT], cfg: TriggerConfig, tieShiftMs: Long)(
      implicit accEnc: Encoder[ACC], outEnc: Encoder[Pane[K, OUT]])
      extends StatefulProcessor[(K, Long), (K, Long, V), Pane[K, OUT]] {

    /** (acc, paneIndex, sinceLastFire, onTimeDone) in ONE record, read and
      * written once per call. The record and the window's timers are
      * created on its first input and dropped at its final pane together,
      * so "the record exists" means "the timers are registered". */
    private type Rec = (ACC, Int, Long, Boolean)
    @transient private var window: ValueState[Rec] = _

    override def init(om: OutputMode, tm: TimeMode): Unit =
      window = getHandle.getValueState[Rec]("window",
        Encoders.tuple(accEnc, Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaBoolean),
        TTLConfig.NONE)

    private def windowEnd(wstart: Long): Long = windowEndOf(cfg, wstart)
    private def gcTime(wstart: Long): Long = windowEnd(wstart) + cfg.allowedLatenessMs
    private def fresh: Rec = (fn.createAccumulator(), 0, 0L, false)
    private def load(): Option[Rec] = Option(window.get()) // null if absent: one read

    /** The pane for `r` and the record after it fired. */
    private def fire(key: (K, Long), r: Rec, timing: String,
                     isFinal: Boolean): (Pane[K, OUT], Rec) = {
      val (a, idx, _, onTimeDone) = r
      val pane = (key._1, key._2, windowEnd(key._2), fn.extractOutput(a), idx, timing, isFinal)
      val next = if (cfg.accumulating) a else fn.createAccumulator() // discarding: emit delta
      (pane, (next, idx + 1, 0L, onTimeDone || timing == ON_TIME))
    }

    override def handleInputRows(key: (K, Long), rows: Iterator[(K, Long, V)],
                                 tv: TimerValues): Iterator[Pane[K, OUT]] = {
      val wm = tv.getCurrentWatermarkInMs()
      // too-late data: beyond GC horizon → dropped
      // (reference: RCORE/LateDataDroppingDoFnRunner.java)
      if (wm >= gcTime(key._2)) return Iterator.empty

      val prior = load()
      if (prior.isEmpty) {
        getHandle.registerTimer(windowEnd(key._2) + tieShiftMs)
        if (cfg.allowedLatenessMs > 0) getHandle.registerTimer(gcTime(key._2))
      }
      val (a0, idx, n0, onTimeDone) = prior.getOrElse(fresh)
      var a = a0
      var count = 0L
      rows.foreach { r => a = fn.addInput(a, r._3); count += 1 }
      val n = n0 + count
      val r = (a, idx, n, onTimeDone)

      val fired =
        if (wm >= windowEnd(key._2)) {
          // the FIRST post-watermark pane is the ON_TIME pane even when
          // input and the end-of-window timer land in the same micro-batch
          if (cfg.lateFirings && count > 0)
            Some(fire(key, r, if (onTimeDone) LATE else ON_TIME, isFinal = false))
          else None
        } else cfg.early match {
          case EveryBatch if count > 0   => Some(fire(key, r, EARLY, isFinal = false))
          case AfterCount(k) if n >= k   => Some(fire(key, r, EARLY, isFinal = false))
          case _                         => None
        }
      window.update(fired.fold(r)(_._2))
      fired.iterator.map(_._1)
    }

    override def handleExpiredTimer(key: (K, Long), tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Pane[K, OUT]] = {
      val r = load().getOrElse(fresh)
      val (_, _, pending, onTimeDone) = r
      if (info.getExpiryTimeInMs() == windowEnd(key._2) + tieShiftMs) {
        val isFinal = cfg.allowedLatenessMs == 0
        val fired =
          if (onTimeDone) {
            if (pending > 0) Some(fire(key, r, LATE, isFinal)) else None
          } else if (cfg.onTimeAlways || pending > 0) Some(fire(key, r, ON_TIME, isFinal))
          else None
        if (isFinal) window.clear() else fired.foreach(f => window.update(f._2))
        fired.iterator.map(_._1)
      } else {
        // GC timer: final pane only if data arrived since the last firing
        // (ClosingBehavior.FIRE_IF_NON_EMPTY, WindowingStrategy.java:105)
        window.clear()
        if (pending > 0) Iterator(fire(key, r, LATE, isFinal = true)._1)
        else Iterator.empty
      }
    }
  }

  /** `Triggers.triggeredAggregate`'s contract on transformWithState. */
  def triggeredAggregate[K, V, ACC, OUT](
      assigned: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT], cfg: TriggerConfig,
      tieShiftMs: Long = 0L)(
      implicit kEnc: Encoder[(K, Long)], accEnc: Encoder[ACC],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] = {
    Stateful.requireRocksDBStateStore(assigned.sparkSession)
    assigned.groupByKey(r => (r._1, r._2))
      .transformWithState(new TriggerProcessor[K, V, ACC, OUT](fn, cfg, tieShiftMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
