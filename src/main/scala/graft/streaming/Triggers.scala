package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

import graft.functions.CombineFn
import graft.operators.Windows

/** Trigger engine with pane metadata — the port of the reference's
  * ReduceFnRunner + trigger state machines
  * (reference: RCORE/ReduceFnRunner.java:89 — active-window tracking,
  * firing, GC at window.maxTimestamp + allowedLateness;
  * RCORE/triggers/AfterWatermarkStateMachine.java,
  * AfterPaneStateMachine.java; pane bookkeeping
  * SDK/transforms/windowing/PaneInfo.java: index, EARLY/ON_TIME/LATE,
  * isFirst/isLast).
  *
  * Spark's built-in streaming aggregation covers DefaultTrigger append
  * (final pane) and update (refinements) — this operator exists for what
  * those modes cannot express: pane indices and timing labels, element-count
  * early firings (AfterPane.elementCountAtLeast), discarding-mode per-pane
  * deltas, and ClosingBehavior/OnTimeBehavior control.
  *
  * Execution shape: elements are window-assigned up front (Beam assigns
  * windows eagerly too — WindowedValue carries them), then keyed by
  * (userKey, windowStart) so per-(key, window) state matches Beam's state
  * namespaces (RCORE/StateNamespaces.java). Two event-time timers per
  * window: end-of-window (ON_TIME firing) and end + allowedLateness (final
  * firing + state GC).
  */
object Triggers {

  /** Firing condition before the watermark reaches end-of-window
    * (reference: AfterWatermark.java:76 withEarlyFirings,
    * AfterPane.java:31). */
  sealed trait EarlyFiring
  case object NoEarlyFiring extends EarlyFiring
  /** Fire on every micro-batch that saw input for the window —
    * AfterWatermark.withEarlyFirings(AfterProcessingTime...) at micro-batch
    * cadence. */
  case object EveryBatch extends EarlyFiring
  /** AfterPane.elementCountAtLeast(n). */
  final case class AfterCount(n: Int) extends EarlyFiring

  final case class TriggerConfig(
      windowSizeMs: Long,
      allowedLatenessMs: Long = 0L,
      early: EarlyFiring = NoEarlyFiring,
      /** fire a pane per micro-batch for late (post-on-time) input */
      lateFirings: Boolean = true,
      /** ACCUMULATING vs DISCARDING fired panes (WindowingStrategy.java:50) */
      accumulating: Boolean = true,
      /** OnTimeBehavior.FIRE_ALWAYS: emit the on-time pane even when empty
        * (WindowingStrategy.java:106) */
      onTimeAlways: Boolean = true,
      /** Variable-length calendar windows (reference: CalendarWindows
        * .java:96/:198/:314) — full multi-unit + time-zone config
        * ([[graft.operators.Windows.CalendarWindows]]); window boundaries
        * come from the shared grid math in Windows, ignoring
        * windowSizeMs. Assign with [[assignCalendarWindows]]. */
      calendar: Option[Windows.CalendarWindows] = None)

  /** End of the window starting at `startMs` under `cfg` (fixed span or
    * calendar grid — months/years vary in length; DST makes even day
    * windows variable in the configured zone). */
  private[streaming] def windowEndOf(cfg: TriggerConfig, startMs: Long): Long =
    cfg.calendar match {
      case None     => startMs + cfg.windowSizeMs
      case Some(cw) => Windows.calendarWindowEndMs(cw, startMs)
    }

  /** Calendar-window assignment: wstart from the shared anchored-grid
    * math ([[graft.operators.Windows.calendarWindowStartMs]] — same
    * floor/clamp semantics as the batch Column path). */
  def assignCalendarWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
                                  cw: Windows.CalendarWindows)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.map { case (k, ts, v) =>
      (k, Windows.calendarWindowStartMs(cw, ts.getTime), v)
    }

  /** One fired pane: (key, windowStart, windowEnd, value, paneIndex,
    * timing, isFinal). timing ∈ EARLY | ON_TIME | LATE. */
  type Pane[K, OUT] = (K, Long, Long, OUT, Int, String, Boolean)

  private val ON_TIME = "ON_TIME"; private val EARLY = "EARLY"; private val LATE = "LATE"

  /** The ReduceFnRunner analogue for one (key, window). */
  private class TriggerProcessor[K, V, ACC, OUT](
      fn: CombineFn[V, ACC, OUT], cfg: TriggerConfig)(
      implicit accEnc: Encoder[ACC], outEnc: Encoder[Pane[K, OUT]])
      extends StatefulProcessor[(K, Long), (K, Long, V), Pane[K, OUT]] {

    /** (acc, paneIndex, sinceLastFire, onTimeDone) in ONE record, read and
      * written once per call: each state variable costs an encoder bind per
      * partition per batch. The record and the window's timers are created
      * on its first input and dropped at its final pane together, so "the
      * record exists" means "the timers are registered". */
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
        getHandle.registerTimer(windowEnd(key._2))
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
          // input after the watermark passed end-of-window. The FIRST
          // post-watermark pane is the ON_TIME pane even when input and the
          // end-of-window timer land in the same micro-batch (PaneInfo's
          // ordering contract: ON_TIME precedes every LATE pane). This branch
          // implies allowedLateness > 0 — with zero lateness gcTime ==
          // windowEnd and the gate above already dropped the input — so a
          // non-final pane is always correct here (the GC timer emits the
          // final one).
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
      if (info.getExpiryTimeInMs() == windowEnd(key._2)) {
        val isFinal = cfg.allowedLatenessMs == 0
        val fired =
          if (onTimeDone) {
            // the ON_TIME pane already went out with same-batch input;
            // the timer only flushes data that arrived since
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

  /** Triggered fixed-window aggregation with pane metadata. `assigned` must
    * be (key, windowStartMs, value) with a watermark declared upstream
    * (use [[assignFixedWindows]]). */
  def triggeredAggregate[K, V, ACC, OUT](
      assigned: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT], cfg: TriggerConfig)(
      implicit kEnc: Encoder[(K, Long)], accEnc: Encoder[ACC],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] = {
    Stateful.requireRocksDBStateStore(assigned.sparkSession)
    assigned.groupByKey(r => (r._1, r._2))
      .transformWithState(new TriggerProcessor[K, V, ACC, OUT](fn, cfg),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Fixed-window assignment (FixedWindows.java:36): wstart =
    * floor(ts / size) * size, carried next to the key — Beam's eager window
    * assignment (Window.Assign). */
  def assignFixedWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)], sizeMs: Long)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.map { case (k, ts, v) =>
      val t = ts.getTime
      (k, math.floorDiv(t, sizeMs) * sizeMs, v)
    }

  /** Sliding-window triggered aggregation: takes the size ONCE and wires
    * assignment + TriggerConfig consistently (passing different sizes to
    * the two stages would silently corrupt window ends and timers). */
  def triggeredSlidingAggregate[K, V, ACC, OUT](
      events: Dataset[(K, java.sql.Timestamp, V)], fn: CombineFn[V, ACC, OUT],
      sizeMs: Long, periodMs: Long, allowedLatenessMs: Long = 0L,
      early: EarlyFiring = NoEarlyFiring, accumulating: Boolean = true)(
      implicit aEnc: Encoder[(K, Long, V)], kEnc: Encoder[(K, Long)],
      accEnc: Encoder[ACC], outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    triggeredAggregate(assignSlidingWindows(events, sizeMs, periodMs), fn,
      TriggerConfig(windowSizeMs = sizeMs, allowedLatenessMs = allowedLatenessMs,
        early = early, accumulating = accumulating))

  /** Sliding-window assignment (SlidingWindows.java:43): each element lands
    * in size/period windows — row duplication mirrors Beam's multi-window
    * WindowedValue membership. The pane processors work unchanged (window
    * end = start + size holds for sliding windows too). Prefer
    * [[triggeredSlidingAggregate]], which wires the size consistently. */
  def assignSlidingWindows[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
                                 sizeMs: Long, periodMs: Long)(
      implicit outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] =
    ds.flatMap { case (k, ts, v) =>
      val t = ts.getTime
      val lastStart = math.floorDiv(t, periodMs) * periodMs
      Iterator.iterate(lastStart)(_ - periodMs)
        .takeWhile(s => s > t - sizeMs)
        .map(s => (k, s, v)).toSeq
    }

  // ------------------------------------------------------- composite triggers

  /** Composite trigger AST (reference: SDK/transforms/windowing/Trigger.java:72;
    * state machines RCORE/triggers/AfterFirstStateMachine.java,
    * AfterAllStateMachine.java, AfterEachStateMachine.java,
    * RepeatedlyStateMachine.java, OrFinallyStateMachine.java,
    * AfterProcessingTimeStateMachine.java,
    * AfterWatermarkStateMachine.java:60 AfterWatermarkEarlyAndLate). Each
    * node keeps (elementCount, finished, procDeadline) per (key, window);
    * semantics follow the reference:
    *  - AfterWatermarkT fires once the watermark passes end-of-window, then
    *    finishes;
    *  - AfterCountT(n) fires when ≥ n elements arrived since its last
    *    reset, then finishes;
    *  - AfterProcessingTimeT(d[, alignPeriod, alignOffset]) —
    *    AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)
    *    [.alignedTo(period, offset)] (reference:
    *    SDK/transforms/windowing/AfterProcessingTime.java:37,:82): arms a
    *    processing-time deadline at the pane's first element and fires once
    *    the deadline passes, then finishes. Spark's transformWithState
    *    allows one TimeMode, and the pane engine runs in EventTime — so the
    *    deadline is checked at each evaluation opportunity (every input
    *    micro-batch and event-time timer): firing happens at micro-batch
    *    granularity after the deadline, the same cadence Beam's
    *    processing-time firings exhibit under a micro-batch runner.
    *    Quiescent keys are covered by a CATCH-UP event-time timer: while a
    *    deadline is armed, the processor keeps a timer registered just past
    *    the current watermark, so any later batch — data for OTHER keys
    *    included — wakes the armed key and re-checks the proc-time clock
    *    (re-registering until the deadline passes). A key goes unwoken only
    *    if the whole stream is silent, in which case no micro-batch runs at
    *    all — the inherent micro-batch narrowing, same as Beam on a
    *    micro-batch runner;
    *  - AfterWatermarkEL(early, late) — AfterWatermark.pastEndOfWindow()
    *    .withEarlyFirings(early).withLateFirings(late): early fires
    *    repeatedly before the watermark passes end-of-window, exactly one
    *    ON_TIME firing at/after it, then late fires repeatedly; the node
    *    never finishes (the window closes at the GC horizon).
    *    late=None means per-batch late refinements (Beam's default-trigger
    *    behavior, modeled as AfterCount(1)); early=None means no early
    *    panes;
    *  - AfterFirstT fires when ANY child would fire, then finishes;
    *  - AfterAllT fires when ALL children would fire, then finishes;
    *  - AfterEachT runs children in sequence, advancing as each finishes;
    *    it finishes with its last child;
    *  - RepeatedlyT(t) fires whenever t would fire and resets t — never
    *    finishes;
    *  - NeverT (reference: SDK/transforms/windowing/Never.java:36) never
    *    fires on its own: the window emits exactly one pane, the final
    *    flush at its GC horizon;
    *  - OrFinallyT(main, until): main's firings repeat until `until` would
    *    fire, which produces the FINAL pane and finishes the window.
    * A finished root closes the window (accumulator state dropped, a closed
    * marker retained until the GC horizon so later data for the window is
    * dropped, not re-aggregated) — ReduceFnRunner's trigger-finished +
    * droppedDueToClosedWindow contract.
    */
  sealed trait TriggerAst extends Serializable
  case object AfterWatermarkT extends TriggerAst
  final case class AfterCountT(n: Long) extends TriggerAst
  final case class AfterProcessingTimeT(delayMs: Long, alignPeriodMs: Long = 0L,
                                        alignOffsetMs: Long = 0L) extends TriggerAst {
    /** AfterProcessingTime.pastFirstElementInPane().plusDelayOf(delay)
      * [.alignedTo(period, offset)] (reference: AfterProcessingTime
      * .java:70 plusDelayOf, :82 alignedTo; TimestampTransform.AlignTo =
      * ceiling-align to the smallest period multiple since offset not
      * before the timestamp): the deadline armed at the pane's first
      * element. */
    private[graft] def deadlineFrom(nowMs: Long): Long = {
      val t = nowMs + delayMs
      if (alignPeriodMs <= 0) t
      else {
        val rem = Math.floorMod(t - alignOffsetMs, alignPeriodMs)
        if (rem == 0) t else t + (alignPeriodMs - rem)
      }
    }
  }
  final case class AfterWatermarkEL(early: Option[TriggerAst],
                                    late: Option[TriggerAst]) extends TriggerAst
  final case class AfterFirstT(children: Seq[TriggerAst]) extends TriggerAst
  final case class AfterAllT(children: Seq[TriggerAst]) extends TriggerAst
  final case class AfterEachT(children: Seq[TriggerAst]) extends TriggerAst
  final case class RepeatedlyT(child: TriggerAst) extends TriggerAst
  case object NeverT extends TriggerAst
  final case class OrFinallyT(main: TriggerAst, until: TriggerAst) extends TriggerAst

  /** Mutable per-window trigger state: node path →
    * (count, finished, procDeadlineMs; Long.MaxValue = unarmed). */
  private[graft] type TrigState = collection.mutable.Map[String, (Long, Boolean, Long)]

  /** Evaluation context: where the watermark stands relative to
    * end-of-window, and the processing-time clock for AfterProcessingTimeT.
    * `nowProcMs` is the ONLY processing-time input to every trigger
    * decision — the pane processors forward Spark's
    * `getCurrentProcessingTimeInMs()` here, and tests inject a virtual
    * clock at this seam (TriggersSpec's deterministic
    * AfterProcessingTime scenarios — no sleeps). */
  private[graft] final case class TrigCtx(wmPastEnd: Boolean, nowProcMs: Long)

  private[graft] object TriggerEval {
    def childPath(p: String, i: Int): String = s"$p.$i"
    private val NONE = (0L, false, Long.MaxValue)
    private def entry(path: String, st: TrigState) = st.getOrElse(path, NONE)

    /** AfterWatermarkEL child slots: 0 = early, 1 = late,
      * 2 = the "watermark fired" marker pseudo-child. */
    private def effLate(l: Option[TriggerAst]): TriggerAst = l.getOrElse(AfterCountT(1))

    def addElements(t: TriggerAst, path: String, st: TrigState, n: Long,
                    nowProcMs: Long): Unit = {
      val (c, f, d) = entry(path, st)
      val armed = t match {
        // pastFirstElementInPane: the deadline arms at the pane's first
        // element and survives until the node fires or resets
        case pt @ AfterProcessingTimeT(_, _, _) if d == Long.MaxValue && n > 0 =>
          pt.deadlineFrom(nowProcMs)
        case _ => d
      }
      st(path) = (c + n, f, armed)
      t match {
        case AfterFirstT(cs) => cs.zipWithIndex.foreach { case (ch, i) => addElements(ch, childPath(path, i), st, n, nowProcMs) }
        case AfterAllT(cs)   => cs.zipWithIndex.foreach { case (ch, i) => addElements(ch, childPath(path, i), st, n, nowProcMs) }
        case AfterEachT(cs)  => cs.zipWithIndex.foreach { case (ch, i) => addElements(ch, childPath(path, i), st, n, nowProcMs) }
        case RepeatedlyT(ch) => addElements(ch, childPath(path, 0), st, n, nowProcMs)
        case OrFinallyT(m, u) =>
          addElements(m, childPath(path, 0), st, n, nowProcMs)
          addElements(u, childPath(path, 1), st, n, nowProcMs)
        case AfterWatermarkEL(e, l) =>
          e.foreach(ch => addElements(ch, childPath(path, 0), st, n, nowProcMs))
          addElements(effLate(l), childPath(path, 1), st, n, nowProcMs)
        case _ => ()
      }
    }

    def finished(path: String, st: TrigState): Boolean = entry(path, st)._2

    def shouldFire(t: TriggerAst, path: String, st: TrigState,
                   ctx: TrigCtx): Boolean =
      !finished(path, st) && (t match {
        case NeverT           => false // only the GC-horizon flush fires
        case AfterWatermarkT  => ctx.wmPastEnd
        case AfterCountT(n)   => entry(path, st)._1 >= n
        case AfterProcessingTimeT(_, _, _) =>
          val d = entry(path, st)._3
          d != Long.MaxValue && ctx.nowProcMs >= d
        case AfterWatermarkEL(e, l) =>
          if (!ctx.wmPastEnd)
            e.exists(ch => shouldFire(ch, childPath(path, 0), st, ctx))
          else if (!finished(childPath(path, 2), st)) true // the ON_TIME firing
          else shouldFire(effLate(l), childPath(path, 1), st, ctx)
        case AfterFirstT(cs)  => cs.zipWithIndex.exists { case (ch, i) =>
          shouldFire(ch, childPath(path, i), st, ctx) }
        case AfterAllT(cs)    => cs.zipWithIndex.forall { case (ch, i) =>
          finished(childPath(path, i), st) || shouldFire(ch, childPath(path, i), st, ctx) }
        case AfterEachT(cs)   => cs.zipWithIndex.find { case (_, i) =>
          !finished(childPath(path, i), st) }.exists { case (ch, i) =>
          shouldFire(ch, childPath(path, i), st, ctx) }
        case RepeatedlyT(ch)  => shouldFire(ch, childPath(path, 0), st, ctx)
        case OrFinallyT(m, u) =>
          shouldFire(u, childPath(path, 1), st, ctx) ||
          shouldFire(m, childPath(path, 0), st, ctx)
      })

    /** Post-firing transition (the reference's onFire/onElement reset
      * logic). Returns nothing; mutates finished flags / resets counts. */
    def onFire(t: TriggerAst, path: String, st: TrigState, ctx: TrigCtx): Unit = t match {
      case NeverT => () // unreachable: NeverT never reports shouldFire
      case AfterWatermarkT | AfterCountT(_) | AfterProcessingTimeT(_, _, _) =>
        st(path) = (0L, true, Long.MaxValue)
      case AfterWatermarkEL(e, l) =>
        if (!ctx.wmPastEnd) {
          // early firings repeat: fire + reset the early child
          e.foreach { ch =>
            onFire(ch, childPath(path, 0), st, ctx)
            reset(ch, childPath(path, 0), st)
          }
        } else if (!finished(childPath(path, 2), st)) {
          // the ON_TIME firing: mark the watermark sub-trigger done and
          // start the late child fresh (pre-watermark elements don't count
          // toward late firings — AfterWatermarkStateMachine.onFire)
          st(childPath(path, 2)) = (0L, true, Long.MaxValue)
          reset(effLate(l), childPath(path, 1), st)
        } else {
          val lt = effLate(l)
          onFire(lt, childPath(path, 1), st, ctx)
          reset(lt, childPath(path, 1), st) // late firings repeat
        }
      // the node itself never finishes: the window stays open to the GC
      // horizon
      case AfterFirstT(cs) =>
        cs.zipWithIndex.foreach { case (ch, i) =>
          if (shouldFire(ch, childPath(path, i), st, ctx)) onFire(ch, childPath(path, i), st, ctx) }
        st(path) = (0L, true, Long.MaxValue)
      case AfterAllT(cs) =>
        cs.zipWithIndex.foreach { case (ch, i) =>
          if (!finished(childPath(path, i), st)) onFire(ch, childPath(path, i), st, ctx) }
        st(path) = (0L, true, Long.MaxValue)
      case AfterEachT(cs) =>
        cs.zipWithIndex.find { case (_, i) => !finished(childPath(path, i), st) }
          .foreach { case (ch, i) => onFire(ch, childPath(path, i), st, ctx) }
        if (cs.indices.forall(i => finished(childPath(path, i), st)))
          st(path) = (0L, true, Long.MaxValue)
      case RepeatedlyT(ch) =>
        onFire(ch, childPath(path, 0), st, ctx)
        reset(ch, childPath(path, 0), st) // forever: child restarts
      case OrFinallyT(m, u) =>
        if (shouldFire(u, childPath(path, 1), st, ctx)) st(path) = (0L, true, Long.MaxValue)
        else {
          onFire(m, childPath(path, 0), st, ctx)
          if (finished(childPath(path, 0), st)) reset(m, childPath(path, 0), st)
        }
    }

    def reset(t: TriggerAst, path: String, st: TrigState): Unit = {
      st(path) = NONE
      t match {
        case AfterFirstT(cs) => cs.zipWithIndex.foreach { case (ch, i) => reset(ch, childPath(path, i), st) }
        case AfterAllT(cs)   => cs.zipWithIndex.foreach { case (ch, i) => reset(ch, childPath(path, i), st) }
        case AfterEachT(cs)  => cs.zipWithIndex.foreach { case (ch, i) => reset(ch, childPath(path, i), st) }
        case RepeatedlyT(ch) => reset(ch, childPath(path, 0), st)
        case OrFinallyT(m, u) => reset(m, childPath(path, 0), st); reset(u, childPath(path, 1), st)
        case AfterWatermarkEL(e, l) =>
          e.foreach(ch => reset(ch, childPath(path, 0), st))
          reset(effLate(l), childPath(path, 1), st)
          st(childPath(path, 2)) = NONE
        case _ => ()
      }
    }

    /** Merge trigger state across merging windows (the reference's
      * TriggerStateMachine.onMerge in the RCORE/triggers state machines):
      * element counts add (the merged window saw the union of elements),
      * finished flags OR (a satisfied sub-trigger stays satisfied — in
      * particular a fired watermark marker keeps the merged window in
      * late-firing mode, matching MergingActiveWindowSet's
      * EOW-already-fired handling), processing-time deadlines take the
      * earliest armed value. */
    def merge(a: List[(String, Long, Boolean, Long)],
              b: List[(String, Long, Boolean, Long)]): List[(String, Long, Boolean, Long)] = {
      val m = collection.mutable.Map.empty[String, (Long, Boolean, Long)]
      (a ++ b).foreach { case (p, c, f, d) =>
        val (c0, f0, d0) = m.getOrElse(p, NONE)
        m(p) = (c0 + c, f0 || f, math.min(d0, d))
      }
      m.toList.map { case (p, (c, f, d)) => (p, c, f, d) }
    }
  }

  /** ReduceFnRunner with a composite trigger. Fires whenever the root
    * trigger says so; a finished root emits its pane as FINAL and GCs the
    * window. Timing labels: EARLY before the watermark passes end-of-window,
    * ON_TIME for the first at/after, LATE subsequently. */
  private class CompositeTriggerProcessor[K, V, ACC, OUT](
      fn: CombineFn[V, ACC, OUT], trigger: TriggerAst,
      windowSizeMs: Long, allowedLatenessMs: Long, accumulating: Boolean)(
      implicit accEnc: Encoder[ACC], outEnc: Encoder[Pane[K, OUT]])
      extends StatefulProcessor[(K, Long), (K, Long, V), Pane[K, OUT]] {

    @transient private var acc: ValueState[ACC] = _
    @transient private var paneIndex: ValueState[Int] = _
    @transient private var trigState: ValueState[List[(String, Long, Boolean, Long)]] = _
    @transient private var onTimeDone: ValueState[Boolean] = _
    @transient private var timersSet: ValueState[Boolean] = _
    @transient private var sinceFire: ValueState[Long] = _
    /** Set when the root trigger finished before the GC horizon: the window
      * is CLOSED — later data is dropped (droppedDueToClosedWindow), never
      * re-aggregated into a fresh accumulator. Cleared by the GC timer. */
    @transient private var closed: ValueState[Boolean] = _

    override def init(om: OutputMode, tm: TimeMode): Unit = {
      acc = getHandle.getValueState[ACC]("acc", accEnc, TTLConfig.NONE)
      paneIndex = getHandle.getValueState[Int]("paneIndex", Encoders.scalaInt, TTLConfig.NONE)
      trigState = getHandle.getValueState[List[(String, Long, Boolean, Long)]]("trig",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(String, Long, Boolean, Long)]](),
        TTLConfig.NONE)
      onTimeDone = getHandle.getValueState[Boolean]("onTimeDone", Encoders.scalaBoolean, TTLConfig.NONE)
      timersSet = getHandle.getValueState[Boolean]("timersSet", Encoders.scalaBoolean, TTLConfig.NONE)
      sinceFire = getHandle.getValueState[Long]("sinceFire", Encoders.scalaLong, TTLConfig.NONE)
      closed = getHandle.getValueState[Boolean]("closed", Encoders.scalaBoolean, TTLConfig.NONE)
    }

    private def windowEnd(ws: Long) = ws + windowSizeMs
    private def gcTime(ws: Long) = windowEnd(ws) + allowedLatenessMs

    /** One read per input group or timer (`get()` is null when absent); the
      * map is passed through. A stored state always holds the root path. */
    private def loadTrig(): TrigState = {
      val m = collection.mutable.Map.empty[String, (Long, Boolean, Long)]
      Option(trigState.get()).foreach(_.foreach { case (p, c, f, d) => m(p) = (c, f, d) })
      m
    }
    private def saveTrig(st: TrigState): Unit =
      trigState.update(st.toList.map { case (p, (c, f, d)) => (p, c, f, d) })

    /** Any unfinished node holding an armed processing-time deadline? */
    private def armedDeadline(st: TrigState): Boolean =
      st.valuesIterator.exists { case (_, f, d) => !f && d != Long.MaxValue }

    /** Quiescent-key catch-up (Beam's runner-scheduled proc-time timers,
      * RCORE/triggers/AfterProcessingTimeStateMachine.java: an idle key
      * still wakes when its deadline passes): while a proc-time deadline is
      * armed, keep an event-time timer registered just past the current
      * watermark. ANY later batch — data for other keys included — advances
      * the watermark, fires the timer, and re-evaluates this key against
      * the proc-time clock; if the deadline still hasn't passed, the
      * handler re-registers. Cost: one timer wake per armed key per
      * watermark advance, the same cadence Beam's proc-time timers exhibit
      * under a micro-batch runner. */
    private def armCatchupTimer(key: (K, Long), wm: Long, st: TrigState): Unit =
      if (armedDeadline(st) && wm + 1 < windowEnd(key._2))
        getHandle.registerTimer(wm + 1)

    private def fire(key: (K, Long), wmPastEnd: Boolean, isFinal: Boolean): Pane[K, OUT] = {
      val idx = if (paneIndex.exists()) paneIndex.get() else 0
      val a = if (acc.exists()) acc.get() else fn.createAccumulator()
      paneIndex.update(idx + 1)
      sinceFire.update(0L)
      if (!accumulating) acc.update(fn.createAccumulator())
      val timing =
        if (!wmPastEnd) "EARLY"
        else if (!(if (onTimeDone.exists()) onTimeDone.get() else false)) { onTimeDone.update(true); "ON_TIME" }
        else "LATE"
      (key._1, key._2, windowEnd(key._2), fn.extractOutput(a), idx, timing, isFinal)
    }

    /** Fires at most one pane, then saves `st` or (root finished) clears it. */
    private def evalAndFire(key: (K, Long), wm: Long, nowProcMs: Long,
                            st: TrigState): Iterator[Pane[K, OUT]] = {
      val wmPastEnd = wm >= windowEnd(key._2)
      val ctx = TrigCtx(wmPastEnd, nowProcMs)
      var out = List.empty[Pane[K, OUT]]
      if (TriggerEval.shouldFire(trigger, "r", st, ctx)) {
        TriggerEval.onFire(trigger, "r", st, ctx)
        val rootDone = TriggerEval.finished("r", st)
        out = fire(key, wmPastEnd, isFinal = rootDone) :: out
        if (rootDone) {
          // early closure: drop the aggregate state but leave a closed
          // marker until the GC horizon, so later same-window data is
          // DROPPED — without it the data would reopen the window with a
          // fresh accumulator and emit a second "final" pane
          clearAll()
          closed.update(true)
          st.clear() // a closed window arms no catch-up timer
          return out.reverseIterator
        }
      }
      saveTrig(st)
      out.reverseIterator
    }

    override def handleInputRows(key: (K, Long), rows: Iterator[(K, Long, V)],
                                 tv: TimerValues): Iterator[Pane[K, OUT]] = {
      val wm = tv.getCurrentWatermarkInMs()
      if (wm >= gcTime(key._2)) return Iterator.empty // too late
      if (closed.exists() && closed.get()) return Iterator.empty // closed window
      var a = if (acc.exists()) acc.get() else fn.createAccumulator()
      var n = 0L
      rows.foreach { r => a = fn.addInput(a, r._3); n += 1 }
      acc.update(a)
      sinceFire.update((if (sinceFire.exists()) sinceFire.get() else 0L) + n)
      val st = loadTrig()
      TriggerEval.addElements(trigger, "r", st, n, tv.getCurrentProcessingTimeInMs())
      if (!(if (timersSet.exists()) timersSet.get() else false)) {
        getHandle.registerTimer(windowEnd(key._2))
        getHandle.registerTimer(gcTime(key._2))
        timersSet.update(true)
      }
      val out = evalAndFire(key, wm, tv.getCurrentProcessingTimeInMs(), st)
      armCatchupTimer(key, wm, st)
      out
    }

    override def handleExpiredTimer(key: (K, Long), tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Pane[K, OUT]] = {
      if (closed.exists() && closed.get()) {
        // closed window tombstone: drop it for good at the GC horizon
        if (info.getExpiryTimeInMs() >= gcTime(key._2)) closed.clear()
        return Iterator.empty
      }
      val st = loadTrig()
      if (st.isEmpty && !acc.exists()) return Iterator.empty // already gone
      // GC first: with allowedLateness=0 the end-of-window timer IS the GC
      // timer (same timestamp, Spark dedups) — window expiry wins
      if (info.getExpiryTimeInMs() >= gcTime(key._2)) {
        // Window expiry. Final pane fires when:
        //  - the trigger itself would fire and its on-time pane has not
        //    fired yet (e.g. orFinally's AfterWatermark until-clause when
        //    allowedLateness=0 folds end-of-window into GC), or
        //  - data arrived since the last firing
        //    (ClosingBehavior.FIRE_IF_NON_EMPTY, WindowingStrategy.java:105), or
        //  - no pane ever fired (every window produces at least one pane).
        val onTime = onTimeDone.exists() && onTimeDone.get()
        val trigWants = !onTime && TriggerEval.shouldFire(trigger, "r", st,
          TrigCtx(wmPastEnd = true, tv.getCurrentProcessingTimeInMs()))
        val pending = if (sinceFire.exists()) sinceFire.get() else 0L
        val everFired = paneIndex.exists() && paneIndex.get() > 0
        val out =
          if (trigWants || pending > 0 || !everFired)
            Iterator.single(fire(key, wmPastEnd = true, isFinal = true))
          else Iterator.empty[Pane[K, OUT]]
        clearAll()
        out
      } else {
        // end-of-window timer vs proc-time catch-up timer: a catch-up fires
        // BEFORE end-of-window and must not report wmPastEnd — passing
        // windowEnd here would fire AfterWatermark children early
        val expiry = info.getExpiryTimeInMs()
        val wmNow = tv.getCurrentWatermarkInMs()
        val wmEff =
          if (expiry >= windowEnd(key._2)) windowEnd(key._2)
          else math.min(wmNow, windowEnd(key._2) - 1)
        val out = evalAndFire(key, wm = wmEff, tv.getCurrentProcessingTimeInMs(), st)
        if (expiry < windowEnd(key._2)) armCatchupTimer(key, wmNow, st)
        out
      }
    }

    private def clearAll(): Unit = {
      acc.clear(); paneIndex.clear(); trigState.clear(); onTimeDone.clear()
      timersSet.clear(); sinceFire.clear()
    }
  }

  // --------------------------------------------------------- merging sessions

  /** Per-window session state: (end, acc, paneIndex, onTimeFired,
    * pendingSinceFire, closed, triggerState). */
  type SessionW[ACC] = (Long, ACC, Int, Boolean, Long, Boolean, List[(String, Long, Boolean, Long)])

  /** Session-window pane processor: the reference's merging-window path
    * (reference: Sessions.java:40, WindowFn.mergeWindows WindowFn.java:82,
    * RCORE/MergingActiveWindowSet.java; ReduceFnRunner merge handling,
    * ReduceFnRunner.java:89 onMerge). Spark's built-in `session_window`
    * covers untriggered sessions; this operator adds what it cannot
    * express: pane metadata, late-data panes within allowedLateness, merge
    * of PARTIAL AGGREGATES — each element opens the proto-window its
    * WindowFn assigns (`assign(ts, value)`; Sessions = [ts, ts+gap)) and any
    * overlapping active windows merge via CombineFn.mergeAccumulators (the
    * contract that makes merging windows possible without re-buffering raw
    * elements) — and the FULL composite-trigger AST: each active window
    * carries its own trigger state machine, and window merges merge the
    * trigger state too (TriggerEval.merge — counts add, finished flags OR,
    * proc-time deadlines take the earliest).
    *
    * Per key: MapState windowStart → [[SessionW]]. Timers fire per window
    * end (ON_TIME) and end+lateness (final + GC); timers orphaned by merges
    * are ignored (no active window matches). A window whose ROOT trigger
    * finishes closes early: its aggregate state drops but a closed
    * tombstone survives to the GC horizon so later data in its span is
    * dropped (droppedDueToClosedWindow), not merged into a reopened
    * window. */
  private class SessionProcessor[K, V, ACC, OUT](
      fn: CombineFn[V, ACC, OUT], assign: (Long, V) => (Long, Long),
      allowedLatenessMs: Long,
      accumulating: Boolean, trigger: TriggerAst)(
      implicit accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]])
      extends StatefulProcessor[K, (K, Long, V), Pane[K, OUT]] {

    private type W = SessionW[ACC]
    @transient private var windows: MapState[Long, W] = _

    override def init(om: OutputMode, tm: TimeMode): Unit =
      windows = getHandle.getMapState[Long, W](
        "sessions", Encoders.scalaLong, accEnc, TTLConfig.NONE)

    private def fireFrom(key: K, start: Long, w: W, timing: String,
                         isFinal: Boolean): (Pane[K, OUT], W) = {
      val out = (key, start, w._1, fn.extractOutput(w._2), w._3, timing, isFinal)
      val nextAcc = if (accumulating) w._2 else fn.createAccumulator()
      (out, (w._1, nextAcc, w._3 + 1, timing != EARLY || w._4, 0L, w._6, w._7))
    }

    private def loadTrig(w: W): TrigState = {
      val m = collection.mutable.Map.empty[String, (Long, Boolean, Long)]
      w._7.foreach { case (p, c, f, d) => m(p) = (c, f, d) }
      m
    }
    private def withTrig(w: W, st: TrigState): W =
      (w._1, w._2, w._3, w._4, w._5, w._6,
        st.toList.map { case (p, (c, f, d)) => (p, c, f, d) })

    override def handleInputRows(key: K, rows: Iterator[(K, Long, V)],
                                 tv: TimerValues): Iterator[Pane[K, OUT]] = {
      val wm = tv.getCurrentWatermarkInMs()
      val nowProc = tv.getCurrentProcessingTimeInMs()
      val active = collection.mutable.Map.empty[Long, W]
      windows.iterator().foreach { p => active(p._1) = p._2 }
      val touched = collection.mutable.Set.empty[Long]
      rows.foreach { case (_, ts, v) =>
        // WindowFn.assignWindows: the proto-window is element-driven (value
        // AND timestamp — Beam's AssignContext exposes both); Sessions is
        // (ts, ts + gap), a dynamic-gap WindowFn reads the gap off `v`
        val (wStart0, end) = assign(ts, v)
        require(wStart0 < end, s"assign produced empty window [$wStart0, $end)")
        if (wm < end + allowedLatenessMs) { // not too late
          // merge every INTERSECTING active window - abutting half-open
          // intervals stay separate (Beam IntervalWindow.intersects;
          // MergeOverlappingIntervalWindows.java:37;
          // MergingActiveWindowSet.mergeIfAppropriate)
          val overlapping = active.filter { case (s, w) => s < end && wStart0 < w._1 }
          if (overlapping.exists(_._2._6)) {
            // the element's span touches a CLOSED window (root trigger
            // finished): Beam drops such elements
            // (droppedDueToClosedWindow) rather than reopening or
            // extending the window
          } else {
            var start = wStart0
            var acc = fn.addInput(fn.createAccumulator(), v)
            var newEnd = end
            var paneIdx = 0
            var fired = false
            var pending = 1L
            var trig = List.empty[(String, Long, Boolean, Long)]
            overlapping.foreach { case (s, (e, a, pi, f, pd, _, tg)) =>
              start = math.min(start, s); newEnd = math.max(newEnd, e)
              acc = fn.mergeAccumulators(a, acc)
              paneIdx = math.max(paneIdx, pi); fired = fired || f; pending += pd
              trig = TriggerEval.merge(trig, tg)
              active.remove(s); touched -= s
            }
            val merged: W = (newEnd, acc, paneIdx, fired, pending, false, trig)
            val st = loadTrig(merged)
            TriggerEval.addElements(trigger, "r", st, 1L, nowProc)
            active(start) = withTrig(merged, st)
            touched += start
          }
        }
      }
      var out = List.empty[Pane[K, OUT]]
      windows.clear()
      touched.foreach { s =>
        val w = active(s)
        // the element-acceptance gate guarantees wm < end + lateness for
        // every touched window, so a touched window is never AT its GC
        // horizon here — the GC timer owns final flushing
        val wmPastEnd = wm >= w._1
        val st = loadTrig(w)
        val ctx = TrigCtx(wmPastEnd, nowProc)
        if (TriggerEval.shouldFire(trigger, "r", st, ctx)) {
          TriggerEval.onFire(trigger, "r", st, ctx)
          val rootDone = TriggerEval.finished("r", st)
          // with zero allowed lateness a post-watermark pane is also the
          // window's last (the same-batch/next timer GCs silently)
          val isFinal = rootDone || (wmPastEnd && allowedLatenessMs == 0)
          val timing = if (!wmPastEnd) EARLY else if (!w._4) ON_TIME else LATE
          val (pane, next) = fireFrom(key, s, withTrig(w, st), timing, isFinal)
          out = pane :: out
          if (rootDone) {
            // early closure: tombstone until GC (see class doc)
            active(s) = (next._1, fn.createAccumulator(), next._3, next._4,
              0L, true, Nil)
          } else active(s) = next
        } else active(s) = withTrig(w, st)
        active.get(s).foreach { w2 =>
          getHandle.registerTimer(w2._1)
          if (allowedLatenessMs > 0) getHandle.registerTimer(w2._1 + allowedLatenessMs)
        }
      }
      active.foreach { case (s, w) => windows.updateValue(s, w) }
      out.reverseIterator
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Pane[K, OUT]] = {
      val expiry = info.getExpiryTimeInMs()
      val nowProc = tv.getCurrentProcessingTimeInMs()
      var out = List.empty[Pane[K, OUT]]
      windows.iterator().toList.foreach { case (s, w) =>
        if (w._1 + allowedLatenessMs == expiry || (allowedLatenessMs == 0 && w._1 == expiry)) {
          // GC horizon. Closed tombstones just evaporate; open windows
          // flush a final pane when the trigger still wants to fire
          // (on-time never happened), data is pending since the last
          // firing (ClosingBehavior.FIRE_IF_NON_EMPTY), or no pane ever
          // fired
          if (!w._6) {
            val st = loadTrig(w)
            val trigWants = !w._4 && TriggerEval.shouldFire(trigger, "r", st,
              TrigCtx(wmPastEnd = true, nowProc))
            if (trigWants || w._5 > 0 || w._3 == 0) {
              val (pane, _) = fireFrom(key, s, w, if (w._4) LATE else ON_TIME, isFinal = true)
              out = pane :: out
            }
          }
          windows.removeKey(s)
        } else if (w._1 == expiry && !w._6) {
          // end-of-window with allowedLateness > 0 (when lateness == 0 the
          // GC branch above matched this same expiry): evaluate the trigger
          // with the watermark past the end — the ON_TIME opportunity;
          // composite roots may also finish here
          val st = loadTrig(w)
          val ctx = TrigCtx(wmPastEnd = true, nowProc)
          if (TriggerEval.shouldFire(trigger, "r", st, ctx)) {
            TriggerEval.onFire(trigger, "r", st, ctx)
            val rootDone = TriggerEval.finished("r", st)
            val (pane, next) = fireFrom(key, s, withTrig(w, st),
              if (w._4) LATE else ON_TIME, isFinal = rootDone)
            out = pane :: out
            if (rootDone)
              windows.updateValue(s, (next._1, fn.createAccumulator(), next._3,
                next._4, 0L, true, Nil))
            else windows.updateValue(s, next)
          }
        }
        // stale timers from merged-away windows match nothing: ignored
      }
      out.reverseIterator
    }
  }

  /** Session-windowed triggered aggregation with the DEFAULT trigger shape
    * (AfterWatermark, optional early/late element-count firings — the
    * `early_late_sessions` transcript shape). Panes carry the real merged
    * session bounds. `events` must be (key, eventTimeMs, value) with a
    * watermark declared upstream. */
  def sessionAggregate[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      gapMs: Long, allowedLatenessMs: Long = 0L, accumulating: Boolean = true,
      earlyCount: Option[Long] = None, lateCount: Option[Long] = None)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    sessionAggregateTriggered(events, fn, gapMs,
      AfterWatermarkEL(earlyCount.map(AfterCountT(_)), lateCount.map(AfterCountT(_))),
      allowedLatenessMs, accumulating)

  /** Session-windowed aggregation under an ARBITRARY composite trigger AST —
    * the reference's ReduceFnRunner-over-merging-windows path (any trigger
    * state machine composed with Sessions). Sessions.java:61 assigns
    * [ts, ts + gap). */
  def sessionAggregateTriggered[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      gapMs: Long, trigger: TriggerAst, allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] =
    mergingWindowAggregate(events, fn, (ts: Long, _: V) => (ts, ts + gapMs),
      trigger, allowedLatenessMs, accumulating)

  /** CUSTOM merging WindowFn (reference: SDK/transforms/windowing/
    * WindowFn.java — assignWindows gets the element's value and timestamp
    * via AssignContext; mergeWindows for interval WindowFns is
    * MergeOverlappingIntervalWindows.java:37, the rule every practical
    * merging WindowFn uses): `assign(ts, value)` produces the element's
    * proto-window [start, end) and intersecting active windows merge —
    * accumulators, pane metadata and trigger state included. Sessions is
    * `(ts, _) => (ts, ts + gapMs)`; a data-driven dynamic-gap session fn
    * reads its gap off the value. Runs the full composite-trigger AST. */
  def mergingWindowAggregate[K, V, ACC, OUT](
      events: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      assign: (Long, V) => (Long, Long), trigger: TriggerAst,
      allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[K], accEnc: Encoder[SessionW[ACC]],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] = {
    Stateful.requireRocksDBStateStore(events.sparkSession)
    events.groupByKey(_._1)
      .transformWithState(
        new SessionProcessor[K, V, ACC, OUT](fn, assign, allowedLatenessMs,
          accumulating, trigger),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Triggered aggregation with a composite trigger AST. */
  def triggeredAggregateComposite[K, V, ACC, OUT](
      assigned: Dataset[(K, Long, V)], fn: CombineFn[V, ACC, OUT],
      trigger: TriggerAst, windowSizeMs: Long, allowedLatenessMs: Long = 0L,
      accumulating: Boolean = true)(
      implicit kEnc: Encoder[(K, Long)], accEnc: Encoder[ACC],
      outEnc: Encoder[Pane[K, OUT]]): Dataset[Pane[K, OUT]] = {
    Stateful.requireRocksDBStateStore(assigned.sparkSession)
    assigned.groupByKey(r => (r._1, r._2))
      .transformWithState(
        new CompositeTriggerProcessor[K, V, ACC, OUT](fn, trigger, windowSizeMs,
          allowedLatenessMs, accumulating),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
