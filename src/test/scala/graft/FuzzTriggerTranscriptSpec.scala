package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Triggers
import graft.streaming.Triggers._

/** SEVENTH differential fuzz layer (r12 verdict item 4): full pane
  * SEQUENCES of the composite-trigger engine, not just final panes.
  * FuzzSessionTriggerSpec gates the merging path's final panes and the
  * hand transcript corpus covers ~20 fixed scenarios; this layer
  * generates random composite trigger ASTs and random element/watermark
  * schedules, runs them through `Triggers.triggeredAggregateComposite`
  * (the real processor: RocksDB state, event-time timers, micro-batch
  * admission), and through [[TriggerSim]], a plain-Scala in-memory
  * interpreter of the Beam trigger semantics (the `RCORE/triggers/`
  * state machines are the spec), comparing COMPLETE transcripts —
  * (window, paneIndex, timing, isFinal, values) for every pane.
  *
  * The interpreter is structurally independent where it counts: node
  * state lives in a mutable TREE (one object per AST node — the shared
  * [[TriggerSim]], also the reference for the merging-session transcript
  * layer), not the engine's path-string-keyed flat map, so
  * path-bookkeeping bugs in the engine cannot be mirrored; and the
  * scheduler is ~40 lines of direct
  * micro-batch modeling (wm = max event ts, timers fire at wm >= expiry
  * — the rule TimerTieProbeSpec pins) with none of the processor's
  * state-store/timer machinery.
  *
  * Scope: element-count / watermark triggers only — AfterProcessingTimeT
  * depends on the wall clock, which no deterministic differential can
  * replay (the hand corpus + CompositeTriggerSpec cover it).
  *
  * Sensitivity (planted-bug protocol, results in BASELINE.md round 13):
  * disabling the late-child reset in the ENGINE's AfterWatermarkEL
  * onFire, and separately mis-counting paneIndex, both diverge within
  * the default trials.
  */
class FuzzTriggerTranscriptSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong
  private val Trials = sys.env.getOrElse("SPARK_GRAFT_TRIGFUZZ_N", "5").toInt
  private val WindowMs = 10000L

  import TriggerSim.{genAst, build, genSchedule, In, Sim, Step, Wm}

  private type PaneT = (Long, Int, String, Boolean, Seq[Long])

  /** The micro-batch scheduler model: wm = max event ts (0s delay), one
    * trigger evaluation per window per batch, end/GC timers firing once
    * the watermark REACHES them (TimerTieProbeSpec), gc-before-end when
    * both expire, closed-window tombstones, FIRE_IF_NON_EMPTY flush. */
  private def interpret(trigger: TriggerAst, steps: Seq[Step],
                        latenessMs: Long, accumulating: Boolean): Set[PaneT] = {
    final class Win(val ws: Long) {
      val values = scala.collection.mutable.ListBuffer.empty[Long]
      var paneIndex = 0
      var onTime = false
      var sinceFire = 0L
      var closed = false
      var gone = false
      var endPending = true
      var gcPending = true
      val trig: Sim = build(trigger)
      def end: Long = ws + WindowMs
      def gc: Long = end + latenessMs
    }
    val wins = scala.collection.mutable.Map.empty[Long, Win]
    val out = Set.newBuilder[PaneT]
    var wm = 0L

    def fire(w: Win, wmPast: Boolean, isFinal: Boolean): Unit = {
      val timing =
        if (!wmPast) "EARLY"
        else if (!w.onTime) { w.onTime = true; "ON_TIME" }
        else "LATE"
      out += ((w.ws, w.paneIndex, timing, isFinal, w.values.toSeq.sorted))
      w.paneIndex += 1
      w.sinceFire = 0
      if (!accumulating) w.values.clear()
    }
    def evalAndFire(w: Win, wmX: Long): Unit = {
      val wmPast = wmX >= w.end
      if (w.trig.shouldFire(wmPast)) {
        w.trig.onFire(wmPast)
        val done = w.trig.fin
        fire(w, wmPast, isFinal = done)
        if (done) { // early closure: tombstone until the GC horizon
          w.values.clear(); w.closed = true
        }
      }
    }
    def fireTimers(wmNow: Long): Unit = {
      // all expired timers, in expiry order (end before gc per window)
      val events = wins.values.filter(!_.gone).flatMap { w =>
        val e = if (w.endPending && w.end <= wmNow && w.end < w.gc) Seq((w.end, 0, w)) else Nil
        val g = if (w.gcPending && w.gc <= wmNow) Seq((w.gc, 1, w)) else Nil
        e ++ g
      }.toSeq.sortBy(t => (t._1, t._2))
      events.foreach { case (expiry, kind, w) =>
        if (kind == 0) w.endPending = false else w.gcPending = false
        if (w.closed) { if (expiry >= w.gc) w.gone = true }
        else if (!w.gone) {
          if (expiry >= w.gc) { // window expiry: FIRE_IF_NON_EMPTY flush
            val trigWants = !w.onTime && w.trig.shouldFire(true)
            if (trigWants || w.sinceFire > 0 || w.paneIndex == 0)
              fire(w, wmPast = true, isFinal = true)
            w.gone = true
          } else evalAndFire(w, w.end) // end-of-window timer
        }
      }
    }

    steps.foreach {
      case In(tsSec) =>
        val byWin = tsSec.map(_ * 1000).groupBy(ms => math.floorDiv(ms, WindowMs) * WindowMs)
        byWin.foreach { case (ws, ms) =>
          // the admissibility check runs BEFORE window-state creation,
          // exactly like the processor's early return: input past the GC
          // horizon must not leave a record behind (a phantom record
          // would GC-flush an empty "!everFired" pane later)
          if (wm < ws + WindowMs + latenessMs) {
            val w = wins.getOrElseUpdate(ws, new Win(ws))
            if (!w.gone && !w.closed) {
              ms.foreach(m => w.values += m / 1000)
              w.sinceFire += ms.size
              w.trig.add(ms.size)
              evalAndFire(w, wm)
            }
          }
        }
        wm = math.max(wm, tsSec.max * 1000)
        fireTimers(wm)
      case Wm(t) =>
        wm = math.max(wm, t * 1000)
        fireTimers(wm)
    }
    out.result()
  }

  // ------------------------------------------------------------ engine run

  private def engine(trigger: TriggerAst, steps: Seq[Step], latenessMs: Long,
                     accumulating: Boolean, sink: String): Set[PaneT] = {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], WindowMs)
    val panes = Triggers.triggeredAggregateComposite(assigned, collectLongsFn,
      trigger, windowSizeMs = WindowMs, allowedLatenessMs = latenessMs,
      accumulating = accumulating)
    val q = panes.toDF("k", "ws", "we", "vs", "idx", "timing", "fin")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      steps.foreach {
        case In(ts) =>
          input.addData(ts.map(t => ("data", new Timestamp(t * 1000), t)): _*)
          q.processAllAvailable()
        case Wm(t) =>
          input.addData(("__wm", new Timestamp(t * 1000), 0L))
          q.processAllAvailable()
      }
      // the final Wm(3000) passes every "data" window's GC horizon; only the
      // unfiltered __wm rider's own last window may still hold a row
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= 1, s"$stateRows state rows after the final watermark")
      spark.table(sink).collect().filter(_.getString(0) == "data")
        .map(r => (r.getAs[Long]("ws"), r.getAs[Int]("idx"),
          r.getAs[String]("timing"), r.getAs[Boolean]("fin"),
          r.getSeq[Long](3).toSeq.sorted)).toSet
    } finally q.stop()
  }

  test(s"random composite-trigger pane transcripts: engine == interpreter (seed=$Seed, trials=$Trials)") {
    val rnd = new scala.util.Random(Seed)
    var panesTotal = 0
    var earlySeen, lateSeen, finalSeen = false
    for (trial <- 0 until Trials) {
      val ast = genAst(rnd, 2)
      val (steps, latenessSec) = genSchedule(rnd)
      val accumulating = rnd.nextBoolean()
      val exp = interpret(ast, steps, latenessSec * 1000, accumulating)
      val got = engine(ast, steps, latenessSec * 1000, accumulating, s"trigfz_$trial")
      assert(got == exp,
        s"trial $trial diverged\n ast=$ast\n lateness=${latenessSec}s acc=$accumulating\n " +
          s"steps=$steps\n engine-only=${(got -- exp).toSeq.sortBy(p => (p._1, p._2))}\n " +
          s"interp-only=${(exp -- got).toSeq.sortBy(p => (p._1, p._2))}")
      panesTotal += got.size
      earlySeen ||= got.exists(_._3 == "EARLY")
      lateSeen ||= got.exists(_._3 == "LATE")
      finalSeen ||= got.exists(_._4)
    }
    // non-triviality: the trials must actually traverse the interesting
    // pane space, or the layer silently shrinks to ON_TIME-only coverage
    assert(panesTotal > Trials * 2, s"only $panesTotal panes across $Trials trials")
    assert(earlySeen && lateSeen && finalSeen,
      s"pane-space coverage hole: early=$earlySeen late=$lateSeen final=$finalSeen")
  }
}
