package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Triggers
import graft.streaming.Triggers._

/** EIGHTH differential fuzz layer (r13 verdict item 5): full pane
  * TRANSCRIPTS of the MERGING-session trigger engine.
  * FuzzTriggerTranscriptSpec covers non-merging fixed windows;
  * FuzzSessionTriggerSpec compares session FINALS against batch — the gap
  * was transcript-level coverage of the merge path itself: pane index /
  * timing / values across window merges, trigger-state merge (counts add,
  * finished flags OR — `RCORE/MergingActiveWindowSet.java` +
  * `ReduceFnRunner.onMerge` are the spec), closed-window drops, and the
  * GC flush rules, all under random composite trigger ASTs.
  *
  * Each trial: a random session corpus (element bursts that merge, gaps
  * that don't, genuinely late arrivals) × a random composite trigger ×
  * lateness ∈ {0, 12 s} × accumulating/discarding, run through BOTH
  *
  *  - the real engine — [[Triggers.sessionAggregateTriggered]]
  *    (`Triggers.PaneProcessor`: RocksDB MapState, per-window trigger state,
  *    event-time timers, micro-batch admission), and
  *  - an independent interpreter built on the shared [[TriggerSim]] node
  *    tree extended with structural merge (`mergeFrom`), plus ~60 lines
  *    of direct merging-window bookkeeping written against the engine's
  *    documented contract (intersecting half-open intervals merge —
  *    abutting don't; accumulators/pane-index(max)/onTime(OR)/pending(add)
  *    merge; closed tombstones drop elements; FIRE_IF_NON_EMPTY GC flush),
  *
  * comparing COMPLETE transcripts: (session start, session end, paneIndex,
  * timing, isFinal, values) for every pane.
  *
  * Scope: element-count / watermark triggers (AfterProcessingTime depends
  * on the wall clock — no deterministic differential can replay it; the
  * hand corpus covers it).
  *
  * Sensitivity proven at bring-up by ENGINE plants, each caught and
  * reverted (BASELINE.md round 14): (1) dropping the trigger-state merge
  * (merged window restarts its trigger from the element's fresh state) —
  * caught by element-count triggers firing late; (2) merging paneIndex by
  * MIN instead of MAX — caught by duplicate pane indexes in the
  * transcript.
  */
class FuzzSessionTranscriptSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong
  private val Trials = sys.env.getOrElse("SPARK_GRAFT_SESSFUZZ_N", "5").toInt
  private val GapMs = 8000L

  import TriggerSim.{genAst, build, Sim}

  sealed private trait Step
  private case class In(ts: Seq[Long]) extends Step // seconds
  private case class Wm(t: Long) extends Step

  /** Session corpora: clustered bursts (merge fodder) + stragglers that
    * extend or bridge sessions + genuinely late elements. */
  private def genSchedule(rnd: scala.util.Random): (Seq[Step], Long) = {
    val latenessSec = Seq(0L, 12L)(rnd.nextInt(2))
    val steps = Seq.newBuilder[Step]
    var wmSoFar = 0L
    for (_ <- 0 until 6 + rnd.nextInt(5)) {
      rnd.nextInt(10) match {
        case x if x < 5 =>
          // burst around an anchor: elements within the gap of each other
          // merge into one session; sometimes two anchors bridge
          val anchor = 1L + rnd.nextInt(50)
          steps += In(Seq.fill(1 + rnd.nextInt(3))(
            math.max(1L, anchor + rnd.nextInt(9) - 4)))
        case x if x < 7 =>
          // scattered singles — may open isolated sessions or bridge two
          steps += In(Seq.fill(1 + rnd.nextInt(2))(1L + rnd.nextInt(55)))
        case _ =>
          wmSoFar += rnd.nextInt(25) // nondecreasing; session-end ties allowed
          steps += Wm(wmSoFar)
      }
    }
    steps += Wm(3000L) // past every GC horizon
    (steps.result(), latenessSec)
  }

  /** (session start s, session end s is implicit in values? no — carried),
    * paneIndex, timing, isFinal, sorted values. Start AND end pin the
    * merged bounds, not just membership. */
  private type PaneT = (Long, Long, Int, String, Boolean, Seq[Long])

  /** Independent merging-session interpreter. Scheduler model matches the
    * fixed-window layer (wm = max event ts seen, 0s delay; elements admit
    * against the PRE-batch watermark; timers fire once wm reaches them,
    * ascending). */
  private def interpret(trigger: TriggerAst, steps: Seq[Step],
                        latenessMs: Long, accumulating: Boolean,
                        assign: (Long, Long) => (Long, Long) = (ts, _) => (ts, ts + GapMs))
      : Set[PaneT] = {
    final class SWin(var start: Long, var end: Long) {
      val values = scala.collection.mutable.ListBuffer.empty[Long]
      var paneIndex = 0
      var onTime = false
      var pending = 0L
      var closed = false
      var trig: Sim = build(trigger)
    }
    val wins = scala.collection.mutable.ArrayBuffer.empty[SWin]
    val timers = scala.collection.mutable.SortedSet.empty[Long]
    val out = Set.newBuilder[PaneT]
    var wm = 0L

    def emit(w: SWin, timing: String, isFinal: Boolean): Unit = {
      out += ((w.start / 1000, w.end / 1000, w.paneIndex, timing, isFinal,
        w.values.toSeq.sorted))
      w.paneIndex += 1
      w.onTime = w.onTime || timing != "EARLY"
      w.pending = 0
      if (!accumulating) w.values.clear()
    }

    def addElement(tsMs: Long): Option[SWin] = {
      // the engine's WindowFn.assign sees (eventTimeMs, value); the fuzz
      // corpora feed v = ts seconds, so the same pair is derivable here
      val (ps, pe) = assign(tsMs, tsMs / 1000)
      if (wm >= pe + latenessMs) return None // too late — no state touched
      val overlapping = wins.filter(o => o.start < pe && ps < o.end).toList
      if (overlapping.exists(_.closed)) return None // closed span: dropped
      val w = new SWin(ps, pe)
      w.values += tsMs / 1000
      w.pending = 1
      overlapping.foreach { o =>
        w.start = math.min(w.start, o.start); w.end = math.max(w.end, o.end)
        w.values ++= o.values
        w.paneIndex = math.max(w.paneIndex, o.paneIndex)
        w.onTime ||= o.onTime
        w.pending += o.pending
        w.trig.mergeFrom(o.trig)
        wins -= o
      }
      w.trig.add(1)
      wins += w
      Some(w)
    }

    /** Session bounds (start -> end) held before the current batch. */
    var endBefore = Map.empty[Long, Long]

    def evalArrival(w: SWin): Unit = {
      val wmPast = wm >= w.end
      if (w.trig.shouldFire(wmPast)) {
        w.trig.onFire(wmPast)
        val done = w.trig.fin
        val isFinal = done || (wmPast && latenessMs == 0)
        val timing = if (!wmPast) "EARLY" else if (!w.onTime) "ON_TIME" else "LATE"
        emit(w, timing, isFinal)
        if (done) { w.values.clear(); w.closed = true }
      }
      // a window's timers are set once, when it first holds its bounds: an
      // element landing in an unchanged session arms nothing, or an end
      // timer the watermark already passed would evaluate it again
      if (!endBefore.get(w.start).contains(w.end)) {
        timers += w.end
        if (latenessMs > 0) timers += w.end + latenessMs
      }
    }

    def fireTimers(wmNow: Long): Unit = {
      var expired = timers.rangeTo(wmNow).toList
      while (expired.nonEmpty) {
        expired.foreach { expiry =>
          timers -= expiry
          wins.toList.foreach { w =>
            if (w.end + latenessMs == expiry ||
                (latenessMs == 0 && w.end == expiry)) {
              // GC horizon: tombstones evaporate; open windows flush per
              // ClosingBehavior.FIRE_IF_NON_EMPTY (+ at-least-one-pane)
              if (!w.closed) {
                val trigWants = !w.onTime && w.trig.shouldFire(true)
                if (trigWants || w.pending > 0 || w.paneIndex == 0)
                  emit(w, if (w.onTime) "LATE" else "ON_TIME", isFinal = true)
              }
              wins -= w
            } else if (w.end == expiry && !w.closed && latenessMs > 0) {
              // end-of-window (ON_TIME opportunity)
              if (w.trig.shouldFire(true)) {
                w.trig.onFire(true)
                val done = w.trig.fin
                emit(w, if (w.onTime) "LATE" else "ON_TIME", isFinal = done)
                if (done) { w.values.clear(); w.closed = true }
              }
            }
            // stale timers from merged-away windows match nothing
          }
        }
        expired = timers.rangeTo(wmNow).toList // timers registered by firings
      }
    }

    steps.foreach {
      case In(tsSec) =>
        endBefore = wins.map(w => w.start -> w.end).toMap
        val touched = scala.collection.mutable.LinkedHashSet.empty[SWin]
        tsSec.foreach { t =>
          addElement(t * 1000).foreach { w =>
            // windows merged away this batch leave the touched set; the
            // survivor carries their state
            touched.filterInPlace(wins.contains)
            touched += w
          }
        }
        touched.foreach(w => if (wins.contains(w)) evalArrival(w))
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
                     accumulating: Boolean, sink: String,
                     assign: Option[(Long, Long) => (Long, Long)] = None): Set[PaneT] = {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val events = input.toDF().toDF("k", "t", "v")
      .withWatermark("t", "0 seconds")
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)]
      .filter(_._1 != "__wm")
    val panes = assign match {
      case Some(a) => Triggers.mergingWindowAggregate(events, collectLongsFn,
        (ts: Long, v: Long) => a(ts, v), trigger,
        allowedLatenessMs = latenessMs, accumulating = accumulating)
      case None => Triggers.sessionAggregateTriggered(events, collectLongsFn,
        gapMs = GapMs, trigger = trigger, allowedLatenessMs = latenessMs,
        accumulating = accumulating)
    }
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
      // the final Wm(3000) passes every GC horizon, and the __wm rider never
      // reaches the operator: merging-window state drains to empty
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 0, s"$stateRows state rows after the final watermark")
      spark.table(sink).collect().filter(_.getString(0) == "data")
        .map(r => (r.getAs[Long]("ws") / 1000, r.getAs[Long]("we") / 1000,
          r.getAs[Int]("idx"), r.getAs[String]("timing"),
          r.getAs[Boolean]("fin"), r.getSeq[Long](3).toSeq.sorted)).toSet
    } finally q.stop()
  }

  test(s"random merging-session pane transcripts: engine == interpreter (seed=$Seed, trials=$Trials)") {
    val rnd = new scala.util.Random(Seed)
    // random trials + one DIRECTED late-pane cell (ON_TIME at the end
    // timer, then a late element within lateness merges in and fires a
    // LATE pane) — random session corpora produce LATE panes too rarely
    // to hang the coverage assertion on at the default trial count
    val directed: (TriggerAst, Seq[Step], Long, Boolean) =
      (AfterWatermarkEL(Some(AfterCountT(2)), Some(AfterCountT(1))),
        Seq(In(Seq(3, 4)), Wm(14), In(Seq(5)), In(Seq(40, 41)), Wm(3000)),
        12L, true)
    val trials = (0 until Trials).map { _ =>
      val ast = genAst(rnd, 2)
      val (steps, latenessSec) = genSchedule(rnd)
      (ast, steps, latenessSec, rnd.nextBoolean())
    } :+ directed
    var panesTotal = 0
    var mergedSeen, earlySeen, lateSeen, finalSeen, multiPane = false
    trials.zipWithIndex.foreach { case ((ast, steps, latenessSec, accumulating), trial) =>
      val exp = interpret(ast, steps, latenessSec * 1000, accumulating)
      val got = engine(ast, steps, latenessSec * 1000, accumulating, s"sessfz_$trial")
      assert(got == exp,
        s"trial $trial diverged\n ast=$ast\n lateness=${latenessSec}s acc=$accumulating\n " +
          s"steps=$steps\n engine-only=${(got -- exp).toSeq.sortBy(p => (p._1, p._3))}\n " +
          s"interp-only=${(exp -- got).toSeq.sortBy(p => (p._1, p._3))}")
      panesTotal += got.size
      mergedSeen ||= got.exists(p => p._6.size > 1) // a session that merged elements
      earlySeen ||= got.exists(_._4 == "EARLY")
      lateSeen ||= got.exists(_._4 == "LATE")
      finalSeen ||= got.exists(_._5)
      multiPane ||= got.exists(_._3 > 0)
    }
    assert(panesTotal > Trials * 2, s"only $panesTotal panes across $Trials trials")
    // non-triviality: the trials must traverse the MERGE pane space — a
    // corpus of isolated singletons would test nothing this layer is for
    assert(mergedSeen && earlySeen && lateSeen && finalSeen && multiPane,
      s"coverage hole: merged=$mergedSeen early=$earlySeen late=$lateSeen " +
        s"final=$finalSeen multiPane=$multiPane")
  }

  test("dynamic-gap merging windows (mergingWindowAggregate, gap read off the value): " +
      "engine == interpreter") {
    // the CUSTOM merging-WindowFn path: each element's proto-window width
    // depends on its VALUE (4/8/12 s by v mod 3) — asymmetric reach, so
    // element A can pull B into its session while B alone would not reach
    // A. Only hand-tested before (SessionTriggerSpec dynamic-gap); this
    // runs the same random corpora/trigger matrix through
    // mergingWindowAggregate directly.
    val rnd = new scala.util.Random(Seed + 11)
    val dynAssign: (Long, Long) => (Long, Long) =
      (tsMs, v) => (tsMs, tsMs + 4000L + (v % 3) * 4000L)
    var merged = false
    var panes = 0
    val n = math.max(3, Trials / 2)
    for (trial <- 0 until n) {
      val ast = genAst(rnd, 2)
      val (steps, latenessSec) = genSchedule(rnd)
      val acc = rnd.nextBoolean()
      val exp = interpret(ast, steps, latenessSec * 1000, acc, dynAssign)
      val got = engine(ast, steps, latenessSec * 1000, acc,
        s"sessfz_dyn$trial", Some(dynAssign))
      assert(got == exp,
        s"dyn trial $trial diverged\n ast=$ast\n lateness=${latenessSec}s acc=$acc\n " +
          s"steps=$steps\n engine-only=${(got -- exp).toSeq.sortBy(p => (p._1, p._3))}\n " +
          s"interp-only=${(exp -- got).toSeq.sortBy(p => (p._1, p._3))}")
      merged ||= got.exists(_._6.size > 1)
      panes += got.size
    }
    assert(merged && panes > n, s"dynamic-gap cells too sparse: merged=$merged panes=$panes")
  }

  test("deterministic merge scenario: a bridge element merges two OPEN sessions; " +
      "pane index, bounds, trigger counts and values all carry across the merge") {
    // burst A (2,3s) fires an EARLY AfterCount(2) pane in session [2,11);
    // the next batch delivers 14,15 AND the bridge 9 (before the watermark
    // passes A's end, so A is still open): everything merges to [2,23),
    // carrying A's paneIndex and values; the three new elements re-trip
    // the count trigger on the MERGED state immediately
    val ast = AfterWatermarkEL(Some(AfterCountT(2)), None)
    val steps = Seq(In(Seq(2, 3)), In(Seq(14, 15, 9)), Wm(3000))
    val exp = interpret(ast, steps, 0L, accumulating = true)
    val got = engine(ast, steps, 0L, accumulating = true, "sessfz_det")
    assert(got == exp, s"engine=$got interp=$exp")
    // the merged session's bounds: [2, 23)s with every value
    assert(got.exists(p => p._1 == 2 && p._2 == 23 && p._6 == Seq(2L, 3L, 9L, 14L, 15L)),
      s"no merged pane with full bounds+values: $got")
    // pane index continued past A's pre-merge EARLY pane (index >= 1)
    assert(got.exists(p => p._1 == 2 && p._2 == 23 && p._3 >= 1), got.toString)
  }

  test("a late element in an unchanged session sets no second end timer: " +
      "engine == interpreter, one LATE pane") {
    // [3, 11) fires ON_TIME when the watermark reaches 11; the late 3 then
    // lands inside the same bounds. Setting the passed end timer again
    // would evaluate the window twice in that batch, and
    // Repeatedly(AfterWatermark) fires at every evaluation past the end: a
    // second, empty LATE pane
    val ast = RepeatedlyT(AfterWatermarkT)
    val steps = Seq(In(Seq(3)), Wm(11), In(Seq(3)), Wm(3000))
    val exp = interpret(ast, steps, 12000L, accumulating = false)
    val got = engine(ast, steps, 12000L, accumulating = false, "sessfz_late_same")
    assert(got == exp, s"engine=$got interp=$exp")
    assert(got.count(_._4 == "LATE") == 1, got.toString)
  }
}
