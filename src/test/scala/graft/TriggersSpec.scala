package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.CombineFn
import graft.operators.Windows
import graft.streaming.Triggers
import graft.streaming.Triggers._

/** Trigger/pane conformance scenarios — the LeaderBoardTest pattern
  * (reference: examples/java8/src/test/.../game/LeaderBoardTest.java:
  * on-time pane, late pane within lateness, dropped beyond lateness;
  * trigger semantics per RCORE/ReduceFnRunner.java + PaneInfo.java). */
class TriggersSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val countFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + 1
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }

  private def runScenario(cfg: TriggerConfig, name: String)(
      script: (MemoryStream[(String, Timestamp, Long)],
               org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[(String, Long, Int, String, Boolean)] = {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)],
      cfg.windowSizeMs)
    val panes = Triggers.triggeredAggregate(assigned, countFn, cfg)
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try script(input, q) finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("value"), r.getAs[Int]("pane_index"),
        r.getAs[String]("timing"), r.getAs[Boolean]("is_final")))
      .sortBy(_._3).toSeq
  }

  test("default trigger: on-time pane, accumulating late pane, drop beyond lateness") {
    val panes = runScenario(TriggerConfig(
      windowSizeMs = 60000L, allowedLatenessMs = 120000L), "trig_default") { (input, q) =>
      // window W = [10:00:00, 10:01:00)
      input.addData(("a", ts("2024-01-01 10:00:10"), 1L), ("a", ts("2024-01-01 10:00:20"), 1L))
      q.processAllAvailable()
      // watermark past W end -> ON_TIME firing
      input.addData(("b", ts("2024-01-01 10:01:30"), 1L))
      q.processAllAvailable()
      // late element within lateness (wm = 10:01:30 < W end + 2min)
      input.addData(("a", ts("2024-01-01 10:00:40"), 1L))
      q.processAllAvailable()
      // too-late: advance wm beyond W end + lateness, then an ancient element
      input.addData(("c", ts("2024-01-01 10:10:00"), 1L))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 10:00:50"), 1L))
      q.processAllAvailable()
      // advance the watermark again so any (wrong) state for W would fire
      input.addData(("c", ts("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
    }
    val aPanes = panes.filter(_._1 == "a").map(p => (p._2, p._3, p._4, p._5))
    assert(aPanes.contains((2L, 0, "ON_TIME", false)),
      s"on-time pane with the 2 on-time elements: $panes")
    assert(aPanes.contains((3L, 1, "LATE", false)),
      s"accumulating late pane refines to 3: $panes")
    assert(aPanes.size == 2, s"too-late element must not produce a pane: $panes")
  }

  test("state rows: an open window holds ONE value row; its timers add none") {
    // One input batch into one (key, window) with allowedLateness > 0 and
    // an EARLY firing leaves the window open with its end-of-window and GC
    // timers registered. numRowsTotal counts the pane record (one
    // ValueState row) and, measured on Spark 4.1.2, 0 rows for the timers.
    // One state variable per field would hold 4 value rows here (acc,
    // paneIndex, sinceLastFire, timersSet).
    var rows = -1L
    runScenario(TriggerConfig(windowSizeMs = 60000L, allowedLatenessMs = 120000L,
      early = EveryBatch), "trig_state_rows") { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:10"), 1L), ("a", ts("2024-01-01 10:00:20"), 1L))
      q.processAllAvailable()
      rows = q.lastProgress.stateOperators.head.numRowsTotal
    }
    assert(rows == 1L,
      s"numRowsTotal = $rows; expected 1 value row + 0 counted timer rows")
  }

  test("early firings every batch + discarding mode emit per-pane deltas") {
    val panes = runScenario(TriggerConfig(
      windowSizeMs = 60000L, allowedLatenessMs = 0L,
      early = EveryBatch, accumulating = false), "trig_early") { (input, q) =>
      input.addData(("a", ts("2024-01-01 10:00:05"), 1L), ("a", ts("2024-01-01 10:00:06"), 1L))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 10:00:30"), 1L))
      q.processAllAvailable()
      input.addData(("z", ts("2024-01-01 10:05:00"), 1L)) // advance wm past W end
      q.processAllAvailable()
    }
    val a = panes.filter(_._1 == "a").map(p => (p._2, p._3, p._4, p._5))
    assert(a.take(2) == Seq((2L, 0, "EARLY", false), (1L, 1, "EARLY", false)),
      s"discarding early panes carry per-batch deltas: $panes")
    assert(a.exists(p => p._2 == 2 && p._3 == "ON_TIME" && p._1 == 0L && p._4),
      s"FIRE_ALWAYS empty on-time final pane after discarding firings: $panes")
  }

  test("sliding windows through the pane processor: one ON_TIME pane per membership") {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val panes = Triggers.triggeredSlidingAggregate(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)],
      countFn, sizeMs = 60000L, periodMs = 30000L)
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("sliding_panes")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // 10:00:45 belongs to [10:00:00,10:01:00) and [10:00:30,10:01:30)
      input.addData(("a", ts("2024-01-01 10:00:45"), 1L))
      q.processAllAvailable()
      input.addData(("z", ts("2024-01-01 10:10:00"), 1L))
      q.processAllAvailable()
      val got = spark.table("sliding_panes").collect()
        .filter(_.getString(0) == "a")
        .map(r => (r.getAs[Long]("wstart"), r.getAs[Long]("value"),
          r.getAs[String]("timing"))).sortBy(_._1).toSeq
      val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
      assert(got == Seq((base, 1L, "ON_TIME"), (base + 30000L, 1L, "ON_TIME")),
        got.toString)
    } finally q.stop()
  }

  test("volume: 6000 events / 50 keys / 24 windows reconcile with batch totals") {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 3600000L)
    val panes = Triggers.triggeredAggregate(assigned, countFn,
      TriggerConfig(windowSizeMs = 3600000L))
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("volume_panes")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val events = (0 until 6000).map { i =>
        (s"k${i % 50}", new Timestamp(base + (i.toLong * 14400)), 1L) // spread over 24h
      }
      events.grouped(2000).foreach { batch => input.addData(batch: _*); q.processAllAvailable() }
      input.addData(("z", new Timestamp(base + 48L * 3600000), 1L)) // close all windows
      q.processAllAvailable()
      val got = spark.table("volume_panes").collect().filter(_.getString(0) != "z")
      // every event lands in exactly one ON_TIME pane; totals reconcile
      assert(got.map(_.getAs[Long]("value")).sum == 6000L, s"pane total ${got.map(_.getAs[Long]("value")).sum}")
      assert(got.forall(_.getAs[String]("timing") == "ON_TIME"))
      val keyWindow = got.map(r => (r.getString(0), r.getAs[Long]("wstart"))).toSeq
      assert(keyWindow.distinct.size == keyWindow.size, "one final pane per (key, window)")
      assert(keyWindow.size == 50 * 24, s"${keyWindow.size} panes")
    } finally q.stop()
  }

  test("calendar month windows: variable-length panes (Jan=31d, Feb=29d in 2024)") {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignCalendarWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], Windows.CalendarWindows("month"))
    val panes = Triggers.triggeredAggregate(assigned, countFn,
      TriggerConfig(windowSizeMs = 0L, calendar = Some(Windows.CalendarWindows("month"))))
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("calendar_panes")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", ts("2024-01-05 00:00:00"), 1L), ("a", ts("2024-01-28 00:00:00"), 1L),
                    ("a", ts("2024-02-10 00:00:00"), 1L))
      q.processAllAvailable()
      input.addData(("z", ts("2024-06-01 00:00:00"), 1L))
      q.processAllAvailable()
      val got = spark.table("calendar_panes").collect().filter(_.getString(0) == "a")
        .map(r => (new Timestamp(r.getAs[Long]("wstart")).toString.take(10),
          new Timestamp(r.getAs[Long]("wend")).toString.take(10),
          r.getAs[Long]("value"))).sortBy(_._1).toSeq
      assert(got == Seq(
        ("2024-01-01", "2024-02-01", 2L),   // 31-day window
        ("2024-02-01", "2024-03-01", 1L)),  // 29-day window (leap Feb)
        got.toString)
    } finally q.stop()
  }

  test("AfterPane.elementCountAtLeast fires when the count threshold is met") {
    val panes = runScenario(TriggerConfig(
      windowSizeMs = 60000L, allowedLatenessMs = 0L,
      early = AfterCount(5)), "trig_count") { (input, q) =>
      input.addData((1 to 3).map(i => ("a", ts("2024-01-01 10:00:01"), i.toLong)): _*)
      q.processAllAvailable() // 3 < 5: no pane
      input.addData((1 to 4).map(i => ("a", ts("2024-01-01 10:00:02"), i.toLong)): _*)
      q.processAllAvailable() // 7 >= 5: EARLY pane
      input.addData(("z", ts("2024-01-01 10:09:00"), 1L))
      q.processAllAvailable() // ON_TIME final
    }
    val a = panes.filter(_._1 == "a").map(p => (p._2, p._3, p._4, p._5))
    assert(a.head == ((7L, 0, "EARLY", false)), s"count trigger at >=5: $panes")
    assert(a.exists(p => p._2 == 1 && p._3 == "ON_TIME" && p._1 == 7L && p._4),
      s"accumulating on-time pane repeats the total: $panes")
  }

  test("PAssert.inWindow scopes assertions to one window's panes") {
    import spark.implicits._
    // Pane-shaped frame: two windows, two panes in the first
    val panes = Seq(
      ("a", 0L, 10000L, 3L, 0, "EARLY", false),
      ("a", 0L, 10000L, 5L, 1, "ON_TIME", true),
      ("a", 10000L, 20000L, 2L, 0, "ON_TIME", true)
    ).toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
    graft.testing.PAssert.inWindow(panes, 0L, 10000L)(Seq(
      Seq("a", 0L, 10000L, 3L, 0, "EARLY", false),
      Seq("a", 0L, 10000L, 5L, 1, "ON_TIME", true)))
    graft.testing.PAssert.inWindow(panes, 10000L, 20000L)(Seq(
      Seq("a", 10000L, 20000L, 2L, 0, "ON_TIME", true)))
    intercept[AssertionError] {
      graft.testing.PAssert.inWindow(panes, 10000L, 20000L)(Seq.empty)
    }
  }

  // ------------- virtual-clock AfterProcessingTime scenarios (r13 item 7)
  // TestStream's processing-time narrowing leaves AfterProcessingTime
  // cadence wall-clock-approximate at the query level; these drive the
  // trigger state machine DETERMINISTICALLY through its one proc-time
  // seam (TrigCtx.nowProcMs — the value the pane processors forward from
  // getCurrentProcessingTimeInMs), porting the reference transcript rows
  // (RCORE/triggers/AfterProcessingTimeStateMachine.java + the alignedTo
  // transform of SDK AfterProcessingTime.java:82). No sleeps anywhere.

  private def freshSt(): Triggers.TrigState =
    scala.collection.mutable.Map.empty[String, (Long, Boolean, Long)]

  test("virtual clock: AfterProcessingTime arms at the pane's FIRST element, " +
      "ignores later elements, fires exactly at deadline, then finishes") {
    import Triggers.{TriggerEval => E, TrigCtx}
    val t = AfterProcessingTimeT(1000L)
    val st = freshSt()
    // pastFirstElementInPane: arm at clock=5000 -> deadline 6000
    E.addElements(t, "r", st, 1L, nowProcMs = 5000L)
    assert(!E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 5999L)))
    // a SECOND element at 5500 must NOT re-arm (deadline stays 6000)
    E.addElements(t, "r", st, 1L, nowProcMs = 5500L)
    assert(!E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 5999L)))
    assert(E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 6000L)),
      "fires exactly AT the armed deadline, not 5500+1000")
    E.onFire(t, "r", st, TrigCtx(wmPastEnd = false, 6000L))
    assert(E.finished("r", st))
    assert(!E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 99999L)))
  }

  test("virtual clock: Repeatedly(AfterProcessingTime) re-arms from the NEXT pane's " +
      "first element after each firing") {
    import Triggers.{TriggerEval => E, TrigCtx}
    val t = RepeatedlyT(AfterProcessingTimeT(1000L))
    val st = freshSt()
    E.addElements(t, "r", st, 1L, 5000L)
    assert(E.shouldFire(t, "r", st, TrigCtx(false, 6000L)))
    E.onFire(t, "r", st, TrigCtx(false, 6000L)) // repeatedly: child resets
    assert(!E.finished("r", st))
    // quiescent until the next element; clock alone never fires it
    assert(!E.shouldFire(t, "r", st, TrigCtx(false, 7200L)))
    E.addElements(t, "r", st, 1L, 7300L) // new pane's first element
    assert(!E.shouldFire(t, "r", st, TrigCtx(false, 8299L)))
    assert(E.shouldFire(t, "r", st, TrigCtx(false, 8300L)))
  }

  test("virtual clock: alignedTo ceiling-aligns the deadline to the period grid " +
      "(exact multiples stay; offset shifts the grid)") {
    import Triggers.{TriggerEval => E, TrigCtx}
    // delay 500, grid 1000/offset 0: first element at 5200 -> 5700 -> 6000
    val a = AfterProcessingTimeT(500L, alignPeriodMs = 1000L)
    val st1 = freshSt()
    E.addElements(a, "r", st1, 1L, 5200L)
    assert(!E.shouldFire(a, "r", st1, TrigCtx(false, 5999L)))
    assert(E.shouldFire(a, "r", st1, TrigCtx(false, 6000L)))
    // exact multiple: element at 5500 -> 6000, rem 0 -> stays 6000
    val st2 = freshSt()
    E.addElements(a, "r", st2, 1L, 5500L)
    assert(E.shouldFire(a, "r", st2, TrigCtx(false, 6000L)))
    assert(!E.shouldFire(a, "r", st2, TrigCtx(false, 5999L)))
    // offset 250 shifts the grid: 5200 -> 5700, (5700-250) mod 1000 = 450,
    // deadline 5700 + (1000-450) = 6250
    val b = AfterProcessingTimeT(500L, alignPeriodMs = 1000L, alignOffsetMs = 250L)
    val st3 = freshSt()
    E.addElements(b, "r", st3, 1L, 5200L)
    assert(!E.shouldFire(b, "r", st3, TrigCtx(false, 6249L)))
    assert(E.shouldFire(b, "r", st3, TrigCtx(false, 6250L)))
  }

  test("virtual clock: merging windows takes the EARLIEST armed deadline " +
      "(AfterProcessingTimeStateMachine.onMerge)") {
    import Triggers.{TriggerEval => E, TrigCtx}
    val t = AfterProcessingTimeT(1000L)
    val stA = freshSt(); val stB = freshSt()
    E.addElements(t, "r", stA, 1L, 5000L) // deadline 6000
    E.addElements(t, "r", stB, 1L, 7000L) // deadline 8000
    val merged = E.merge(
      stA.toList.map { case (p, (c, f, d)) => (p, c, f, d) },
      stB.toList.map { case (p, (c, f, d)) => (p, c, f, d) })
    val st = freshSt(); merged.foreach { case (p, c, f, d) => st(p) = (c, f, d) }
    assert(!E.shouldFire(t, "r", st, TrigCtx(false, 5999L)))
    assert(E.shouldFire(t, "r", st, TrigCtx(false, 6000L)),
      "merged deadline must be the EARLIEST constituent deadline")
  }

  test("virtual clock: AfterWatermarkEL early = AfterProcessingTime fires on the " +
      "proc-time cadence before the watermark, then hands over to ON_TIME") {
    import Triggers.{TriggerEval => E, TrigCtx}
    val t = AfterWatermarkEL(Some(AfterProcessingTimeT(1000L)), None)
    val st = freshSt()
    E.addElements(t, "r", st, 2L, 5000L)
    assert(!E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 5999L)))
    assert(E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 6000L)))
    E.onFire(t, "r", st, TrigCtx(wmPastEnd = false, 6000L)) // EARLY; early child resets
    // re-arms from the NEXT element, not from the firing
    assert(!E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 9999L)))
    E.addElements(t, "r", st, 1L, 6400L)
    assert(E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = false, 7400L)))
    E.onFire(t, "r", st, TrigCtx(wmPastEnd = false, 7400L))
    // watermark passes: ON_TIME fires regardless of the proc clock
    assert(E.shouldFire(t, "r", st, TrigCtx(wmPastEnd = true, 0L)))
    E.onFire(t, "r", st, TrigCtx(wmPastEnd = true, 0L))
    assert(!E.finished("r", st), "EL root stays open for late panes")
  }
}
