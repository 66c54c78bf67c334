package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Triggers

/** Merging session windows with pane metadata (reference: Sessions.java:40,
  * MergingActiveWindowSet.java; early_late_sessions transcript shape). */
class SessionTriggerSpec extends SparkSpec {
  import spark.implicits._

  /** (wstartSec, wendSec, values, timing, isFinal) for key "a". */
  private def run(name: String, gapSec: Long, latenessSec: Long,
                  earlyCount: Option[Long] = None, lateCount: Option[Long] = None)(
      script: (MemoryStream[(String, Timestamp, Long)],
               org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[(Long, Long, Seq[Long], String, Boolean)] =
    runTriggered(name, gapSec, latenessSec,
      Triggers.AfterWatermarkEL(earlyCount.map(Triggers.AfterCountT(_)),
        lateCount.map(Triggers.AfterCountT(_))))(script)

  /** Same harness over an explicit composite-trigger AST
    * (sessionAggregateTriggered — the ReduceFnRunner-over-merging-windows
    * path). */
  private def runTriggered(name: String, gapSec: Long, latenessSec: Long,
                           trigger: Triggers.TriggerAst)(
      script: (MemoryStream[(String, Timestamp, Long)],
               org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[(Long, Long, Seq[Long], String, Boolean)] = {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val events = input.toDF().toDF("k", "t", "v")
      .withWatermark("t", "0 seconds")
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)]
    val panes = Triggers.sessionAggregateTriggered(events, collectLongsFn,
      gapMs = gapSec * 1000, trigger = trigger,
      allowedLatenessMs = latenessSec * 1000)
    val q = panes.toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try script(input, q) finally q.stop()
    spark.table(name).collect().filter(_.getAs[String]("k") == "a")
      .map(r => (r.getAs[Long]("wstart") / 1000, r.getAs[Long]("wend") / 1000,
        r.getSeq[Long](3).toSeq, r.getAs[String]("timing"), r.getAs[Boolean]("is_final")))
      .sortBy(p => (p._1, p._3.size)).toSeq
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("elements within gap merge into one session; watermark fires it once") {
    val panes = run("sess_merge", gapSec = 10, latenessSec = 0) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L), ("a", ts(3), 3L))
      q.processAllAvailable()
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable()
    }
    assert(panes == Seq((1L, 13L, Seq(1L, 2L, 3L), "ON_TIME", true)), panes.toString)
  }

  test("disjoint bursts form separate sessions") {
    val panes = run("sess_disjoint", gapSec = 10, latenessSec = 0) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(30), 30L))
      q.processAllAvailable()
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable()
    }
    assert(panes == Seq(
      (1L, 11L, Seq(1L), "ON_TIME", true),
      (30L, 40L, Seq(30L), "ON_TIME", true)), panes.toString)
  }

  test("a bridging element merges two open sessions (partial-accumulator merge)") {
    // rows 1 and 15 open [1,11) and [15,25); row 8 opens [8,18), which
    // INTERSECTS both (half-open intervals that merely abut, like [10,20)
    // and [20,30), must NOT merge — Beam IntervalWindow.intersects) ->
    // one session [1,25) whose accumulator merges the partials
    val panes = run("sess_bridge", gapSec = 10, latenessSec = 0) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(15), 15L), ("a", ts(8), 8L))
      q.processAllAvailable()
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable()
    }
    assert(panes == Seq((1L, 25L, Seq(1L, 8L, 15L), "ON_TIME", true)), panes.toString)
  }

  test("abutting windows do not merge; a fired session refines via LATE pane on extension") {
    val panes = run("sess_abut", gapSec = 10, latenessSec = 1000) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(20), 20L))
      q.processAllAvailable() // [1,11) and [20,30); watermark -> 20
      input.addData(("a", ts(10), 10L)) // [10,20): extends the FIRED [1,11), abuts [20,30)
      q.processAllAvailable()
      input.addData(("__wm", ts(2000), 0L))
      q.processAllAvailable()
    }
    assert(panes.contains((1L, 11L, Seq(1L), "ON_TIME", false)), panes.toString)
    assert(panes.contains((1L, 20L, Seq(1L, 10L), "LATE", false)),
      s"late extension refines the fired session without merging across the abutment: $panes")
    assert(panes.contains((20L, 30L, Seq(20L), "ON_TIME", false)), panes.toString)
  }

  test("transcript early_late_sessions: AfterWatermark(early=AfterCount(2), late=AfterCount(3))") {
    // reference: trigger_transcripts.yaml `early_late_sessions` —
    // Sessions(10), early count 2, late count 3, accumulating
    val panes = run("sess_transcript", gapSec = 10, latenessSec = 1000,
      earlyCount = Some(2L), lateCount = Some(3L)) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L), ("a", ts(3), 3L))
      q.processAllAvailable() // 3 >= 2 -> EARLY [1,2,3], window [1,13)
      input.addData(("a", ts(4), 4L))
      q.processAllAvailable() // 1 since fire: no output
      input.addData(("a", ts(5), 5L))
      q.processAllAvailable() // 2 since fire -> EARLY [1..5], window [1,15)
      input.addData(("a", ts(6), 6L))
      q.processAllAvailable() // 1 since fire: no output
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable() // watermark past end -> ON_TIME [1..6], window [1,16)
      input.addData(("a", ts(1), 1L))
      q.processAllAvailable() // late; 1 < 3: no output
      input.addData(("a", ts(3), 3L), ("a", ts(4), 4L))
      q.processAllAvailable() // 3 >= 3 -> LATE [1,1,2,3,3,4,4,5,6]
    }
    assert(panes == Seq(
      (1L, 13L, Seq(1L, 2L, 3L), "EARLY", false),
      (1L, 15L, Seq(1L, 2L, 3L, 4L, 5L), "EARLY", false),
      (1L, 16L, Seq(1L, 2L, 3L, 4L, 5L, 6L), "ON_TIME", false),
      (1L, 16L, Seq(1L, 1L, 2L, 3L, 3L, 4L, 4L, 5L, 6L), "LATE", false)), panes.toString)
  }

  test("transcript early_late_sessions VERBATIM through the composite AST " +
      "(AfterWatermarkEL over merging windows)") {
    // reference: trigger_transcripts.yaml `early_late_sessions` run through
    // the actual AfterWatermark(early=..., late=...) trigger state machine
    // — not the counts shortcut — exercising TriggerEval.merge on every
    // session merge
    val panes = runTriggered("sess_ast_transcript", gapSec = 10, latenessSec = 1000,
      Triggers.AfterWatermarkEL(Some(Triggers.AfterCountT(2)),
        Some(Triggers.AfterCountT(3)))) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L), ("a", ts(3), 3L))
      q.processAllAvailable()
      input.addData(("a", ts(4), 4L))
      q.processAllAvailable()
      input.addData(("a", ts(5), 5L))
      q.processAllAvailable()
      input.addData(("a", ts(6), 6L))
      q.processAllAvailable()
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable()
      input.addData(("a", ts(1), 1L))
      q.processAllAvailable()
      input.addData(("a", ts(3), 3L), ("a", ts(4), 4L))
      q.processAllAvailable()
    }
    assert(panes == Seq(
      (1L, 13L, Seq(1L, 2L, 3L), "EARLY", false),
      (1L, 15L, Seq(1L, 2L, 3L, 4L, 5L), "EARLY", false),
      (1L, 16L, Seq(1L, 2L, 3L, 4L, 5L, 6L), "ON_TIME", false),
      (1L, 16L, Seq(1L, 1L, 2L, 3L, 3L, 4L, 4L, 5L, 6L), "LATE", false)), panes.toString)
  }

  test("composite root over sessions: orFinally closes the session and later data is dropped") {
    // OrFinally(Repeatedly(AfterCount(2)), AfterWatermark) composed with
    // Sessions — the combination the round-2 engine could not express.
    // The until-clause fires at the watermark, finishing the ROOT: the
    // session closes early and leaves a tombstone, so in-lateness data for
    // its span is dropped (droppedDueToClosedWindow), not re-aggregated.
    val panes = runTriggered("sess_ast_orfinally", gapSec = 10, latenessSec = 1000,
      Triggers.OrFinallyT(Triggers.RepeatedlyT(Triggers.AfterCountT(2)),
        Triggers.AfterWatermarkT)) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L), ("a", ts(3), 3L))
      q.processAllAvailable() // 3 >= 2 -> EARLY [1,2,3]
      input.addData(("a", ts(4), 4L))
      q.processAllAvailable() // 1 since reset: nothing
      input.addData(("__wm", ts(100), 0L))
      q.processAllAvailable() // until fires: FINAL pane, root finished
      input.addData(("a", ts(3), 3L))
      q.processAllAvailable() // closed window: dropped
      input.addData(("__wm", ts(2000), 0L))
      q.processAllAvailable() // GC horizon: tombstone evaporates silently
    }
    assert(panes == Seq(
      (1L, 13L, Seq(1L, 2L, 3L), "EARLY", false),
      (1L, 14L, Seq(1L, 2L, 3L, 4L), "ON_TIME", true)), panes.toString)
  }

  test("late element into a fired session emits a LATE refinement pane") {
    val panes = run("sess_late", gapSec = 10, latenessSec = 1000) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L))
      q.processAllAvailable()
      input.addData(("__wm", ts(50), 0L))
      q.processAllAvailable() // session [1,12) fires ON_TIME
      input.addData(("a", ts(3), 3L)) // late, within lateness, inside session span
      q.processAllAvailable()
    }
    assert(panes.exists(p => p._3 == Seq(1L, 2L) && p._4 == "ON_TIME"), panes.toString)
    assert(panes.exists(p => p._3 == Seq(1L, 2L, 3L) && p._4 == "LATE"), panes.toString)
  }

  test("custom merging WindowFn: data-driven dynamic gap (value carries its own gap)") {
    // reference: WindowFn.java assignWindows (AssignContext exposes the
    // element), MergeOverlappingIntervalWindows.java:37 — each element
    // opens [ts, ts + v seconds): a per-element gap no fixed-gap Sessions
    // can express. Events at 1 (gap 2s -> [1,3)), 10 (gap 20s -> [10,30))
    // and 25 (gap 1s -> [25,26), inside the second window) must yield TWO
    // sessions: [1,3) alone, [10,30) with the absorbed short-gap element.
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val events = input.toDF().toDF("k", "t", "v")
      .withWatermark("t", "0 seconds")
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)]
    val panes = Triggers.mergingWindowAggregate(events, collectLongsFn,
      assign = (ts: Long, v: Long) => (ts, ts + v * 1000L),
      trigger = Triggers.AfterWatermarkEL(None, None))
    val q = panes.toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("dyn_gap")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", ts(1), 2L), ("a", ts(10), 20L), ("a", ts(25), 1L))
      q.processAllAvailable()
      input.addData(("__wm", ts(100), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dyn_gap").collect().filter(_.getString(0) == "a")
      .map(r => (r.getAs[Long]("wstart") / 1000, r.getAs[Long]("wend") / 1000,
        r.getSeq[Long](3).sorted, r.getAs[String]("timing"), r.getAs[Boolean]("is_final")))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, Seq(2L), "ON_TIME", true),
      (10L, 30L, Seq(1L, 20L), "ON_TIME", true)), got.toString)
  }

  test("AfterProcessingTime fires for a QUIESCENT key: other keys' batches wake its session") {
    // the catch-up timer on merging windows: key "a" arms a proc-time
    // deadline and then gets no input; only key "z" is driven, with the
    // watermark below a's session end [1, 602) until the last batch
    runTriggered("sess_proctime_quiescent", gapSec = 600, latenessSec = 600,
      Triggers.AfterWatermarkEL(Some(Triggers.AfterProcessingTimeT(250L)), None)) { (input, q) =>
      input.addData(("a", ts(1), 1L), ("a", ts(2), 2L))
      q.processAllAvailable() // arm deadline; not yet due -> no pane
      Thread.sleep(400)       // let the proc-time deadline pass while "a" is idle
      input.addData(("z", ts(30), 0L))
      q.processAllAvailable() // z's batch advances the watermark -> catch-up wakes "a"
      input.addData(("z", ts(700), 0L))
      q.processAllAvailable() // watermark past a's end, before its GC -> ON_TIME
    }
    val panes = spark.table("sess_proctime_quiescent").collect().filter(_.getString(0) == "a")
      .map(r => (r.getSeq[Long](3).toSeq, r.getAs[Int]("pane_index"),
        r.getAs[String]("timing"), r.getAs[Boolean]("is_final")))
      .sortBy(_._2).toSeq
    assert(panes == Seq((Seq(1L, 2L), 0, "EARLY", false), (Seq(1L, 2L), 1, "ON_TIME", false)),
      panes.toString)
  }

  test("volume: 6000 events / 50 keys / 20 sessions each reconcile through the AST path") {
    // guards the merging-window + trigger-state-merge machinery under
    // volume: per key, 20 bursts of 6 events (10s spacing) separated by 1h
    // (>> the 5min gap) => exactly 1000 sessions; early count firings ride
    // along, and every session must flush exactly one final ON_TIME pane
    // whose accumulated count is the full burst
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val events = input.toDF().toDF("k", "t", "v")
      .withWatermark("t", "0 seconds")
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)]
    val panes = Triggers.sessionAggregateTriggered(events, collectLongsFn,
      gapMs = 300000L,
      trigger = Triggers.AfterWatermarkEL(Some(Triggers.AfterCountT(4)), None),
      allowedLatenessMs = 0L)
    val q = panes.toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
      .writeStream.format("memory").queryName("sess_volume")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val all = for {
        k <- 0 until 50; s <- 0 until 20; e <- 0 until 6
      } yield (s"k$k", new Timestamp(base + s * 3600000L + e * 10000L), 1L)
      all.sortBy(_._2.getTime).grouped(2000).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
      input.addData(("__wm", new Timestamp(base + 48L * 3600000L), 0L))
      q.processAllAvailable()
      val got = spark.table("sess_volume").collect().filter(_.getString(0) != "__wm")
      val finals = got.filter(_.getAs[Boolean]("is_final"))
      assert(finals.length == 1000, s"${finals.length} final panes")
      assert(finals.forall(_.getAs[String]("timing") == "ON_TIME"))
      assert(finals.forall(_.getSeq[Long](3).size == 6), "every session flushes all 6 events")
      val keyWindow = finals.map(r => (r.getString(0), r.getAs[Long]("wstart"))).toSeq
      assert(keyWindow.distinct.size == 1000, "exactly one final pane per (key, session)")
      // early firings happened (count >= 4 pre-watermark) and never final
      assert(got.exists(r => r.getAs[String]("timing") == "EARLY"))
      assert(got.filter(_.getAs[String]("timing") == "EARLY").forall(!_.getAs[Boolean]("is_final")))
    } finally q.stop()
  }
}
