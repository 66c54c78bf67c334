package graft

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{Triggers, TwsTriggerReference}
import graft.streaming.Triggers._

/** Differential fuzz layer for the fixed-window pane processor:
  * `Triggers.triggeredAggregate` (flatMapGroupsWithState, one timeout per
  * (key, window)) against [[TwsTriggerReference]], the same pane rules on
  * transformWithState with two timers per (key, window). Both run as real
  * streaming queries over the same random schedules
  * ([[TriggerSim.genSchedule]]) and must emit the same COMPLETE pane
  * transcript: (key, window, paneIndex, timing, isFinal, values).
  *
  * The engine runs on Spark's default HDFS-backed state store and the
  * reference on RocksDB, each in a session of its own, so the transcripts
  * also compare the two providers.
  *
  * Each trial takes one point of the config space, so the default trials
  * cover every value of each axis: allowed lateness 0, 15 and 1000 s;
  * NoEarlyFiring, EveryBatch and AfterCount(2); accumulating and
  * discarding; lateFirings and onTimeAlways on and off; and no-data
  * micro-batches on and off. With them off, a timeout only fires in a
  * batch that reads data, so input regularly meets a window whose end or
  * GC step is already due — the path the step function runs itself.
  *
  * Sensitivity: the reference with a planted tie bug (end-of-window timer
  * 1 ms late) must diverge from the engine on a schedule whose watermark
  * lands exactly on a window end. */
class FuzzFixedTriggerSpec extends SparkSpec {
  import spark.implicits._
  import TriggerSim.{genSchedule, In, Step, Wm}

  private val Seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong
  private val Trials = sys.env.getOrElse("SPARK_GRAFT_FIXEDFUZZ_N", "6").toInt
  private val WindowMs = 10000L

  private type PaneT = (String, Long, Int, String, Boolean, Seq[Long])
  private type Build = Dataset[(String, Long, Long)] => Dataset[Pane[String, List[Long]]]

  /** Run `steps` through the pane query `build` makes, one micro-batch per
    * step. Elements go to key "a" or "b" by parity; "__wm" events only
    * move the watermark. */
  private def transcript(build: Build, steps: Seq[Step], noDataBatches: Boolean,
                         sink: String, cp: String = ckpt()): Set[PaneT] = {
    val s = sessionWithNoDataBatches(noDataBatches)
    val input = MemoryStream[(String, Timestamp, Long)](s)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], WindowMs)
    val q = build(assigned).toDF("k", "ws", "we", "vs", "idx", "timing", "fin")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", cp).start()
    try {
      // with no-data batches off, the last step's watermark only takes
      // effect in one more batch
      (steps :+ Wm(3001L)).foreach {
        case In(ts) =>
          input.addData(ts.map(t => (if (t % 2 == 0) "a" else "b", new Timestamp(t * 1000), t)): _*)
          q.processAllAvailable()
        case Wm(t) =>
          input.addData(("__wm", new Timestamp(t * 1000), 0L))
          q.processAllAvailable()
      }
      s.table(sink).collect().filter(_.getString(0) != "__wm")
        .map(r => (r.getString(0), r.getAs[Long]("ws"), r.getAs[Int]("idx"),
          r.getAs[String]("timing"), r.getAs[Boolean]("fin"), r.getSeq[Long](3).toSeq.sorted))
        .toSet
    } finally q.stop()
  }

  private def engine(cfg: TriggerConfig): Build =
    Triggers.triggeredAggregate(_, collectLongsFn, cfg)
  private def reference(cfg: TriggerConfig, tieShiftMs: Long = 0L): Build =
    TwsTriggerReference.triggeredAggregate(_, collectLongsFn, cfg, tieShiftMs)

  private def show(ps: Set[PaneT]): String = ps.toSeq.sortBy(p => (p._1, p._2, p._3)).mkString(", ")

  test(s"random fixed-window pane transcripts: flatMapGroupsWithState == transformWithState " +
      s"(seed=$Seed, trials=$Trials)") {
    val rnd = new scala.util.Random(Seed)
    var panesTotal = 0
    var earlySeen, lateSeen, finalSeen = false
    for (trial <- 0 until Trials) {
      val (steps, _) = genSchedule(rnd)
      val cfg = TriggerConfig(
        windowSizeMs = WindowMs,
        allowedLatenessMs = Seq(0L, 15000L, 1000000L)((trial + trial / 3) % 3),
        early = Seq(NoEarlyFiring, EveryBatch, AfterCount(2))(trial % 3),
        accumulating = trial % 2 == 0,
        lateFirings = (trial / 2) % 2 == 0,
        onTimeAlways = (trial / 4) % 2 == 0)
      val noData = (trial / 3) % 2 == 0
      val (engineCp, referenceCp) = (ckpt(), ckpt())
      val got = transcript(engine(cfg), steps, noData, s"fixfz_e$trial", engineCp)
      val exp = transcript(reference(cfg), steps, noData, s"fixfz_r$trial", referenceCp)
      // the engine runs on the store stream_panes times, the reference on
      // the one transformWithState needs
      assert(checkpointProviders(engineCp).distinct == Seq(HdfsProvider) &&
        checkpointProviders(referenceCp).distinct == Seq(RocksDBProvider),
        s"trial $trial providers: engine ${checkpointProviders(engineCp).distinct}, " +
          s"reference ${checkpointProviders(referenceCp).distinct}")
      assert(got == exp,
        s"trial $trial diverged\n cfg=$cfg noDataBatches=$noData\n steps=$steps\n " +
          s"engine-only=${show(got -- exp)}\n reference-only=${show(exp -- got)}")
      panesTotal += got.size
      earlySeen ||= got.exists(_._4 == "EARLY")
      lateSeen ||= got.exists(_._4 == "LATE")
      finalSeen ||= got.exists(_._5)
    }
    // non-triviality: the trials must traverse the pane space
    assert(panesTotal > Trials * 2, s"only $panesTotal panes across $Trials trials")
    assert(earlySeen && lateSeen && finalSeen,
      s"pane-space coverage hole: early=$earlySeen late=$lateSeen final=$finalSeen")
  }

  test("watermark jumps past window end and GC horizon in one batch, " +
      "with and without no-data batches") {
    // window [0, 10 s), GC horizon 25 s. The watermark goes 5 s -> 100 s:
    // with no-data batches the timeout call runs the end AND the GC step;
    // without, the input for the window (dropped: past its horizon) meets
    // both steps due and runs them in the input call.
    val cfg = TriggerConfig(windowSizeMs = WindowMs, allowedLatenessMs = 15000L,
      lateFirings = false)
    val steps = Seq(In(Seq(4L, 5L)), In(Seq(6L)), Wm(100L), In(Seq(8L)))
    for (noData <- Seq(true, false)) {
      val got = transcript(engine(cfg), steps, noData, s"fixjump_e$noData")
      val exp = transcript(reference(cfg), steps, noData, s"fixjump_r$noData")
      assert(got == exp, s"noDataBatches=$noData: engine ${show(got)} vs reference ${show(exp)}")
      assert(got == Set(("a", 0L, 0, "ON_TIME", false, Seq(4L, 6L)),
        ("b", 0L, 0, "ON_TIME", false, Seq(5L))), show(got))
    }
  }

  test("sensitivity: a planted tie bug in the reference diverges") {
    // the watermark lands exactly on the end of window [0, 10 s), then a
    // late element arrives: the engine fires ON_TIME at wm == end and LATE
    // with the element; a timer 1 ms late fires ON_TIME only with it
    val cfg = TriggerConfig(windowSizeMs = WindowMs, allowedLatenessMs = 15000L)
    val steps = Seq(In(Seq(4L)), Wm(10L), In(Seq(6L)))
    val got = transcript(engine(cfg), steps, noDataBatches = true, "fixtie_e")
    val exp = transcript(reference(cfg), steps, noDataBatches = true, "fixtie_r")
    val planted = transcript(reference(cfg, tieShiftMs = 1L), steps, noDataBatches = true,
      "fixtie_p")
    assert(got == exp, s"engine ${show(got)} vs reference ${show(exp)}")
    assert(got == Set(("a", 0L, 0, "ON_TIME", false, Seq(4L)),
      ("a", 0L, 1, "LATE", false, Seq(4L, 6L))), show(got))
    assert(planted != got, s"planted tie bug not caught: ${show(planted)}")
  }
}
