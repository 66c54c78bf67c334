package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.streaming.Triggers
import graft.streaming.Triggers._

/** Calibration pin for FuzzTriggerTranscriptSpec's interpreter: an
  * event-time timer at T fires as soon as the watermark reaches EXACTLY T
  * (the >= rule), and the pane it produces at the boundary is ON_TIME.
  * The fuzz interpreter hard-codes this rule; if a Spark upgrade changes
  * it, this spec fails first and points at the dependency.
  *
  * The fixed-window processor runs on flatMapGroupsWithState, whose
  * event-time timeout at ts fires once the watermark PASSES ts; it arms
  * T - 1 for a step due at T. The pins below hold that rule and its two
  * boundaries batch by batch, with no-data micro-batches off so that each
  * `addData` is exactly one batch whose watermark is the previous
  * batches' maximum event time. */
class TimerTieProbeSpec extends SparkSpec {
  import spark.implicits._
  test("timer tie calibration") {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 10000L)
    val panes = Triggers.triggeredAggregateComposite(assigned, collectLongsFn,
      RepeatedlyT(AfterWatermarkT), windowSizeMs = 10000L, allowedLatenessMs = 1000000L)
    val q = panes.toDF("k", "ws", "we", "vs", "idx", "timing", "fin")
      .writeStream.format("memory").queryName("tieprobe")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("data", new Timestamp(5000), 5L)); q.processAllAvailable()
      input.addData(("__wm", new Timestamp(10000), 0L)); q.processAllAvailable()
      val atExact = spark.table("tieprobe").collect().count(_.getString(0) == "data")
      input.addData(("__wm", new Timestamp(10001), 0L)); q.processAllAvailable()
      val past = spark.table("tieprobe").collect().count(_.getString(0) == "data")
      assert(atExact == 1,
        s"timer-at-watermark tie rule changed: expected the end-of-window " +
          s"timer to fire at wm == windowEnd, saw $atExact panes")
      assert(past == 1, "no further pane expected past the boundary")
      val pane = spark.table("tieprobe").collect().find(_.getString(0) == "data").get
      assert(pane.getString(5) == "ON_TIME")
    } finally q.stop()
  }

  private def batchWatermark(q: StreamingQuery): Long =
    java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli

  test("flatMapGroupsWithState timeout rule: armed at T - 1 fires at wm == T; armed at T does not") {
    val s = sessionWithNoDataBatches(enabled = false)
    val input = MemoryStream[(String, Timestamp)](s)
    val fired = input.toDF().toDF("k", "t").withWatermark("t", "0 seconds")
      .as[(String, Timestamp)].groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: String, _: Iterator[(String, Timestamp)], st: GroupState[Long]) =>
          if (st.hasTimedOut) { st.remove(); Iterator(k) }
          else if (k == "__wm") Iterator.empty
          else {
            // "early" arms T - 1, "exact" arms T, for T = 10 s
            val at = if (k == "early") 9999L else 10000L
            st.update(at); st.setTimeoutTimestamp(at); Iterator.empty
          }
      }
    val q = fired.toDF("k").writeStream.format("memory").queryName("fmgws_tie")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    def seen = s.table("fmgws_tie").collect().map(_.getString(0)).toSet
    try {
      input.addData(("early", new Timestamp(5000)), ("exact", new Timestamp(5000)))
      q.processAllAvailable()
      input.addData(("__wm", new Timestamp(10000))); q.processAllAvailable()
      assert(batchWatermark(q) == 5000L && seen.isEmpty, s"nothing due at wm 5 s: $seen")
      input.addData(("__wm", new Timestamp(10000))); q.processAllAvailable()
      assert(batchWatermark(q) == 10000L)
      assert(seen == Set("early"),
        s"timeout tie rule changed: at wm == 10 s expected only the T - 1 timeout, saw $seen")
      input.addData(("__wm", new Timestamp(10001))); q.processAllAvailable()
      input.addData(("__wm", new Timestamp(10001))); q.processAllAvailable()
      assert(seen == Set("early", "exact"), s"the timeout at T fires once wm passes it: $seen")
    } finally q.stop()
  }

  private type PaneA = (Int, String, Boolean, Seq[Long])

  /** Key "a"'s panes in the memory sink `name`. */
  private def panesOfA(s: SparkSession, name: String): Seq[PaneA] =
    s.table(name).collect().filter(_.getString(0) == "a")
      .map(r => (r.getAs[Int]("idx"), r.getAs[String]("timing"), r.getAs[Boolean]("fin"),
        r.getSeq[Long](3).toSeq.sorted)).sortBy(_._1).toSeq

  /** `triggeredAggregate` over (k, ts seconds) batches, one batch per
    * `batch` call; returns key "a"'s panes, which the script can also
    * read mid-run. */
  private def fixedPanes(cfg: TriggerConfig, name: String)(
      script: (Seq[(String, Long)] => Unit, StreamingQuery, () => Seq[PaneA]) => Unit): Seq[PaneA] = {
    val s = sessionWithNoDataBatches(enabled = false)
    val input = MemoryStream[(String, Timestamp, Long)](s)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], cfg.windowSizeMs)
    val q = Triggers.triggeredAggregate(assigned, collectLongsFn, cfg)
      .toDF("k", "ws", "we", "vs", "idx", "timing", "fin")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    def batch(rows: Seq[(String, Long)]): Unit = {
      input.addData(rows.map { case (k, t) => (k, new Timestamp(t * 1000), t) }: _*)
      q.processAllAvailable()
    }
    try script(batch, q, () => panesOfA(s, name)) finally q.stop()
    panesOfA(s, name)
  }

  test("triggeredAggregate: the ON_TIME pane fires in the batch whose watermark equals window end") {
    var before, at = Seq.empty[PaneA]
    val all = fixedPanes(TriggerConfig(windowSizeMs = 10000L), "fixed_end_tie") { (batch, q, panes) =>
      batch(Seq(("a", 5L)))
      batch(Seq(("__wm", 10L)))
      assert(batchWatermark(q) == 5000L)
      before = panes()
      batch(Seq(("__wm", 10L)))
      assert(batchWatermark(q) == 10000L)
      at = panes()
    }
    assert(before.isEmpty, s"no pane before the watermark reaches the window end: $before")
    assert(at == Seq((0, "ON_TIME", true, Seq(5L))), s"panes at wm == end: $at")
    assert(all == at)
  }

  test("triggeredAggregate: at wm == GC horizon input is dropped and the window's state is gone") {
    var rowsAfter = -1L
    // window [0, 10 s), GC horizon 15 s; the element at 8 s arrives in the
    // batch whose watermark is exactly 15 s
    val all = fixedPanes(TriggerConfig(windowSizeMs = 10000L, allowedLatenessMs = 5000L),
        "fixed_gc_tie") { (batch, q, _) =>
      batch(Seq(("a", 5L)))
      batch(Seq(("__wm", 15L)))
      assert(batchWatermark(q) == 5000L)
      batch(Seq(("a", 8L)))
      assert(batchWatermark(q) == 15000L)
      rowsAfter = q.lastProgress.stateOperators.head.numRowsTotal
    }
    assert(all == Seq((0, "ON_TIME", false, Seq(5L))),
      s"the element at the GC horizon must reach no pane: $all")
    // the "__wm" window [10 s, 20 s) is still open; window [0, 10 s) is gone
    assert(rowsAfter == 1L, s"numRowsTotal = $rowsAfter after the GC step")
  }
}
