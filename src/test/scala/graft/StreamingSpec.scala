package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}

import graft.operators.Windows._
import graft.operators.Create
import graft.streaming.{AsOfStream, Stateful, StreamingOps}

/** Shared mutable "external system" for the Watch.growthOf test (static so
  * executor closures in local mode see the same state). */
object WatchGrowthFixture {
  @volatile private var items: Seq[Long] = Seq.empty
  def set(xs: Seq[Long]): Unit = items = xs
  def snapshot(): Seq[Long] = items
}

/** MemoryStream scenario tests — the reference's TestStream/LeaderBoardTest
  * pattern (reference: SDK/testing/TestStream.java:52,
  * examples/java8/src/test/.../game/LeaderBoardTest.java): scripted element
  * batches advance the watermark; assert pane content per firing regime. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  test("append mode = AfterWatermark.pastEndOfWindow: emits once watermark passes; drops too-late") {
    val input = MemoryStream[(String, Timestamp)](spark)
    val agg = StreamingOps.windowedAggregate(
      input.toDF().toDF("k", "t"),
      WindowingStrategy(FixedWindows("1 hour"), allowedLateness = "10 minutes"),
      col("t"), Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = agg.select(col("window.start").cast("string").as("ws"), col("k"), col("n"))
      .writeStream.format("memory").queryName("append_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // on-time elements in [10:00, 11:00); watermark stays below window end
      input.addData(("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(spark.table("append_test").count() == 0, "no pane before watermark passes")

      // late-but-within-lateness: watermark = 10:50 - 10min = 10:40 < 11:00
      input.addData(("a", ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      assert(spark.table("append_test").count() == 0)

      // advance watermark past end-of-window: 12:30 - 10min = 12:20 > 11:00
      input.addData(("b", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      val pane = spark.table("append_test").collect().map(_.toSeq)
      assert(pane.toSeq == Seq(Seq("2024-01-01 10:00:00", "a", 3L)),
        s"exactly one final pane with all 3 on-time elements, got ${pane.toSeq}")

      // too-late element (watermark 12:20 >> window end + lateness): dropped
      input.addData(("a", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      assert(spark.table("append_test").count() == 1, "too-late data must not re-fire the pane")
    } finally q.stop()
  }

  test("update mode = accumulating early firings: refined panes per micro-batch") {
    val input = MemoryStream[(String, Timestamp)](spark)
    val strategy = WindowingStrategy(FixedWindows("1 hour"),
      allowedLateness = "10 minutes", accumulating = true)
    assert(StreamingOps.outputModeFor(strategy) == "update")
    val agg = StreamingOps.windowedAggregate(input.toDF().toDF("k", "t"),
      strategy, col("t"), Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = agg.select(col("k"), col("n"))
      .writeStream.format("memory").queryName("update_test")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // early pane visible before the watermark passes the window end
      assert(spark.table("update_test").collect().map(_.toSeq).toSeq == Seq(Seq("a", 2L)))

      input.addData(("a", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // accumulating refinement: a new pane with the cumulative count
      val panes = spark.table("update_test").collect().map(_.toSeq).toSeq
      assert(panes.contains(Seq("a", 3L)), s"expected refined pane n=3 in $panes")
    } finally q.stop()
  }

  test("distinctWithinWatermark dedups a stream exactly") {
    val input = MemoryStream[(Long, Timestamp)](spark)
    val out = StreamingOps.distinctWithinWatermark(
      input.toDF().toDF("id", "t"), col("t"), "1 hour", Seq("id"))
    val q = out.select(col("id"))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:00:30")),
                    (2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:02:00"))) // dup within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_test").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("StreamingWordExtract: tokenize -> uppercase -> row conversion on a stream " +
      "(examples/complete/StreamingWordExtract.java:56-96)") {
    // the reference's three DoFns (ExtractWords on the shared TOKENIZER_PATTERN,
    // Uppercase, StringToRowConverter) as declarative streaming transforms —
    // stateless element-wise ops need no watermark and stay in append mode
    val input = MemoryStream[String](spark)
    val rows = input.toDF().toDF("line")
      .select(explode(split(col("line"), "[^a-zA-Z']+")).as("word"))
      .filter(length(col("word")) > 0)
      .select(upper(col("word")).as("string_field"))
    val q = rows.writeStream.format("memory").queryName("swe_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData("not Peace, but a sword")
      q.processAllAvailable()
      val got = spark.table("swe_test").collect().map(_.getString(0)).toSeq.sorted
      assert(got == Seq("A", "BUT", "NOT", "PEACE", "SWORD"))
      input.addData("o'er the land")
      q.processAllAvailable()
      assert(spark.table("swe_test").count() == 8)
      assert(spark.table("swe_test").collect().map(_.getString(0)).contains("O'ER"))
    } finally q.stop()
  }

  test("stream-static join broadcasts the bounded side") {
    val input = MemoryStream[Long](spark)
    val dim = Create.of(spark, Seq((1L, "one"), (2L, "two"))).toDF("id", "name")
    val joined = StreamingOps.streamStaticJoin(input.toDF().toDF("id"), dim, Seq("id"))
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val rows = spark.table("ssj_test").collect().map(_.toSeq).toSet
      assert(rows == Set(Seq(1L, "one"), Seq(2L, "two")))
    } finally q.stop()
  }

  test("statefulParDo: ValueState + CombiningState accumulate across batches") {
    Stateful.requireRocksDBStateStore(spark)
    val input = MemoryStream[(String, Long)](spark)
    val out = Stateful.statefulParDo[String, (String, Long), (String, Long, Double),
        (org.apache.spark.sql.streaming.ValueState[Long],
         Stateful.CombiningState[Double, (Long, Double), Double])](
      input.toDS().groupByKey(_._1),
      TimeMode.None(), OutputMode.Update()) { h =>
        (h.getValueState[Long]("sum", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE),
         new Stateful.CombiningState[Double, (Long, Double), Double](
           h.getValueState[(Long, Double)]("mean",
             org.apache.spark.sql.Encoders.tuple(
               org.apache.spark.sql.Encoders.scalaLong,
               org.apache.spark.sql.Encoders.scalaDouble), TTLConfig.NONE),
           new graft.functions.MeanFn))
      } { case (key, rows, (sum, mean), h, tv) =>
        var s = if (sum.exists()) sum.get() else 0L
        rows.foreach { case (_, v) => s += v; mean.add(v.toDouble) }
        sum.update(s)
        Iterator((key, s, mean.read()))
      }()
    val q = out.toDF("k", "sum", "mean")
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      input.addData(("a", 3L))
      q.processAllAvailable()
      val byBatch = spark.table("state_test").collect().map(_.toSeq).toSeq
      assert(byBatch.contains(Seq("a", 3L, 1.5)), s"batch-1 state: $byBatch")
      assert(byBatch.contains(Seq("a", 6L, 2.0)), s"state carried into batch 2: $byBatch")
      assert(byBatch.contains(Seq("b", 10L, 10.0)))
    } finally q.stop()
  }

  test("session_window streaming aggregation merges within gap under watermark") {
    val input = MemoryStream[(String, Timestamp)](spark)
    val agg = StreamingOps.windowedAggregate(
      input.toDF().toDF("k", "t"),
      WindowingStrategy(Sessions("10 minutes"), allowedLateness = "0 seconds"),
      col("t"), Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = agg.select(col("k"), col("n"))
      .writeStream.format("memory").queryName("sess_stream_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:05:00")),
                    ("a", ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      input.addData(("b", ts("2024-01-01 12:00:00"))) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_stream_test").collect().map(_.toSeq).toSeq
      assert(rows.contains(Seq("a", 2L)) && rows.contains(Seq("a", 1L)),
        s"two sessions for key a (merged pair + singleton): $rows")
    } finally q.stop()
  }

  test("streaming file sink writes exactly-once parquet via the commit protocol") {
    val input = MemoryStream[(Long, String)](spark)
    val dir = Files.createTempDirectory("graft-sink").toString
    val q = graft.streaming.StreamIO.fileSink(
      input.toDF().toDF("id", "name"), "parquet", s"$dir/out", s"$dir/ckpt").start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
      assert(back == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    } finally q.stop()
  }

  test("foreachBatch sink sees each micro-batch once with its batch id") {
    val input = MemoryStream[Long](spark)
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
    val q = graft.streaming.StreamIO.foreachBatchSink(input.toDS()) { (batch, id) =>
      seen(id) = batch.collect().toSeq.sorted
    }.option("checkpointLocation", ckpt()).start()
    try {
      input.addData(1L, 2L)
      q.processAllAvailable()
      input.addData(3L)
      q.processAllAvailable()
      assert(seen.values.flatten.toSeq.sorted == Seq(1L, 2L, 3L), seen.toString)
      assert(seen.size == 2, s"one callback per micro-batch: $seen")
    } finally q.stop()
  }

  test("streaming corpus-prep: foreachBatch incremental dedup against a growing digest store") {
    // the production shape for streaming ingestion dedup: each micro-batch
    // gets verdicts from Dedup.exactIncremental against the accumulated
    // digest store, then its NEW digests append to the store — duplicates
    // across batches are flagged, never re-admitted
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)](spark)
    val store = scala.collection.concurrent.TrieMap.empty[String, Long] // hash -> rep
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.StreamIO.foreachBatchSink(input.toDS()) { (batch, _) =>
      val docs = batch.toDF("doc_id", "text")
      val storeDf = store.toSeq.toDF("content_hash", "corpus_rep")
      val verdicts = graft.operators.Dedup.exactIncremental(
        docs, col("text"), col("doc_id"), storeDf).collect()
      verdicts.foreach { r =>
        val (id, hash, keep) = (r.getLong(0), r.getString(1), r.getBoolean(4))
        if (keep) { kept += id; store.putIfAbsent(hash, id) } else dropped += id
      }
    }.option("checkpointLocation", ckpt()).start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // in-batch dup
      q.processAllAvailable()
      input.addData((4L, "beta"), (5L, "gamma")) // cross-batch dup + new
      q.processAllAvailable()
      assert(kept.sorted == Seq(1L, 2L, 5L), s"kept=$kept dropped=$dropped")
      assert(dropped.sorted == Seq(3L, 4L), s"kept=$kept dropped=$dropped")
      assert(store.size == 3)
    } finally q.stop()
  }

  test("watchGrowth: polled set growth emits each new element exactly once") {
    val input = MemoryStream[Long](spark) // tick stream
    val out = graft.streaming.StreamIO.watchGrowthFrom[Long](
      input.toDF(), () => WatchGrowthFixture.snapshot(), Seq("value"))
    val q = out.select(col("value"))
      .writeStream.format("memory").queryName("watch_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      WatchGrowthFixture.set(Seq(1L, 2L))
      input.addData(0L) // tick 1
      q.processAllAvailable()
      WatchGrowthFixture.set(Seq(1L, 2L, 3L)) // grows by one
      input.addData(1L) // tick 2 re-polls: 1 and 2 must not re-emit
      q.processAllAvailable()
      val got = spark.table("watch_test").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L), s"each element exactly once: $got")
    } finally q.stop()
  }

  test("statefulParDo: MapState as Beam SetState gives exact distinct counts") {
    Stateful.requireRocksDBStateStore(spark)
    val input = MemoryStream[(String, Long)](spark)
    // Beam SetState == MapState[T, Unit] (SURVEY §2.7): per-key exact
    // distinct element count across batches
    val out = Stateful.statefulParDo[String, (String, Long), (String, Long),
        org.apache.spark.sql.streaming.MapState[Long, Boolean]](
      input.toDS().groupByKey(_._1),
      TimeMode.None(), OutputMode.Update()) { h =>
        h.getMapState[Long, Boolean]("seen",
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
      } { case (key, rows, seen, h, tv) =>
        rows.foreach { case (_, v) => seen.updateValue(v, true) }
        Iterator((key, seen.keys().size.toLong))
      }()
    val q = out.toDF("k", "n_distinct")
      .writeStream.format("memory").queryName("set_state_test")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("a", 2L))
      q.processAllAvailable()
      input.addData(("a", 1L), ("a", 3L))
      q.processAllAvailable()
      val rows = spark.table("set_state_test").collect().map(_.toSeq).toSeq
      assert(rows.contains(Seq("a", 2L)), s"batch 1 distinct {1,2}: $rows")
      assert(rows.contains(Seq("a", 3L)), s"batch 2 distinct {1,2,3} across batches: $rows")
    } finally q.stop()
  }

  test("groupIntoBatches streaming: size-triggered batches + event-time timer flush") {
    Stateful.requireRocksDBStateStore(spark)
    val input = MemoryStream[(String, Timestamp)](spark)
    val grouped = input.toDF().toDF("k", "t")
      .withWatermark("t", "1 second")
      .as[(String, Timestamp)]
      .groupByKey(_._1)
    val out = Stateful.groupIntoBatches(grouped, n = 10, flushDelayMs = 0L,
      timeMode = TimeMode.EventTime())
    val q = out.map { case (k, vs) => (k, vs.size) }.toDF("k", "batch_size")
      .writeStream.format("memory").queryName("gib_test")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData((1 to 25).map(_ => ("k", ts("2024-01-01 10:00:00"))): _*)
      q.processAllAvailable()
      val full = spark.table("gib_test").collect().map(_.getInt(1))
      assert(full.count(_ == 10) == 2, s"two full size-triggered batches, got ${full.toSeq}")

      // advancing the watermark fires the straggler-flush event-time timer
      input.addData(("other", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      input.addData(("other2", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val sizes = spark.table("gib_test").collect().map(_.getInt(1)).sorted.toSeq
      assert(sizes.contains(5), s"straggler batch flushed by event-time timer: $sizes")

      // state-row leak pin (r18, caught by the stream benchmark's bounded-state
      // assertion): a FLUSHED key must leave ZERO quiescent state rows —
      // the old cnt.update(0) pinned one row per key forever, unbounded
      // over the key cardinality's lifetime. After this advance only the
      // newest key ("other3") may hold state (its 1 buffered row + count
      // + timer); "k", "other" and "other2" are all fully flushed.
      input.addData(("other3", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      val finalRows = states.lastOption.map(_.numRowsTotal).getOrElse(-1L)
      assert(finalRows >= 0 && finalRows <= 4,
        s"flushed keys must not retain state rows (update(0) leak), got $finalRows")
    } finally q.stop()
  }

  test("windowed side input on a STREAMING main: each windowed aggregate joins " +
      "the side view of its mapped window (stream-static)") {
    // Beam windowed side inputs inside a streaming pipeline: the main input
    // is a windowed streaming aggregation; the side is a per-window static
    // table; the default WindowMappingFn picks the side window containing
    // each main window's max timestamp (Joins.sideWindowFor).
    val H = 3600 * 1000L
    val input = MemoryStream[(String, Timestamp)](spark)
    val main = StreamingOps.windowedAggregate(
      input.toDF().toDF("k", "t"),
      WindowingStrategy(FixedWindows("1 hour")),
      col("t"), Seq(col("k")), Seq(count(lit(1)).as("n")))
      .select(col("k"), unix_millis(col("window.end")).as("wend"),
        unix_millis(col("window.start")).as("wstart"), col("n"))
    // side: per-2h-window thresholds, static/bounded
    val side = Seq(
      (("2024-01-01 00:00:00"), "u1", 10),
      (("2024-01-01 02:00:00"), "u1", 20)
    ).toDF("sw", "k", "threshold")
      .select(unix_millis(to_timestamp(col("sw"))).as("swstart"), col("k"), col("threshold"))
    val joined = graft.operators.Joins.windowedSideInputJoin(
      main, col("wend"), side, "swstart", 2 * H, Seq("k"))
      .select(col("k"), col("wstart"), col("n"), col("threshold"))
    val q = joined.writeStream.format("memory").queryName("win_side_input")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      input.addData(("u1", ts("2024-01-01 00:10:00")), ("u1", ts("2024-01-01 00:20:00")),
        ("u1", ts("2024-01-01 01:10:00")), ("u1", ts("2024-01-01 02:10:00")))
      q.processAllAvailable()
      input.addData(("zz", ts("2024-01-01 09:00:00"))) // advance watermark
      q.processAllAvailable()
      val got = spark.table("win_side_input").collect()
        .filter(_.getString(0) == "u1")
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1).toSeq
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // windows [0h,1h) and [1h,2h) read the [0h,2h) view (threshold 10);
      // [2h,3h) reads [2h,4h) (threshold 20)
      assert(got == Seq((base, 2L, 10), (base + H, 1L, 10), (base + 2 * H, 1L, 20)),
        got.toString)
    } finally q.stop()
  }

  test("AsOfStream.asOfJoin: watermark-final latest-right matching, dominance GC, late left") {
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS())
      .map(j => (j.key, j.leftTs / 1000, j.left, j.rightTs.map(_ / 1000), j.right))
    val q = out.toDF("k", "lts", "label", "rts", "price")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // batch 1: rights a@10 (p=100), a@20 (p=200); left a@15. The data
      // batch runs at watermark 0 (left buffers, timer set at 15s); the
      // trailing no-data batch advances the global (min-of-sources)
      // watermark to 15s and fires the timer — a@15 matches the a@10
      // right (NOT a@20, which is later)
      rightIn.addData(("a", ts(10), 100L), ("a", ts(20), 200L))
      leftIn.addData(("a", ts(15), "L15"))
      q.processAllAvailable()
      val afterB1 = spark.table("asof_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Long])))
      assert(afterB1.toSet == Set(("a", 15L, "L15", Some(10L), Some(100L))), afterB1.mkString)

      // batch 2: right b@60 rides the right-source watermark up to 60s
      rightIn.addData(("b", ts(60), 900L))
      q.processAllAvailable()

      // batch 3 (watermark now 60s): late left a@25 resolves IMMEDIATELY
      // against the retained history — a@20 survives dominance GC as the
      // dominant right; late left b@55 has no right at-or-before it
      leftIn.addData(("a", ts(25), "L25"), ("b", ts(55), "L55"))
      q.processAllAvailable()
      val all = spark.table("asof_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Long])))
        .toSet
      assert(all == Set(
        ("a", 15L, "L15", Some(10L), Some(100L)),
        ("a", 25L, "L25", Some(20L), Some(200L)),
        ("b", 55L, "L55", None, None)), all.mkString("\n"))
    } finally q.stop()
  }

  test("AsOfStream.asOfJoin watermark boundary: resolving at ts == watermark is exact " +
    "because Spark drops an equal-ts right arriving in a later batch") {
    // the scaladoc's exactness claim rests on Spark's admission rule
    // (late filter drops ts <= previous-batch watermark): once the
    // watermark reaches a left's ts, an equal-ts right can no longer be
    // admitted, so the boundary left's right-history is complete. Pin
    // both halves: the boundary left emits with the history seen so far,
    // and a later equal-ts right is observably dropped (no second match,
    // no different match).
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS())
      .map(j => (j.key, j.leftTs / 1000, j.rightTs.map(_ / 1000), j.right))
    val q = out.toDF("k", "lts", "rts", "price")
      .writeStream.format("memory").queryName("asof_boundary")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      rightIn.addData(("a", ts(20), 200L))
      q.processAllAvailable()
      leftIn.addData(("a", ts(20), "L20")) // watermark reaches exactly 20s
      q.processAllAvailable()
      val afterBoundary = spark.table("asof_boundary").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(afterBoundary == Set(("a", 20L, Some(20L), Some(200L))),
        s"boundary left must resolve once the watermark reaches its ts: $afterBoundary")
      rightIn.addData(("a", ts(20), 201L)) // equal-ts right, later batch
      q.processAllAvailable()
      rightIn.addData(("c", ts(90), 900L)) // push the watermark well past 20s
      leftIn.addData(("c", ts(90), "C90"))
      q.processAllAvailable()
      val aRows = spark.table("asof_boundary").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .filter(_._1 == "a").toSet
      // the 201 right was dropped by Spark's late filter (ts <= watermark):
      // the boundary match is final and unique — were equal-ts rights
      // admissible, this would show a second or different row
      assert(aRows == Set(("a", 20L, Some(20L), Some(200L))), aRows.mkString)
    } finally q.stop()
  }

  test("AsOfStream.asOfJoin lateness admits laggard lefts; pending rows resolve pre-GC") {
    // the `lateness` watermark delay is BOTH the admission and the
    // retention window: a left 105s behind the newest event still gets
    // the CORRECT older right, because ripe pending lefts resolve in the
    // same timer pass that runs the dominance GC, against the pre-GC
    // history
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS(),
        lateness = "60 seconds")
      .map(j => (j.key, j.leftTs / 1000, j.rightTs.map(_ / 1000)))
    val q = out.toDF("k", "lts", "rts")
      .writeStream.format("memory").queryName("asof_lateness")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      rightIn.addData(("a", ts(10), 100L), ("a", ts(20), 200L))
      q.processAllAvailable()
      leftIn.addData(("a", ts(15), "laggard")) // buffers: watermark still behind
      q.processAllAvailable()
      rightIn.addData(("c", ts(120), 900L))    // right source far ahead
      q.processAllAvailable()
      assert(spark.table("asof_lateness").isEmpty,
        "global watermark (min of sources, each lagging 60s) must still gate emission")
      leftIn.addData(("d", ts(90), "x"))       // left watermark to 30s -> timer fires
      q.processAllAvailable()
      val got = spark.table("asof_lateness").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
      // a@15 matched a@10 (not the newer a@20) even though by then the GC
      // pass had every reason to collapse history — pre-GC resolve order
      assert(got == Set(("a", 15L, Some(10L))), got.mkString)
    } finally q.stop()
  }

  test("AsOfStream.asOfJoinForward: earliest-right-within-tolerance, watermark-final, " +
      "unmatched finalizes at window end") {
    // the mirrored buffer (r11 verdict item 4): a left resolves to the
    // EARLIEST right in [lts, lts+tol] once the watermark passes that
    // right's ts (no later-admitted right can beat it), or emits
    // unmatched once the watermark passes lts+tol (no admissible right
    // can land in the window). Tolerance REQUIRED — the unbounded form is
    // not watermark-finalizable (documented narrowing in AsOfStream).
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoinForward(leftIn.toDS(), rightIn.toDS(),
        toleranceMs = 10000L)
      .map(j => (j.key, j.leftTs / 1000, j.left, j.rightTs.map(_ / 1000), j.right))
    val q = out.toDF("k", "lts", "label", "rts", "price")
      .writeStream.format("memory").queryName("asof_fwd")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    def collected() = spark.table("asof_fwd").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
    try {
      // a@15 sees candidates a@20 and a@30 → must pick the EARLIEST (20),
      // and only once the watermark reaches 20
      rightIn.addData(("a", ts(20), 200L), ("a", ts(30), 300L))
      leftIn.addData(("a", ts(15), "L15"))
      q.processAllAvailable() // global wm = min(15, 30) = 15 < 20: pending
      assert(collected().isEmpty,
        s"a@15 must stay pending until wm >= its candidate's ts: ${collected()}")
      // advance both sources: wm to min(55, 60) = 55 >= 20 → a@15 final;
      // b@55's candidate b@60 still in flight (wm < 60)
      rightIn.addData(("b", ts(60), 900L))
      leftIn.addData(("b", ts(55), "L55"))
      q.processAllAvailable()
      assert(collected() == Set(("a", 15L, "L15", Some(20L), Some(200L))),
        collected().mkString)
      // d@70 has NO candidate; e@58's only right e@75 is 17s away — past
      // the 10s tolerance (both lefts > the 55s admission watermark).
      // Advance wm to 100 → b@55 matches b@60, d@70 and e@58 finalize
      // unmatched (windows end 80 / 68 <= 100)
      leftIn.addData(("d", ts(70), "L70"), ("e", ts(58), "L40"))
      rightIn.addData(("e", ts(75), 555L))
      q.processAllAvailable()
      leftIn.addData(("z", ts(100), "Z"))
      rightIn.addData(("z", ts(100), 1L)) // equal-ts: rts >= lts matches
      q.processAllAvailable()
      assert(collected() == Set(
        ("a", 15L, "L15", Some(20L), Some(200L)),
        ("b", 55L, "L55", Some(60L), Some(900L)),
        ("d", 70L, "L70", None, None),
        ("e", 58L, "L40", None, None),
        ("z", 100L, "Z", Some(100L), Some(1L))), collected().mkString("\n"))
      // the narrowing is fail-loud, not silent
      intercept[IllegalArgumentException] {
        AsOfStream.asOfJoinForward(leftIn.toDS(), rightIn.toDS(), toleranceMs = -1L)
      }
    } finally q.stop()
  }

  test("streamStreamJoin: range-bounded inner join matches in-bound pairs, " +
      "drops out-of-bound, GCs state at the watermark") {
    val imps = MemoryStream[(String, Timestamp)](spark)
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val joined = StreamingOps.streamStreamJoin(
      imps.toDF().toDF("ad_id", "imp_t"), col("imp_t"), "0 seconds",
      clicks.toDF().toDF("ad_id", "click_t"), col("click_t"), "0 seconds",
      keys = Seq("ad_id"),
      timeBound = (lt, rt) => rt >= lt && rt <= lt + expr("INTERVAL 10 MINUTES"))
    val q = joined
      .select(col("ad_id"), col("imp_t").cast("string"), col("click_t").cast("string"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      imps.addData(("a1", ts("2024-01-01 10:00:00")), ("a2", ts("2024-01-01 10:01:00")))
      clicks.addData(("a1", ts("2024-01-01 10:05:00"))) // in bound: imp+5min
      q.processAllAvailable()
      assert(spark.table("ss_join").collect().map(_.toSeq).toSeq ==
        Seq(Seq("a1", "2024-01-01 10:00:00", "2024-01-01 10:05:00")),
        "inner match emits without waiting for the watermark")

      clicks.addData(("a2", ts("2024-01-01 10:30:00"))) // 29min after imp: out of bound
      clicks.addData(("a9", ts("2024-01-01 10:06:00"))) // key never impressed
      q.processAllAvailable()
      assert(spark.table("ss_join").count() == 1, "out-of-bound/unkeyed clicks must not join")

      // ≥3 watermark advances on BOTH sides; old join state falls behind the
      // bound and must be evicted (the whole point of requiring the bound)
      var fed = 5L
      Seq("12:00:00", "13:00:00", "14:00:00").foreach { h =>
        imps.addData((s"wm_$h", ts(s"2024-01-01 $h")))
        clicks.addData((s"wm_$h", ts(s"2024-01-01 $h")))
        q.processAllAvailable()
        fed += 2
      }
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      val finalRows = states.lastOption.map(_.numRowsTotal).getOrElse(-1L)
      val removed = states.map(_.numRowsRemoved).sum
      assert(finalRows >= 0 && finalRows < fed,
        s"state must not retain all $fed fed rows, got $finalRows")
      assert(finalRows <= 4,
        s"after 3 hourly advances only the newest advance's rows may remain " +
          s"(bound is 10min), got $finalRows state rows")
      assert(removed > 0, "watermark advances must actually evict join state")
    } finally q.stop()
  }

  test("streamStreamJoin leftOuter: unmatched left emits with nulls once the " +
      "watermark clears its bound") {
    val imps = MemoryStream[(String, Timestamp)](spark)
    val clicks = MemoryStream[(String, Timestamp)](spark)
    val joined = StreamingOps.streamStreamJoin(
      imps.toDF().toDF("ad_id", "imp_t"), col("imp_t"), "0 seconds",
      clicks.toDF().toDF("ad_id", "click_t"), col("click_t"), "0 seconds",
      keys = Seq("ad_id"),
      timeBound = (lt, rt) => rt >= lt && rt <= lt + expr("INTERVAL 10 MINUTES"),
      how = "leftOuter")
    val q = joined
      .select(col("ad_id"), col("imp_t").cast("string"), col("click_t").cast("string"))
      .writeStream.format("memory").queryName("ss_join_outer")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      imps.addData(("a1", ts("2024-01-01 10:00:00")), ("a2", ts("2024-01-01 10:00:30")))
      clicks.addData(("a1", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // a2's null row cannot emit yet: its 10-min bound is still open
      assert(spark.table("ss_join_outer").count() == 1)
      imps.addData(("zz", ts("2024-01-01 12:00:00")))
      clicks.addData(("zz", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      imps.addData(("zz2", ts("2024-01-01 13:00:00")))
      clicks.addData(("zz2", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val got = spark.table("ss_join_outer").collect()
        .map(r => (r.getString(0), Option(r.getString(2)))).toSet
      assert(got.contains(("a2", None)),
        s"unmatched left must emit with null click after watermark passes, got $got")
      assert(got.contains(("a1", Some("2024-01-01 10:02:00"))))
    } finally q.stop()
  }

  test("streamStreamJoin fail-louds on the unbounded-state footgun") {
    val l = MemoryStream[(String, Timestamp)](spark)
    val r = MemoryStream[(String, Timestamp)](spark)
    // timeBound ignoring one side: no GC possible -> reject at build time
    val e1 = intercept[IllegalArgumentException] {
      StreamingOps.streamStreamJoin(
        l.toDF().toDF("k", "lt"), col("lt"), "0 seconds",
        r.toDF().toDF("k", "rt"), col("rt"), "0 seconds",
        keys = Seq("k"), timeBound = (lt, _) => lt >= lit("2024-01-01"))
    }
    assert(e1.getMessage.contains("__right_time"))
    // a bounded side is not a stream-stream join
    val e2 = intercept[IllegalArgumentException] {
      import spark.implicits._
      StreamingOps.streamStreamJoin(
        l.toDF().toDF("k", "lt"), col("lt"), "0 seconds",
        Seq(("k1", ts("2024-01-01 00:00:00"))).toDF("k", "rt"), col("rt"), "0 seconds",
        keys = Seq("k"), timeBound = (lt, rt) => rt >= lt)
    }
    assert(e2.getMessage.contains("streamStaticJoin"))
  }

  test("streaming corpus monitor: per-batch quality gate + PSI drift vs a reference mix") {
    // the ops compose in streaming exactly as in batch: each micro-batch
    // passes through Quality.assertAll (schema/size contract) and its lang
    // mix is PSI-scored against a reference distribution via foreachBatch —
    // the ingest-time monitoring loop of a recurring-crawl pipeline
    import spark.implicits._
    import graft.operators.Quality
    val reference = Seq("en", "en", "en", "de", "fr").toDF("lang")
    val input = MemoryStream[(Long, String)](spark)
    val seenPsi = collection.mutable.ArrayBuffer.empty[Double]
    val q = input.toDF().toDF("doc_id", "lang").writeStream
      .outputMode("append").option("checkpointLocation", ckpt())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Quality.assertAll(batch, Seq(
          Quality.NotNull("doc_id"), Quality.Unique("doc_id"),
          Quality.SizeBetween(1)))
        val psi = Quality.psiDrift(reference, batch, col("lang"))
          .select(col("psi_total")).head().getDouble(0)
        seenPsi.synchronized { seenPsi += psi }
        () // foreachBatch wants Unit
      }.start()
    try {
      input.addData((1L, "en"), (2L, "en"), (3L, "en"), (4L, "de"), (5L, "fr"))
      q.processAllAvailable()
      // same mix as the reference → PSI ~ 0
      assert(seenPsi.nonEmpty && seenPsi.last < 0.01, seenPsi.toString)
      input.addData((6L, "zh"), (7L, "zh"), (8L, "zh"), (9L, "zh"))
      q.processAllAvailable()
      // all-new category → major shift, way over the 0.25 alarm band
      assert(seenPsi.last > 0.25, seenPsi.toString)
    } finally q.stop()
  }

  test("MisraGriesFn as a streaming aggregation: bounded state, theorem holds across batches") {
    // the CombineFn⇄Aggregator bridge in Structured Streaming: the MG
    // summary is the per-key STATE (≤ capacity counters — bounded
    // regardless of stream length), updated batch-by-batch; after every
    // batch the theorem guarantees must hold against exact counts of
    // everything ingested so far
    import spark.implicits._
    val capacity = 4
    val fn = new graft.functions.MisraGriesFn[String](capacity)
    val input = MemoryStream[String](spark)
    val agg = input.toDS().groupByKey(_ => 0)
      .agg(fn.asAggregator.toColumn.name("hh"))
    // complete mode: the memory table holds exactly the current summary row
    val q = agg.writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").option("checkpointLocation", ckpt()).start()
    val seen = collection.mutable.ArrayBuffer.empty[String]
    def checkTheorem(): Unit = {
      val summary = spark.table("mg_stream")
        .collect().head.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = seen.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = seen.size.toDouble / (capacity + 1)
      assert(summary.size <= capacity)
      exact.foreach { case (item, freq) =>
        if (freq > bound) assert(summary.contains(item),
          s"true heavy hitter $item (freq $freq > $bound) missing from $summary")
      }
      summary.foreach { case (item, est) =>
        val freq = exact.getOrElse(item, 0L)
        assert(est <= freq && freq - est <= bound,
          s"estimate $est outside [${freq - bound}, $freq] for $item")
      }
    }
    try {
      val b1 = Seq.fill(30)("a") ++ Seq.fill(12)("b") ++
        (1 to 10).map(i => s"x$i")
      input.addData(b1: _*); seen ++= b1
      q.processAllAvailable(); checkTheorem()
      // second batch shifts the distribution: c surges, a stops
      val b2 = Seq.fill(40)("c") ++ Seq.fill(8)("b") ++
        (1 to 10).map(i => s"y$i")
      input.addData(b2: _*); seen ++= b2
      q.processAllAvailable(); checkTheorem()
    } finally q.stop()
  }
}
