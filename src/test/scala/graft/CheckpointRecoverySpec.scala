package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}

import graft.functions.CombineFn
import graft.operators.Windows.{FixedWindows, WindowingStrategy}
import graft.streaming.{AsOfStream, Stateful, StreamingOps, Triggers}

/** Checkpoint-recovery scenarios: stop a stateful streaming query
  * mid-stream and restart it from the SAME checkpoint — accumulated state
  * (watermark, window counts, pending as-of lefts, buffered rights) must
  * be restored, and every result must surface exactly once across the two
  * runs. This is the failure-recovery contract a 1000-executor cluster
  * lives on (an executor or driver loss is a restart-from-checkpoint, not
  * a rerun) — the reference's equivalent is the runner's checkpoint/
  * commit protocol (reference:
  * runners/spark/src/main/java/org/apache/beam/runners/spark/translation/
  * streaming/Checkpoint.java — checkpointed DStream state + offsets).
  *
  * The sink is the exactly-once PARQUET file sink (the memory sink
  * forbids recovery), so the assertions also cover the sink-side commit
  * log, not just operator state. Both tests deliberately emit NOTHING
  * before the stop: everything read back was computed from RECOVERED
  * state — a loss shows up as a missing/short row, a replay as a
  * duplicate file surviving the metadata log.
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  private val sumFn = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + in
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }

  /** Asserts that each of `names` reads back one row from the latest
    * state of the checkpoint's transformWithState operator, through
    * Spark's state data source. An undefined name fails the read with
    * STDS_INVALID_OPTION_VALUE, so renaming a variable that checkpoints
    * recorded, which Spark 4.1.2 would restart on empty, fails here. */
  private def assertOneRowPerStateVar(cp: String, names: String*): Unit = {
    val rows = names.map(n =>
      n -> spark.read.format("statestore").option("stateVarName", n).load(cp).count())
    assert(rows.forall(_._2 == 1L), s"state rows per variable after run 1: $rows")
  }

  private def restartable(df: DataFrame, outDir: String, cp: String) =
    df.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", cp).outputMode("append")

  test("windowed aggregation: counts accumulated before a stop fire once after restart") {
    val input = MemoryStream[(String, Timestamp)](spark)
    val agg = StreamingOps.windowedAggregate(
      input.toDF().toDF("k", "t"),
      WindowingStrategy(FixedWindows("1 hour")),
      col("t"), Seq(col("k")), Seq(count(lit(1)).as("n")))
      .select(col("window.start").cast("long").as("ws"), col("k"), col("n"))
    val cp = ckpt() // ONE checkpoint, shared by both runs
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("ws LONG, k STRING, n LONG").parquet(outDir)

    // run 1: three elements in the 10:00 window — watermark never reaches
    // the window end, so nothing is emitted; all three live only in state
    val h = 3600000L
    val q1 = restartable(agg, outDir, cp).start()
    try {
      input.addData(("a", ts(10 * h)), ("a", ts(10 * h + 600000)),
        ("b", ts(10 * h + 1200000)))
      q1.processAllAvailable()
      assert(sink.count() == 0, "window must still be open at the stop point")
    } finally q1.stop()

    // run 2: same plan, same checkpoint, same sink. The rider advances
    // the watermark past the 10:00 window's end — the pane must fire with
    // the FULL pre-stop counts (recovered state), exactly once.
    val q2 = restartable(agg, outDir, cp).start()
    try {
      input.addData(("c", ts(13 * h)))
      q2.processAllAvailable()
      val rows = sink.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(rows == Seq((10 * h / 1000, "a", 2L), (10 * h / 1000, "b", 1L)),
        s"recovered window must fire once with pre-stop counts, got $rows")
    } finally q2.stop()
  }

  test("randomized stop/restart: windowed aggregation equals batch despite a mid-stream restart") {
    val rnd = new scala.util.Random(20260814L)
    (0 until 2).foreach { trial =>
      val events: Seq[(String, Long, Long)] = (0 until 3).flatMap { ki =>
        (0 until 30).map { _ =>
          (s"k$ki", rnd.nextInt(600).toLong, rnd.nextInt(100).toLong)
        }
      }
      // independent expectation: fixed 60 s windows, count + sum per key
      val expected = events.groupBy(e => (e._1, e._2 / 60 * 60)).map {
        case ((k, ws), evs) => (k, ws, evs.size.toLong, evs.map(_._3).sum)
      }.toSet

      val input = MemoryStream[(String, Timestamp, Long)](spark)
      val agg = StreamingOps.windowedAggregate(
        input.toDF().toDF("k", "t", "v"),
        WindowingStrategy(FixedWindows("60 seconds")),
        col("t"), Seq(col("k")),
        Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
        .select(col("k"), col("window.start").cast("long").as("ws"),
          col("n"), col("s"))
      val cp = ckpt()
      val outDir = Files.createTempDirectory("graft-rec-out").toString
      def sink = spark.read.schema("k STRING, ws LONG, n LONG, s LONG")
        .parquet(outDir)

      // time-sorted chunks; KILL the query at a random chunk boundary and
      // restart from the checkpoint — the final answer must not notice
      val sorted = events.sortBy(_._2)
      val chunks = sorted.grouped(math.max(1, sorted.size / 5)).toSeq
      val stopAt = 1 + rnd.nextInt(chunks.size - 1)
      var q = restartable(agg, outDir, cp).start()
      try {
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (i == stopAt) { q.stop(); q = restartable(agg, outDir, cp).start() }
          input.addData(chunk.map { case (k, s, v) =>
            (k, new Timestamp(s * 1000), v)
          })
          q.processAllAvailable()
        }
        input.addData(("__wm", new Timestamp(100000L * 1000), 0L))
        q.processAllAvailable()
        val got = sink.collect().filter(_.getString(0) != "__wm")
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq
        assert(got.size == expected.size && got.toSet == expected,
          s"trial $trial (restart after chunk $stopAt/${chunks.size}): " +
            s"stream-with-restart ${got.sortBy(t => (t._1, t._2))} vs " +
            s"batch ${expected.toSeq.sortBy(t => (t._1, t._2))}")
      } finally q.stop()
    }
  }

  /** The fixed-window pane scenario across one stop and restart, run in
    * session `s`. `before` and `after` set the session's state store
    * provider for the first and the second start (None: the session's own
    * setting). Asserts the pane transcript and returns the checkpoint. */
  private def paneRestart(s: SparkSession, before: Option[String] = None,
                          after: Option[String] = None): String = {
    def useProvider(p: Option[String]): Unit = p.foreach(s.conf.set(ProviderKey, _))
    val input = MemoryStream[(String, Timestamp, Long)](s)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 60000L)
    // early pane per batch, late input absorbed (no LATE refinements) so the
    // GC timer owns the final pane, which is then distinct from ON_TIME
    val panes = Triggers.triggeredAggregate(assigned, sumFn, Triggers.TriggerConfig(
      windowSizeMs = 60000L, allowedLatenessMs = 120000L,
      early = Triggers.EveryBatch, lateFirings = false))
      .toDF("k", "ws", "we", "value", "idx", "timing", "is_final")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def aPanes = spark.read.schema(
      "k STRING, ws LONG, we LONG, value LONG, idx INT, timing STRING, is_final BOOLEAN")
      .parquet(outDir).collect().filter(_.getString(0) == "a")
      .map(r => (r.getInt(4), r.getString(5), r.getLong(3), r.getBoolean(6)))
      .sortBy(_._1).toSeq

    // run 1: unlike the scenarios above, a pane DOES go out before the stop
    // (EARLY, index 0) — the recovered state must continue after it
    useProvider(before)
    val q1 = restartable(panes, outDir, cp).start()
    try {
      input.addData(("a", ts(10000), 3L), ("a", ts(20000), 4L))
      q1.processAllAvailable()
      assert(aPanes == Seq((0, "EARLY", 7L, false)), s"pre-stop panes: $aPanes")
    } finally q1.stop()

    // run 2: another early pane, the watermark passes the window end
    // (ON_TIME), a late element inside allowedLateness is absorbed, the
    // watermark passes the GC horizon (final pane), and an element beyond
    // it is dropped
    useProvider(after)
    val q2 = restartable(panes, outDir, cp).start()
    try {
      input.addData(("a", ts(30000), 5L))
      q2.processAllAvailable()
      input.addData(("b", ts(90000), 0L))
      q2.processAllAvailable()
      input.addData(("a", ts(40000), 6L))
      q2.processAllAvailable()
      input.addData(("b", ts(600000), 0L))
      q2.processAllAvailable()
      input.addData(("a", ts(50000), 100L), ("b", ts(900000), 0L))
      q2.processAllAvailable()
      val got = aPanes
      assert(got.map(_._1) == (0 until got.size), s"pane indices have a gap: $got")
      assert(got.count(_._2 == "ON_TIME") == 1 && got.count(_._4) == 1,
        s"one ON_TIME pane and one final pane: $got")
      assert(got == Seq((0, "EARLY", 7L, false), (1, "EARLY", 12L, false),
        (2, "ON_TIME", 12L, false), (3, "LATE", 3L + 4 + 5 + 6, true)),
        s"panes across the restart: $got")
    } finally q2.stop()
    cp
  }

  test("trigger engine: pane index, ON_TIME and final panes continue across a restart") {
    paneRestart(spark)
  }

  /** Every offset-log entry of `cp` names `provider`, and the state
    * directory holds that provider's files and none of the other's. */
  private def assertOnStore(cp: String, provider: String): Unit = {
    val providers = checkpointProviders(cp)
    assert(providers.size > 1 && providers.forall(_ == provider), providers)
    val (own, other) = if (provider == HdfsProvider) (".delta", ".zip") else (".zip", ".delta")
    val files = stateFileNames(cp)
    assert(files.exists(_.endsWith(own)) && !files.exists(_.endsWith(other)), files)
  }

  test("state store: a fixed-window trigger query on a fresh session runs on the HDFS-backed store") {
    // nothing in the query's build picks a provider, so Spark's default
    // serves flatMapGroupsWithState
    val s = spark.newSession()
    val cp = paneRestart(s)
    assert(s.conf.get(ProviderKey) == HdfsProvider, "building the query changed the session")
    assertOnStore(cp, HdfsProvider)
  }

  test("state store: a RocksDB-written trigger checkpoint restarts on RocksDB under an HDFS default") {
    // the checkpoint an earlier build wrote (it set RocksDB while building
    // the query) restarts on a session back on the HDFS-backed default: the
    // offset log's provider wins and the panes continue
    val cp = paneRestart(spark.newSession(), before = Some(RocksDBProvider),
      after = Some(HdfsProvider))
    assertOnStore(cp, RocksDBProvider)
  }

  test("state store: an HDFS-written trigger checkpoint restarted under RocksDB stays HDFS-backed") {
    val cp = paneRestart(spark.newSession(), before = Some(HdfsProvider),
      after = Some(RocksDBProvider))
    assertOnStore(cp, HdfsProvider)
  }

  test("trigger engine: a checkpoint written by the transformWithState port fails loudly on restart") {
    // Spark 4.1.2 checks the checkpoint's operator metadata against the
    // restarted plan: the transformWithState port of triggeredAggregate
    // left a transformWithStateExec operator, the current build plans
    // flatMapGroupsWithState, and the query stops with an error instead
    // of restarting on state it cannot read. If a Spark upgrade drops that
    // check, this fails first: the restart would silently lose the
    // window's pre-restart input.
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val assigned = Triggers.assignFixedWindows(
      input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
        .as[(String, Timestamp, Long)], 60000L)
    val cfg = Triggers.TriggerConfig(windowSizeMs = 60000L, allowedLatenessMs = 120000L,
      early = Triggers.EveryBatch)
    val cols = Seq("k", "ws", "we", "value", "idx", "timing", "is_final")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def panes = spark.read.schema(
      "k STRING, ws LONG, we LONG, value LONG, idx INT, timing STRING, is_final BOOLEAN")
      .parquet(outDir).collect().map(r => (r.getInt(4), r.getString(5), r.getLong(3))).toSeq

    val old = restartable(graft.streaming.TwsTriggerReference.triggeredAggregate(
      assigned, sumFn, cfg).toDF(cols: _*), outDir, cp).start()
    try {
      input.addData(("a", ts(10000), 3L), ("a", ts(20000), 4L))
      old.processAllAvailable()
    } finally old.stop()
    assert(panes == Seq((0, "EARLY", 7L)), s"pre-stop panes: $panes")

    val q = restartable(Triggers.triggeredAggregate(assigned, sumFn, cfg).toDF(cols: _*),
      outDir, cp).start()
    val err = try {
      input.addData(("a", ts(30000), 5L))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    } finally q.stop()
    assert(err.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA") &&
      err.getMessage.contains("transformWithStateExec") &&
      err.getMessage.contains("flatMapGroupsWithState"), err.getMessage.take(600))
    assert(panes == Seq((0, "EARLY", 7L)), s"no pane may be written after the failed restart: $panes")
  }

  test("stateful ParDo: an event-time timer registered before the stop fires after restart") {
    Stateful.requireRocksDBStateStore(spark)
    val input = MemoryStream[(String, Timestamp)](spark)
    val events = input.toDF().toDF("k", "t")
      .withWatermark("t", "0 seconds").as[(String, Timestamp)]
    // count elements per key; emit ONLY from the timer set 10 s past the
    // latest element — so any output at all proves the timer (and the
    // count it reads) crossed the restart inside the state store
    val out = Stateful.statefulParDo[String, (String, Timestamp),
        (String, Long), ValueState[Long]](
      events.groupByKey(_._1), TimeMode.EventTime(), OutputMode.Append()) {
        h => h.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      } { case (_, rows, n, h, _) =>
        var c = if (n.exists()) n.get() else 0L
        var maxTs = 0L
        rows.foreach { r => c += 1; maxTs = math.max(maxTs, r._2.getTime) }
        n.update(c)
        h.registerTimer(maxTs + 10000)
        Iterator.empty
      } { case (k, n, _, _, _) =>
        Iterator((k, if (n.exists()) n.get() else -1L))
      }.toDF("k", "n")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("k STRING, n LONG").parquet(outDir)

    // run 1: two elements for key a; timer parked at t=11 s, watermark 1 s
    val q1 = restartable(out, outDir, cp).start()
    try {
      input.addData(("a", ts(500)), ("a", ts(1000)))
      q1.processAllAvailable()
      assert(sink.count() == 0, "timer must still be parked at the stop")
    } finally q1.stop()

    // run 2: the rider's watermark (60 s) expires the RECOVERED timer,
    // whose callback reads the RECOVERED count — exactly one row (a, 2).
    // The rider's own timer (70 s) stays parked.
    val q2 = restartable(out, outDir, cp).start()
    try {
      input.addData(("__wm", ts(60000)))
      q2.processAllAvailable()
      val rows = sink.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("a", 2L)),
        s"recovered timer must fire once with the recovered count, got $rows")
    } finally q2.stop()
  }

  test("merging sessions: two recovered open fragments merge with a post-restart bridge") {
    val input = MemoryStream[(String, Timestamp, Long)](spark)
    val events = input.toDF().toDF("k", "t", "v")
      .withWatermark("t", "30 seconds") // headroom keeps both fragments open
      .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
      .as[(String, Long, Long)]
    val panes = graft.streaming.Triggers.sessionAggregate(
      events, collectLongsFn, gapMs = 10000L)
      .toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("k STRING, wstart LONG, wend LONG, " +
      "values ARRAY<LONG>, pane_index LONG, timing STRING, is_final BOOLEAN")
      .parquet(outDir)
    def sec(s: Long) = new Timestamp(s * 1000)

    // run 1: fragments [1,11) and [15,25) — disjoint under gap 10, both
    // held open by the 30 s watermark headroom; two SessionW entries plus
    // trigger state live only in RocksDB at the stop.
    val q1 = restartable(panes, outDir, cp).start()
    try {
      input.addData(("a", sec(1), 1L), ("a", sec(15), 15L))
      q1.processAllAvailable()
      assert(sink.count() == 0, "both fragments must still be open at the stop")
    } finally q1.stop()

    // run 2: the bridge at t=8 assigns [8,18), intersecting BOTH recovered
    // fragments — the processor must merge windows, accumulators, and
    // trigger state it never saw in this run. The rider closes the merged
    // [1,25) session: exactly one final pane with all three values.
    val q2 = restartable(panes, outDir, cp).start()
    try {
      input.addData(("a", sec(8), 8L))
      q2.processAllAvailable()
      input.addData(("__wm", sec(100), 0L))
      q2.processAllAvailable()
      val rows = sink.collect().filter(_.getString(0) == "a")
        .map(r => (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toSeq,
          r.getString(5), r.getBoolean(6))).toSeq
      assert(rows == Seq((1000L, 25000L, Seq(1L, 8L, 15L), "ON_TIME", true)),
        s"one merged final session from recovered fragments, got $rows")
    } finally q2.stop()
  }

  test("forward as-of: a pending left recovered from state matches a right that arrives post-restart") {
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoinForward(
      leftIn.toDS(), rightIn.toDS(), toleranceMs = 10000L)
      .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      .toDF("k", "lts", "rts")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("k STRING, lts LONG, rts LONG").parquet(outDir)

    // run 1: the left and a right BEFORE it, which forward never looks
    // back to — no forward candidate yet; both live only in state. Both
    // are added before the start so they share the first batch: a right
    // alone in a batch sets the watermark to its own ts, and forward's GC
    // drops it before the left arrives.
    rightIn.addData(("k", ts(2000), 0L))
    leftIn.addData(("k", ts(5000), "l"))
    val q1 = restartable(out, outDir, cp).start()
    try {
      q1.processAllAvailable()
      assert(sink.count() == 0, "left must still be pending at the stop")
    } finally q1.stop()
    assertOneRowPerStateVar(cp, "pending_left_fwd", "rights_fwd")

    // run 2: the earliest in-window right (t=8 s ∈ [5 s, 15 s]) arrives
    // only after the restart; riders finalize it — exactly one row
    val q2 = restartable(out, outDir, cp).start()
    try {
      rightIn.addData(("k", ts(8000), 1L))
      q2.processAllAvailable()
      rightIn.addData(("__wmr", ts(60000), 0L))
      leftIn.addData(("__wml", ts(60000), "l"))
      q2.processAllAvailable()
      val rows = sink.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("k", 5000L, 8000L)),
        s"recovered pending left must take the post-restart forward right " +
          s"once, got $rows")
    } finally q2.stop()
  }

  test("nearest as-of: a post-restart closer right beats the recovered pre-stop candidate") {
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoinNearest(
      leftIn.toDS(), rightIn.toDS(), toleranceMs = 10000L)
      .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      .toDF("k", "lts", "rts")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("k STRING, lts LONG, rts LONG").parquet(outDir)

    // run 1: r1 at t=1 s, left at t=5 s — best distance 4 s, but finality
    // needs watermark ≥ lts + min(best, tol) = 9 s; watermark is 5 s, so
    // the left and its current-best candidate live only in state
    val q1 = restartable(out, outDir, cp).start()
    try {
      rightIn.addData(("k", ts(1000), 1L))
      leftIn.addData(("k", ts(5000), "l"))
      q1.processAllAvailable()
      assert(sink.count() == 0, "left must still be pending at the stop")
    } finally q1.stop()
    assertOneRowPerStateVar(cp, "pending_left_near", "rights_near")

    // run 2: a CLOSER right (t=7 s, distance 2 s, forward side) arrives
    // only after the restart — it must beat the recovered backward
    // candidate; riders finalize. Exactly one row, matched to 7 s.
    val q2 = restartable(out, outDir, cp).start()
    try {
      rightIn.addData(("k", ts(7000), 2L))
      q2.processAllAvailable()
      rightIn.addData(("__wmr", ts(60000), 0L))
      leftIn.addData(("__wml", ts(60000), "l"))
      q2.processAllAvailable()
      val rows = sink.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("k", 5000L, 7000L)),
        s"post-restart closer right must beat the recovered candidate " +
          s"once, got $rows")
    } finally q2.stop()
  }

  test("stream-stream join: a buffered impression survives restart and joins a post-restart click") {
    val impIn = MemoryStream[(String, Timestamp)](spark)
    val clickIn = MemoryStream[(String, Timestamp)](spark)
    val joined = StreamingOps.streamStreamJoin(
      impIn.toDF().toDF("ad_id", "imp_t"), col("imp_t"), "0 seconds",
      clickIn.toDF().toDF("ad_id", "click_t"), col("click_t"), "0 seconds",
      keys = Seq("ad_id"),
      timeBound = (lt, rt) => rt >= lt && rt <= lt + expr("INTERVAL 10 SECONDS"))
      .select(col("ad_id"), unix_millis(col("imp_t")).as("it"),
        unix_millis(col("click_t")).as("ct"))
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("ad_id STRING, it LONG, ct LONG").parquet(outDir)

    // run 1: the impression alone — buffered in the join's state, no match
    val q1 = restartable(joined, outDir, cp).start()
    try {
      impIn.addData(("k", ts(1000)))
      q1.processAllAvailable()
      assert(sink.count() == 0, "impression must still be buffered at the stop")
    } finally q1.stop()

    // run 2: the in-bound click arrives only after the restart — it must
    // join the RECOVERED impression, exactly once
    val q2 = restartable(joined, outDir, cp).start()
    try {
      clickIn.addData(("k", ts(3000)))
      q2.processAllAvailable()
      val rows = sink.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("k", 1000L, 3000L)),
        s"recovered impression must join the post-restart click once, got $rows")
    } finally q2.stop()
  }

  test("as-of join: a pending left and buffered right survive restart and match a post-restart right") {
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoin(
      leftIn.toDS(), rightIn.toDS(), lateness = "10 seconds")
      .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      .toDF("k", "lts", "rts")
    val cp = ckpt()
    val outDir = Files.createTempDirectory("graft-rec-out").toString
    def sink = spark.read.schema("k STRING, lts LONG, rts LONG").parquet(outDir)

    // run 1: right r1 at t=1s, left at t=5s. Watermark = 5s − 10s < 0, so
    // the left stays PENDING and r1 stays buffered — state only, no output.
    val q1 = restartable(out, outDir, cp).start()
    try {
      rightIn.addData(("k", ts(1000), 1L))
      leftIn.addData(("k", ts(5000), "l"))
      q1.processAllAvailable()
      assert(sink.count() == 0, "left must still be pending at the stop point")
    } finally q1.stop()
    assertOneRowPerStateVar(cp, "pending_left", "rights")

    // run 2: a LATER right r2 at t=3s arrives after the restart — still
    // ≤ the pending left's ts and closer than r1, so the recovered left
    // must match r2, not the also-recovered r1. The riders push the
    // watermark to 50s ≥ 5s, making the left final. Exactly one row.
    val q2 = restartable(out, outDir, cp).start()
    try {
      rightIn.addData(("k", ts(3000), 2L))
      q2.processAllAvailable()
      rightIn.addData(("__wmr", ts(60000), 0L))
      leftIn.addData(("__wml", ts(60000), "l"))
      q2.processAllAvailable()
      val rows = sink.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq(("k", 5000L, 3000L)),
        s"recovered pending left must resolve once, to the post-restart " +
          s"closer right, got $rows")
    } finally q2.stop()
  }
}
