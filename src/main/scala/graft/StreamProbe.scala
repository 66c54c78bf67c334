package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.CombineFn
import graft.streaming.Triggers
import graft.streaming.Triggers._

/** Streaming trigger-engine scale probe (dev tool, not part of the library):
  * drives [[Triggers.triggeredAggregateComposite]] and
  * [[Triggers.sessionAggregateTriggered]] — both callers of the one
  * RocksDB-backed transformWithState pane processor — with a ×N
  * synthetic MemoryStream workload (N× the keys, same window/session
  * script per key) and records:
  *
  *  - wall time and events/sec at base and ×N scale (the ratio shows
  *    whether per-key state work scales linearly);
  *  - max state-store rows across the run (bounded by keys × active
  *    windows, NOT by total windows seen — the ReduceFnRunner GC contract,
  *    reference: RCORE/ReduceFnRunner.java:89 state + GC
  *    responsibilities);
  *  - final state-store rows after the watermark passes every GC horizon —
  *    asserted ZERO: leaked per-window state is the failure mode that
  *    kills a long-running 100 TB/day streaming job, so the probe exits
  *    non-zero if reclamation fails.
  *
  * Results are recorded in BASELINE.md (round 5).
  */
object StreamProbe {

  private val sumFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + in
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }

  private final case class ProbeResult(events: Long, wallSec: Double,
                                       maxStateRows: Long, finalStateRows: Long) {
    def throughput: Double = events / wallSec
  }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "32").toInt
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def report(tag: String, base: ProbeResult, big: ProbeResult): Unit = {
      println(f"""{"probe":"$tag","base_events":${base.events},"base_sec":${base.wallSec}%.2f,""" +
        f""""base_eps":${base.throughput}%.0f,"x${factor}_events":${big.events},""" +
        f""""x${factor}_sec":${big.wallSec}%.2f,"x${factor}_eps":${big.throughput}%.0f,""" +
        f""""wall_ratio":${big.wallSec / base.wallSec}%.2f,"data_ratio":${big.events.toDouble / base.events}%.1f,""" +
        f""""base_max_state":${base.maxStateRows},"x${factor}_max_state":${big.maxStateRows},""" +
        f""""base_final_state":${base.finalStateRows},"x${factor}_final_state":${big.finalStateRows}}""")
      if (base.finalStateRows != 0 || big.finalStateRows != 0) {
        System.err.println(s"FAIL[$tag]: state not reclaimed at the GC horizon " +
          s"(base=${base.finalStateRows}, x$factor=${big.finalStateRows})")
        spark.stop(); sys.exit(1)
      }
    }

    // -------- fixed windows through the composite-trigger pane processor:
    // early firings (AfterCount), ON_TIME at the watermark, GC at
    // end + lateness. Per key: `nWindows` 60s windows × `perWin` elements
    // fed in two chunks (the first chunk trips the early count).
    def probeTriggered(nKeys: Int): ProbeResult = {
      val winMs = 60000L
      val nWindows = 8
      val perWin = 4
      import spark.implicits._
      val input = MemoryStream[(String, Timestamp, Long)](spark)
      // sentinel rows advance the watermark (the watermark node sits above
      // the filter) but never create per-window state — otherwise the last
      // sentinel's own window could never be GC'd and would read as a leak
      val assigned = Triggers.assignFixedWindows(
        input.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
          .as[(String, Timestamp, Long)].filter(_._1 != "__wm"), winMs)
      val panes = Triggers.triggeredAggregateComposite(assigned, sumFn,
        AfterWatermarkEL(Some(AfterCountT(2)), None),
        windowSizeMs = winMs, allowedLatenessMs = winMs, accumulating = true)
      val name = s"streamprobe_t_$nKeys"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var events = 0L
      val t0 = System.nanoTime()
      try {
        (0 until nWindows).foreach { w =>
          val base = w * winMs
          // chunk 1: two elements per key -> trips AfterCount(2) EARLY pane
          input.addData(keys.flatMap(k => Seq(
            (k, new Timestamp(base + 1000), 1L), (k, new Timestamp(base + 2000), 2L))))
          q.processAllAvailable()
          // chunk 2: the rest; max ts base+59s keeps the watermark inside w
          input.addData(keys.flatMap(k => (3 to perWin).map(j =>
            (k, new Timestamp(base + j * 1000), j.toLong))))
          q.processAllAvailable()
          events += nKeys.toLong * perWin
        }
        // flush: watermark far past every GC horizon, then one more advance
        // so every expired timer (final panes + state GC) has run
        input.addData(("__wm", new Timestamp((nWindows + 4) * winMs), 0L))
        q.processAllAvailable()
        input.addData(("__wm", new Timestamp((nWindows + 8) * winMs), 0L))
        q.processAllAvailable()
      } finally {
        // wall time covers feeding + draining; stop/cleanup excluded
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      ProbeResult(events, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    // -------- merging sessions through the full trigger AST: per key,
    // `nSessions` disjoint 3-element bursts (each merges into one session),
    // ON_TIME+final at gap expiry via the watermark.
    def probeSessions(nKeys: Int): ProbeResult = {
      val gapMs = 10000L
      val nSessions = 4
      import spark.implicits._
      val input = MemoryStream[(String, Timestamp, Long)](spark)
      val events = input.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
        .as[(String, Long, Long)]
        .filter(_._1 != "__wm") // see probeTriggered: watermark-only rows
      val panes = Triggers.sessionAggregateTriggered(events, sumFn,
        gapMs = gapMs, trigger = AfterWatermarkEL(Some(AfterCountT(2)), None),
        allowedLatenessMs = 0L)
      val name = s"streamprobe_s_$nKeys"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var fed = 0L
      val t0 = System.nanoTime()
      (0 until nSessions).foreach { s =>
        val base = s * 60000L // bursts 60s apart >> gap: disjoint sessions
        input.addData(keys.flatMap(k => Seq(
          (k, new Timestamp(base + 1000), 1L),
          (k, new Timestamp(base + 2000), 2L),
          (k, new Timestamp(base + 3000), 3L))))
        q.processAllAvailable()
        fed += nKeys.toLong * 3
      }
      input.addData(("__wm", new Timestamp(nSessions * 60000L + 120000L), 0L))
      q.processAllAvailable()
      input.addData(("__wm", new Timestamp(nSessions * 60000L + 240000L), 0L))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      ProbeResult(fed, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    // -------- streaming as-of join: per key, `nRounds` rounds of 4 rights
    // + 4 interleaved lefts, watermark riding forward each round. The
    // boundedness claim differs from the pane processors: quiescent state
    // is ONE dominant right per key (not zero) — the dominance GC keeps
    // history from accumulating across rounds even though 4·rounds rights
    // were fed per key.
    def probeAsOf(nKeys: Int): ProbeResult = {
      import spark.implicits._
      val nRounds = 6
      val leftIn = MemoryStream[(String, Timestamp, String)](spark)
      val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
      val out = graft.streaming.AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS())
        .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      val name = s"streamprobe_a_$nKeys"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = out.toDF("k", "lts", "rts")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var fed = 0L
      val t0 = System.nanoTime()
      (0 until nRounds).foreach { r =>
        val base = r * 60000L
        rightIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000), j.toLong))))
        leftIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000 + 500), "l"))))
        q.processAllAvailable()
        fed += nKeys.toLong * 8
      }
      // ride the watermark far forward on both inputs so every pending
      // left resolves and the dominance GC has run on every key
      val far = nRounds * 60000L + 300000L
      rightIn.addData(("__wm", new Timestamp(far), 0L))
      leftIn.addData(("__wm", new Timestamp(far + 1000), "l"))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      ProbeResult(fed, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    // -------- FORWARD streaming as-of: same round scheme; the claimed
    // bound is STRONGER than backward's — no dominant-row retention at
    // all: quiescent state = pending lefts (none once resolved) +
    // in-flight rights (> watermark; none after the far ride). Final
    // state must be O(1) (sentinel rows), independent of keys AND of the
    // 4·rounds rights fed per key.
    def probeAsOfFwd(nKeys: Int): ProbeResult = {
      import spark.implicits._
      val nRounds = 6
      val leftIn = MemoryStream[(String, Timestamp, String)](spark)
      val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
      val out = graft.streaming.AsOfStream.asOfJoinForward(
        leftIn.toDS(), rightIn.toDS(), toleranceMs = 5000L)
        .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      val name = s"streamprobe_af_$nKeys"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = out.toDF("k", "lts", "rts")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var fed = 0L
      val t0 = System.nanoTime()
      (0 until nRounds).foreach { r =>
        val base = r * 60000L
        // left at +500 looks FORWARD to the right at +1000 (500ms ahead,
        // inside the 5s tolerance)
        rightIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000), j.toLong))))
        leftIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000 + 500), "l"))))
        q.processAllAvailable()
        fed += nKeys.toLong * 8
      }
      val far = nRounds * 60000L + 300000L
      rightIn.addData(("__wm", new Timestamp(far), 0L))
      leftIn.addData(("__wm", new Timestamp(far + 1000), "l"))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      ProbeResult(fed, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    // -------- NEAREST streaming as-of: backward's dominance bound must
    // hold (one dominant right per key quiescent) — nearest retains for
    // the backward side of future lefts exactly as the backward join does.
    def probeAsOfNear(nKeys: Int, allowExact: Boolean = true): ProbeResult = {
      import spark.implicits._
      val nRounds = 6
      val leftIn = MemoryStream[(String, Timestamp, String)](spark)
      val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
      val out = graft.streaming.AsOfStream.asOfJoinNearest(
        leftIn.toDS(), rightIn.toDS(), toleranceMs = 5000L,
        allowExactMatches = allowExact)
        .map(j => (j.key, j.leftTs, j.rightTs.getOrElse(-1L)))
      val name = s"streamprobe_an_${nKeys}_$allowExact"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = out.toDF("k", "lts", "rts")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var fed = 0L
      val t0 = System.nanoTime()
      (0 until nRounds).foreach { r =>
        val base = r * 60000L
        rightIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000), j.toLong))))
        leftIn.addData(keys.flatMap(k => (1 to 4).map(j =>
          (k, new Timestamp(base + j * 1000 + 500), "l"))))
        q.processAllAvailable()
        fed += nKeys.toLong * 8
      }
      val far = nRounds * 60000L + 300000L
      rightIn.addData(("__wm", new Timestamp(far), 0L))
      leftIn.addData(("__wm", new Timestamp(far + 1000), "l"))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      ProbeResult(fed, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    def reportAsOfNear(base: ProbeResult, big: ProbeResult,
                       baseKeys: Int, bigKeys: Int,
                       tag: String = "asof_nearest"): Unit = {
      println(f"""{"probe":"$tag","base_events":${base.events},"base_sec":${base.wallSec}%.2f,""" +
        f""""base_eps":${base.throughput}%.0f,"x${factor}_events":${big.events},""" +
        f""""x${factor}_sec":${big.wallSec}%.2f,"x${factor}_eps":${big.throughput}%.0f,""" +
        f""""wall_ratio":${big.wallSec / base.wallSec}%.2f,""" +
        f""""base_max_state":${base.maxStateRows},"x${factor}_max_state":${big.maxStateRows},""" +
        f""""base_final_state":${base.finalStateRows},"x${factor}_final_state":${big.finalStateRows}}""")
      val (bBound, nBound) = (2 * baseKeys + 4, 2 * bigKeys + 4)
      if (base.finalStateRows > bBound || big.finalStateRows > nBound) {
        System.err.println(s"FAIL[$tag]: state beyond the dominance bound " +
          s"(base=${base.finalStateRows}>$bBound or x$factor=${big.finalStateRows}>$nBound)")
        spark.stop(); sys.exit(1)
      }
    }

    def reportAsOfFwd(base: ProbeResult, big: ProbeResult): Unit = {
      println(f"""{"probe":"asof_forward","base_events":${base.events},"base_sec":${base.wallSec}%.2f,""" +
        f""""base_eps":${base.throughput}%.0f,"x${factor}_events":${big.events},""" +
        f""""x${factor}_sec":${big.wallSec}%.2f,"x${factor}_eps":${big.throughput}%.0f,""" +
        f""""wall_ratio":${big.wallSec / base.wallSec}%.2f,""" +
        f""""base_max_state":${base.maxStateRows},"x${factor}_max_state":${big.maxStateRows},""" +
        f""""base_final_state":${base.finalStateRows},"x${factor}_final_state":${big.finalStateRows}}""")
      // O(1) quiescent bound: sentinel keys' rows only — key-count
      // independent (stricter than backward's one-dominant-per-key)
      if (base.finalStateRows > 8 || big.finalStateRows > 8) {
        System.err.println(s"FAIL[asof_forward]: forward GC left state beyond the " +
          s"sentinel rows (base=${base.finalStateRows}, x$factor=${big.finalStateRows})")
        spark.stop(); sys.exit(1)
      }
    }

    def reportAsOf(base: ProbeResult, big: ProbeResult,
                   baseKeys: Int, bigKeys: Int): Unit = {
      println(f"""{"probe":"asof_join","base_events":${base.events},"base_sec":${base.wallSec}%.2f,""" +
        f""""base_eps":${base.throughput}%.0f,"x${factor}_events":${big.events},""" +
        f""""x${factor}_sec":${big.wallSec}%.2f,"x${factor}_eps":${big.throughput}%.0f,""" +
        f""""wall_ratio":${big.wallSec / base.wallSec}%.2f,""" +
        f""""base_max_state":${base.maxStateRows},"x${factor}_max_state":${big.maxStateRows},""" +
        f""""base_final_state":${base.finalStateRows},"x${factor}_final_state":${big.finalStateRows}}""")
      // quiescent bound: ≤ one dominant right per key (+2 sentinel keys'
      // rows). Growth beyond that means the dominance GC leaks history.
      val (bBound, nBound) = (2 * baseKeys + 4, 2 * bigKeys + 4)
      if (base.finalStateRows > bBound || big.finalStateRows > nBound) {
        System.err.println(s"FAIL[asof_join]: state beyond the dominance bound " +
          s"(base=${base.finalStateRows}>$bBound or x$factor=${big.finalStateRows}>$nBound)")
        spark.stop(); sys.exit(1)
      }
    }

    // -------- stream-stream range-bounded join (StreamingOps
    // .streamStreamJoin): per round, one impression + one in-bound click per
    // key; the watermark rides forward 60s per round (>> the 10s bound), so
    // both sides' buffered rows from prior rounds are evictable every round.
    // Boundedness claim: max state ≈ rows of the two most recent rounds
    // (eviction applies one batch after the watermark moves), NOT
    // rounds × keys — the accumulation failure the fail-loud wrapper exists
    // to prevent.
    def probeStreamStream(nKeys: Int): ProbeResult = {
      import org.apache.spark.sql.functions.{col, expr}
      import spark.implicits._
      val nRounds = 6
      val impIn = MemoryStream[(String, Timestamp)](spark)
      val clickIn = MemoryStream[(String, Timestamp)](spark)
      val joined = graft.streaming.StreamingOps.streamStreamJoin(
        impIn.toDF().toDF("ad_id", "imp_t"), col("imp_t"), "0 seconds",
        clickIn.toDF().toDF("ad_id", "click_t"), col("click_t"), "0 seconds",
        keys = Seq("ad_id"),
        timeBound = (lt, rt) => rt >= lt && rt <= lt + expr("INTERVAL 10 SECONDS"))
      val name = s"streamprobe_j_$nKeys"
      val ckpt = java.nio.file.Files.createTempDirectory("graft-streamprobe")
      val q = joined.select("ad_id", "imp_t", "click_t")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      val keys = (0 until nKeys).map(i => s"k$i")
      var fed = 0L
      val t0 = System.nanoTime()
      (0 until nRounds).foreach { r =>
        val base = r * 60000L
        impIn.addData(keys.map(k => (k, new Timestamp(base + 1000))))
        clickIn.addData(keys.map(k => (k, new Timestamp(base + 3000))))
        q.processAllAvailable()
        fed += nKeys.toLong * 2
      }
      // two final advances so the last real round's state is past the GC
      // horizon AND the eviction batch has run. Sentinel keys are DISJOINT
      // across sides: a shared key with equal timestamps satisfies the
      // range bound, and whether that self-match is emitted or dropped-late
      // depends on which micro-batch each side's addData lands in — a
      // scheduling race the exactly-once assertion below must not inherit.
      val far = nRounds * 60000L + 300000L
      impIn.addData(("__wma", new Timestamp(far)))
      clickIn.addData(("__wmb", new Timestamp(far)))
      q.processAllAvailable()
      impIn.addData(("__wma2", new Timestamp(far + 60000L)))
      clickIn.addData(("__wmb2", new Timestamp(far + 60000L)))
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val matched = spark.table(name).count()
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
      q.stop()
      spark.catalog.dropTempView(name)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      assert(matched == nRounds.toLong * nKeys,
        s"every in-bound click must match exactly once: $matched vs ${nRounds * nKeys}")
      ProbeResult(fed, wall, if (states.isEmpty) -1 else states.max,
        if (states.isEmpty) -1 else states.last)
    }

    def reportStreamStream(base: ProbeResult, big: ProbeResult,
                           baseKeys: Int, bigKeys: Int): Unit = {
      println(f"""{"probe":"stream_stream_join","base_events":${base.events},"base_sec":${base.wallSec}%.2f,""" +
        f""""base_eps":${base.throughput}%.0f,"x${factor}_events":${big.events},""" +
        f""""x${factor}_sec":${big.wallSec}%.2f,"x${factor}_eps":${big.throughput}%.0f,""" +
        f""""wall_ratio":${big.wallSec / base.wallSec}%.2f,""" +
        f""""base_max_state":${base.maxStateRows},"x${factor}_max_state":${big.maxStateRows},""" +
        f""""base_final_state":${base.finalStateRows},"x${factor}_final_state":${big.finalStateRows}}""")
      // max bound: two most recent rounds' rows on both sides (+ sentinels);
      // final bound: sentinel rows only. Beyond either means the range bound
      // failed to GC join state.
      val (bMax, nMax) = (4 * baseKeys + 8, 4 * bigKeys + 8)
      if (base.maxStateRows > bMax || big.maxStateRows > nMax ||
          base.finalStateRows > 8 || big.finalStateRows > 8) {
        System.err.println(s"FAIL[stream_stream_join]: state beyond the range-bound GC " +
          s"envelope (max base=${base.maxStateRows}>$bMax or x$factor=${big.maxStateRows}>$nMax, " +
          s"final base=${base.finalStateRows} x$factor=${big.finalStateRows} > 8)")
        spark.stop(); sys.exit(1)
      }
    }

    val baseKeys = 50
    // warm all paths once (RocksDB + codegen init dominate a cold run)
    probeTriggered(baseKeys); probeSessions(baseKeys); probeAsOf(baseKeys)
    val tBase = probeTriggered(baseKeys)
    val tBig = probeTriggered(baseKeys * factor)
    report("triggered_fixed_windows", tBase, tBig)
    val sBase = probeSessions(baseKeys)
    val sBig = probeSessions(baseKeys * factor)
    report("merging_sessions", sBase, sBig)
    val aBase = probeAsOf(baseKeys)
    val aBig = probeAsOf(baseKeys * factor)
    reportAsOf(aBase, aBig, baseKeys, baseKeys * factor)
    probeAsOfFwd(baseKeys) // warm
    val afBase = probeAsOfFwd(baseKeys)
    val afBig = probeAsOfFwd(baseKeys * factor)
    reportAsOfFwd(afBase, afBig)
    probeAsOfNear(baseKeys) // warm
    val anBase = probeAsOfNear(baseKeys)
    val anBig = probeAsOfNear(baseKeys * factor)
    reportAsOfNear(anBase, anBig, baseKeys, baseKeys * factor)
    // strict mode (allowExactMatches=false, r13): its extra GC retention
    // (latest right strictly below the earliest PENDING left) must vanish
    // at quiescence — the SAME dominance bound applies, and a leak in the
    // strict keep-threshold (e.g. retaining per resolved left) would
    // break it
    val ansBase = probeAsOfNear(baseKeys, allowExact = false)
    val ansBig = probeAsOfNear(baseKeys * factor, allowExact = false)
    reportAsOfNear(ansBase, ansBig, baseKeys, baseKeys * factor,
      tag = "asof_nearest_strict")
    probeStreamStream(baseKeys) // warm
    val jBase = probeStreamStream(baseKeys)
    val jBig = probeStreamStream(baseKeys * factor)
    reportStreamStream(jBase, jBig, baseKeys, baseKeys * factor)
    spark.stop()
  }
}
