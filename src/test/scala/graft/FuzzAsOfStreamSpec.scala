package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.streaming.{AsOfStream, Stateful}

/** Streaming↔batch as-of EQUIVALENCE fuzzer: AsOfStream's processor
  * (one candidate search, watermark-finality rule and GC, switched per
  * direction) is the most intricate state machine in the engine, and its
  * contract is exactly "converge to the batch asOf answer once the
  * watermark closes every row". This spec runs randomized keyed,
  * timestamped (left, right) corpora through BOTH paths and compares
  * exhaustively:
  *
  *  - backward: AsOfStream.asOfJoin vs Joins.asOf(direction=backward) —
  *    latest right at-or-before each left;
  *  - forward: AsOfStream.asOfJoinForward(tol) vs
  *    Joins.asOf(direction=forward, tolerance=tol µs) — earliest right
  *    within the tolerance window;
  *  - nearest: AsOfStream.asOfJoinNearest(tol) vs
  *    Joins.asOf(direction=nearest, tolerance=tol µs) — smallest
  *    |rts − lts| within tolerance, ties to backward.
  *
  * Feeding is round-based and time-ordered per source (each round covers
  * a later time range; both sources advance together, so the global
  * min-of-sources watermark admits every row); rights are unique per
  * (key, ts) per the batch contract; a far-future sentinel on both
  * sources closes every pending row. The stream's output (sentinel
  * excluded) must equal the batch result EXACTLY — per left row: the
  * matched right ts and payload, or unmatched.
  *
  * After the sentinel, every left has resolved and the GC has run on every
  * key, so the operator's state rows are also checked against the GC
  * bound: one dominant right per key for the backward-looking directions,
  * none for forward.
  *
  * Each trial's batch reference additionally runs through the TIME-SLICED
  * batch plan (`sliceWidth` > 0, the hot-key skew mitigation) at a random
  * width and asserts row identity — so every random corpus checks THREE
  * independent implementations against each other: streaming processor,
  * plain window plan, sliced carry plan.
  */
class FuzzAsOfStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260814").toLong
  private val N = sys.env.getOrElse("SPARK_GRAFT_ASOFFUZZ_N", "3").toInt
  private val Rounds = 4
  private val PerRound = 30
  private val RoundSpanS = 120

  private def mkCorpus(rnd: scala.util.Random, nKeys: Int)
      : (Seq[(String, Long, String)], Seq[(String, Long, Long)]) = {
    // per round r: ts drawn in [r*span, (r+1)*span) — time-ordered rounds
    val lefts = Seq.newBuilder[(String, Long, String)]
    val rights = Seq.newBuilder[(String, Long, Long)]
    for (r <- 0 until Rounds; i <- 0 until PerRound) {
      // ts >= 1s: a row at EXACTLY epoch 0 is dropped by Spark's initial
      // watermark (the late filter drops ts <= wm and the watermark starts
      // at 0 before any batch) — that applies to every watermarked
      // stateful operator, built-ins included, so the batch differential
      // would "miss" it by design. Found by the second-seed sweep (seed
      // 99331177 drew a ts=0 left); real event-time domains never sit at
      // 1970-01-01T00:00:00.000.
      val ts = math.max(1L, (r * RoundSpanS + rnd.nextInt(RoundSpanS)).toLong)
      val k = s"k${rnd.nextInt(nKeys)}"
      if (rnd.nextBoolean()) {
        lefts += ((k, ts, s"L$r-$i"))
        // ~1 in 6 lefts gets a colliding twin at the SAME (key, ts): both
        // must emit exactly once (the label keeps them distinct in the Set)
        if (rnd.nextInt(6) == 0) lefts += ((k, ts, s"L$r-$i-twin"))
        // ~1 in 6 lefts also plants a right at exactly its ts — the cell
        // where allowExactMatches true/false must differ
        if (rnd.nextInt(6) == 0) rights += ((k, ts, rnd.nextInt(1000).toLong))
      } else rights += ((k, ts, rnd.nextInt(1000).toLong))
    }
    // rights unique per (key, ts): the batch contract (tie-ambiguous
    // otherwise) — keep the max value like the catalog queries do
    val uniqRights = rights.result().groupBy(t => (t._1, t._2))
      .map { case ((k, ts), g) => (k, ts, g.map(_._3).max) }.toSeq
    (lefts.result(), uniqRights)
  }

  private def feedAndCollect(
      lefts: Seq[(String, Long, String)], rights: Seq[(String, Long, Long)],
      direction: String, tolS: Long, sink: String,
      latenessS: Long = 0L, allowExact: Boolean = true)
      : Set[(String, Long, String, Option[Long], Option[Long])] = {
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val lateness = s"$latenessS seconds"
    val joined = direction match {
      case "forward" => AsOfStream.asOfJoinForward(leftIn.toDS(), rightIn.toDS(),
        toleranceMs = tolS * 1000, lateness = lateness)
      case "nearest" => AsOfStream.asOfJoinNearest(leftIn.toDS(), rightIn.toDS(),
        toleranceMs = tolS * 1000, lateness = lateness, allowExactMatches = allowExact)
      case _ => AsOfStream.asOfJoin(leftIn.toDS(), rightIn.toDS(), lateness = lateness)
    }
    // the tuple carries j.left (the unique "L$r-$i" label): two left rows
    // colliding on (key, ts) stay distinct, so a duplicate-emission or
    // dropped-row bug for colliding lefts cannot vanish into the Set
    val out = joined.map(j => (j.key, j.leftTs / 1000, j.left, j.rightTs.map(_ / 1000), j.right))
    val q = out.toDF("k", "lts", "lbl", "rts", "v")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // under a nonzero lateness, events within (lateness - 10s) of their
      // round's end are (ts-hash-deterministically) displaced one round
      // LATER — genuinely late cross-batch arrivals the watermark delay
      // must admit, hitting the pre-GC late-resolve path on both sides
      def deliveryRound(t: Long): Int = {
        val natural = (t / RoundSpanS).toInt
        val hi = (natural + 1) * RoundSpanS
        val displace = latenessS > 0 && natural < Rounds - 1 &&
          hi - t <= latenessS - 10 && (t * 2654435761L) % 3 == 0
        if (displace) natural + 1 else natural
      }
      for (r <- 0 until Rounds) {
        val lc = lefts.filter(e => deliveryRound(e._2) == r)
        val rc = rights.filter(e => deliveryRound(e._2) == r)
        if (lc.nonEmpty) leftIn.addData(lc.map(e => (e._1, ts(e._2), e._3)): _*)
        if (rc.nonEmpty) rightIn.addData(rc.map(e => (e._1, ts(e._2), e._3)): _*)
        q.processAllAvailable()
      }
      val sentinel = (Rounds * RoundSpanS + 100000).toLong
      leftIn.addData(("zzz_sentinel", ts(sentinel), "S"))
      rightIn.addData(("zzz_sentinel", ts(sentinel), 0L))
      q.processAllAvailable()
      // the GC bound: a backward-looking direction keeps one dominant right
      // per key that got a right; forward keeps none. The sentinel key adds
      // its own right and, while the watermark has not yet made it final
      // (lateness, or no strict candidate), its left.
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      val bound = if (direction == "forward") 2L else rights.map(_._1).distinct.size + 2L
      assert(stateRows <= bound,
        s"$direction(exact=$allowExact, lateness=${latenessS}s): $stateRows state rows " +
          s"after the sentinel, GC bound $bound")
      spark.table(sink).collect()
        .map(r2 => (r2.getString(0), r2.getLong(1), r2.getString(2),
          Option(r2.get(3)).map(_.asInstanceOf[Long]),
          Option(r2.get(4)).map(_.asInstanceOf[Long])))
        .filter(_._1 != "zzz_sentinel").toSet
    } finally q.stop()
  }

  private def batchExpected(
      lefts: Seq[(String, Long, String)], rights: Seq[(String, Long, Long)],
      direction: String, tolS: Long, allowExact: Boolean = true,
      sliceWidthUs: Long = 0L)
      : Set[(String, Long, String, Option[Long], Option[Long])] = {
    def ts(s: Long) = new Timestamp(s * 1000)
    val l = lefts.map(e => (e._1, ts(e._2), e._3)).toDF("k", "lts", "label")
    val r = rights.map(e => (e._1, ts(e._2), e._3)).toDF("k", "rts", "v")
    def run(width: Long) = {
      val out = Joins.asOf(l, r, Seq("k"), "lts", "rts", Seq("rts", "v"),
        direction = direction,
        tolerance = if (direction == "backward") -1L else tolS * 1000000L, // µs
        allowExactMatches = allowExact, sliceWidth = width)
      out.select(col("k"), col("lts").cast("long"), col("label"),
          col("rts").cast("long"), col("v"))
        .collect()
        .map(r2 => (r2.getString(0), r2.getLong(1), r2.getString(2),
          Option(r2.get(3)).map(_.asInstanceOf[Long]),
          Option(r2.get(4)).map(_.asInstanceOf[Long]))).toSet
    }
    val plain = run(0L)
    // three-way: every trial's batch reference also runs through the
    // TIME-SLICED plan at a random width (timestamps slice on
    // epochMicros) — the sliced rewrite is checked against the plain
    // plan on every random corpus this suite generates, and the stream
    // comparison below then ties all three implementations together
    if (sliceWidthUs > 0L) {
      val sliced = run(sliceWidthUs)
      assert(sliced == plain,
        s"sliced(width=${sliceWidthUs}µs, $direction, tol=${tolS}s, " +
          s"exact=$allowExact) diverged from the plain batch plan: " +
          s"sliced-only ${(sliced -- plain).take(3)}, plain-only ${(plain -- sliced).take(3)}")
    }
    plain
  }

  /** Random slice width in µs: from one-second slices (maximal carry
    * traffic over a [0, Rounds·span)s corpus) up to wider than the whole
    * corpus (the carry never fires — degenerates to the plain plan). */
  private def randWidthUs(rnd: scala.util.Random): Long =
    (1L + rnd.nextInt(Rounds * RoundSpanS + 60)) * 1000000L

  test(s"randomized streaming asOf (backward, forward, nearest, strict nearest) == batch asOf (seed=$Seed)") {
    val rnd = new scala.util.Random(Seed)
    var anyStrictDiff = false
    var anyMatched, anyUnmatched = false
    for (trial <- 0 until N) {
      val (lefts, rights) = mkCorpus(rnd, nKeys = 2 + (trial % 4))
      val back = feedAndCollect(lefts, rights, "backward", 0L, s"asof_fz_b$trial")
      val backExp = batchExpected(lefts, rights, "backward", 0L,
        sliceWidthUs = randWidthUs(rnd))
      assert(back == backExp,
        s"trial $trial backward diverged: stream-only ${(back -- backExp).take(3)}, " +
          s"batch-only ${(backExp -- back).take(3)}")
      val tolS = 30L + rnd.nextInt(60)
      val fwd = feedAndCollect(lefts, rights, "forward", tolS, s"asof_fz_f$trial")
      val fwdExp = batchExpected(lefts, rights, "forward", tolS,
        sliceWidthUs = randWidthUs(rnd))
      assert(fwd == fwdExp,
        s"trial $trial forward(tol=${tolS}s) diverged: " +
          s"stream-only ${(fwd -- fwdExp).take(3)}, batch-only ${(fwdExp -- fwd).take(3)}")
      val near = feedAndCollect(lefts, rights, "nearest", tolS, s"asof_fz_n$trial")
      val nearExp = batchExpected(lefts, rights, "nearest", tolS,
        sliceWidthUs = randWidthUs(rnd))
      assert(near == nearExp,
        s"trial $trial nearest(tol=${tolS}s) diverged: " +
          s"stream-only ${(near -- nearExp).take(3)}, batch-only ${(nearExp -- near).take(3)}")
      // the direction x flag cell the r12 matrix lacked: nearest with
      // allowExactMatches = false (strict candidates + the strict-mode
      // dominance-GC guard)
      val nearS = feedAndCollect(lefts, rights, "nearest", tolS, s"asof_fz_ns$trial",
        allowExact = false)
      val nearSExp = batchExpected(lefts, rights, "nearest", tolS, allowExact = false,
        sliceWidthUs = randWidthUs(rnd))
      assert(nearS == nearSExp,
        s"trial $trial nearest(tol=${tolS}s, strict) diverged: " +
          s"stream-only ${(nearS -- nearSExp).take(3)}, batch-only ${(nearSExp -- nearS).take(3)}")
      anyStrictDiff ||= nearSExp != nearExp
      // coverage flags aggregate ACROSS trials: a single random corpus can
      // legitimately have every left matched (e.g. each key's first event
      // is a right), which is not a harness bug — only ALL trials lacking
      // one of the two outcomes would be
      anyMatched ||= backExp.exists(_._4.nonEmpty)
      anyUnmatched ||= backExp.exists(_._4.isEmpty)
    }
    assert(anyMatched && anyUnmatched,
      s"corpus generator too trivial across $N trials: " +
        s"matched=$anyMatched unmatched=$anyUnmatched")
    // non-triviality: the planted equal-ts rights must make strict and
    // exact nearest genuinely disagree somewhere — otherwise the new
    // cell silently tested nothing
    assert(anyStrictDiff, "strict-nearest cell vacuous: no trial differed from exact")
  }

  test("strict-nearest watermark boundary: a cross-batch left at lts == wm never " +
      "gets a wrong answer after the dominance GC ran at exactly that watermark") {
    // r13-advice scenario: rights a@10, a@20; the watermark advances to
    // EXACTLY 20 and the strict-mode dominance GC runs; then a left a@20
    // arrives in a LATER batch. Under Spark 4.1's admission rule the left
    // is dropped (the late filter drops ts <= the previous batch's
    // watermark — LessThanOrEqual in WatermarkSupport.watermarkExpression;
    // StreamingSpec's backward boundary test observes it), so no a-row may
    // appear. If a future Spark ever admits the boundary row, the
    // strict-GC watermark cap retains a@10 and the ONLY acceptable answer
    // is the true backward match (10, 100) — a no-match row or a forward
    // match here is the r13 GC bug (dominantIdx = wmIdx deleted a@10).
    Stateful.requireRocksDBStateStore(spark)
    def ts(s: Long) = new Timestamp(s * 1000)
    val leftIn = MemoryStream[(String, Timestamp, String)](spark)
    val rightIn = MemoryStream[(String, Timestamp, Long)](spark)
    val out = AsOfStream.asOfJoinNearest(leftIn.toDS(), rightIn.toDS(),
        toleranceMs = 30000L, allowExactMatches = false)
      .map(j => (j.key, j.leftTs / 1000, j.left, j.rightTs.map(_ / 1000), j.right))
    val q = out.toDF("k", "lts", "lbl", "rts", "v")
      .writeStream.format("memory").queryName("asof_fz_boundary")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      rightIn.addData(("a", ts(10), 100L), ("a", ts(20), 200L))
      q.processAllAvailable() // watermark reaches exactly 20 after this batch
      leftIn.addData(("b", ts(20), "B20")) // wm holds at 20; a's GC timer fires
      q.processAllAvailable()
      leftIn.addData(("a", ts(20), "L20")) // the boundary left, later batch
      q.processAllAvailable()
      leftIn.addData(("zzz", ts(100000), "S")) // close every pending row
      rightIn.addData(("zzz", ts(100000), 0L))
      q.processAllAvailable()
      val aRows = spark.table("asof_fz_boundary").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))
        .filter(_._1 == "a").toSet
      val correct = Set(("a", 20L, "L20", Some(10L), Some(100L)))
      assert(aRows.isEmpty || aRows == correct,
        s"boundary left got a WRONG answer (strict-GC deleted a@10): $aRows")
      // b@20 sanity: admitted in its batch (late wm lags one batch), no
      // right within 30s of any b row -> exactly one unmatched final
      val bRows = spark.table("asof_fz_boundary").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .filter(_._1 == "b").toSet
      assert(bRows == Set(("b", 20L, "B20", None)), bRows.mkString)
    } finally q.stop()
  }

  test("lateness trial: displaced (genuinely late) arrivals still converge to the batch answer") {
    // the dominance-GC-under-laggards path: a 60s watermark delay admits
    // rows arriving one round late; pending rows must resolve against the
    // pre-GC history and the GC must retain exactly what laggards need
    val rnd = new scala.util.Random(Seed + 7)
    val (lefts, rights) = mkCorpus(rnd, nKeys = 3)
    val back = feedAndCollect(lefts, rights, "backward", 0L,
      "asof_fz_late_b", latenessS = 60L)
    assert(back == batchExpected(lefts, rights, "backward", 0L, sliceWidthUs = randWidthUs(rnd)),
      "late-arrival backward diverged from batch")
    val fwd = feedAndCollect(lefts, rights, "forward", 45L,
      "asof_fz_late_f", latenessS = 60L)
    assert(fwd == batchExpected(lefts, rights, "forward", 45L, sliceWidthUs = randWidthUs(rnd)),
      "late-arrival forward diverged from batch")
    val near = feedAndCollect(lefts, rights, "nearest", 45L,
      "asof_fz_late_n", latenessS = 60L)
    assert(near == batchExpected(lefts, rights, "nearest", 45L, sliceWidthUs = randWidthUs(rnd)),
      "late-arrival nearest diverged from batch")
  }
}
