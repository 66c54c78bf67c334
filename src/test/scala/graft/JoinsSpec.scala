package graft

import org.apache.spark.sql.functions._
import graft.operators.{Create, Joins}

/** Mirrors the reference's join-library tests + CoGroupByKeyTest
  * (reference: sdks/java/extensions/join-library, transforms/join/). */
class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def left  = Create.of(spark, Seq((1, "l1"), (2, "l2"), (3, "l3"))).toDF("k", "lv")
  private def right = Create.of(spark, Seq((2, "r2"), (3, "r3"), (4, "r4"))).toDF("k", "rv")

  test("inner join keeps matching keys only") {
    assertRows(Joins.inner(left, right, Seq("k")),
      Seq(Seq(2, "l2", "r2"), Seq(3, "l3", "r3")))
  }

  test("leftOuter substitutes the Beam nullValue") {
    val out = Joins.leftOuter(left, right, Seq("k"), Map("rv" -> lit("NONE")))
    assertRows(out, Seq(Seq(1, "l1", "NONE"), Seq(2, "l2", "r2"), Seq(3, "l3", "r3")))
  }

  test("fullOuter substitutes both sides") {
    val out = Joins.fullOuter(left, right, Seq("k"),
      Map("lv" -> lit("NL"), "rv" -> lit("NR")))
    assertRows(out, Seq(Seq(1, "l1", "NR"), Seq(2, "l2", "r2"),
      Seq(3, "l3", "r3"), Seq(4, "NL", "r4")))
  }

  test("semi and anti") {
    assertRows(Joins.leftSemi(left, right, Seq("k")).select(col("k")),
      Seq(Seq(2), Seq(3)))
    assertRows(Joins.leftAnti(left, right, Seq("k")).select(col("k")), Seq(Seq(1)))
  }

  test("coGroupByKey yields EMPTY iterables (not null) for absent tags") {
    val out = Joins.coGroupByKey("k", Map(
      "ls" -> (left, col("lv")), "rs" -> (right, col("rv"))))
    val byKey = out.collect().map(r =>
      r.getInt(0) -> (r.getSeq[String](1).toList, r.getSeq[String](2).toList)).toMap
    assert(byKey(1) == (List("l1"), List()))
    assert(byKey(4) == (List(), List("r4")))
    assert(byKey(2) == (List("l2"), List("r2")))
  }

  test("broadcastJoin plans a BroadcastHashJoin") {
    val out = Joins.broadcastJoin(left, right, Seq("k"))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(out.count() == 2)
  }

  test("flatten unions bags without dedup") {
    val out = Joins.flatten(Seq(left.select(col("k")), left.select(col("k"))))
    assert(out.count() == 6)
  }

  test("viewAsSingleton: value, default, multi-element error") {
    val one = Create.of(spark, Seq(42)).toDF("x")
    assert(Joins.viewAsSingleton[Int](spark, one, _.getInt(0)).value == 42)
    val none = one.filter(col("x") > 100)
    assert(Joins.viewAsSingleton[Int](spark, none, _.getInt(0), Some(-1)).value == -1)
    intercept[IllegalArgumentException] {
      Joins.viewAsSingleton[Int](spark, Create.of(spark, Seq(1, 2)).toDF("x"), _.getInt(0))
    }
  }

  test("viewAsIterable materializes the small side like asList") {
    val v = Joins.viewAsIterable[Int](spark,
      Create.of(spark, Seq(7, 8)).toDF("x"), _.getInt(0)).value
    assert(v.toSet == Set(7, 8))
  }

  test("viewAsMultimap groups all values per key") {
    val mm = Joins.viewAsMultimap[Int, String](spark,
      Create.of(spark, Seq((1, "a"), (1, "b"), (2, "c"))).toDF("k", "v"),
      r => (r.getInt(0), r.getString(1))).value
    assert(mm(1).toSet == Set("a", "b") && mm(2) == Seq("c"))
  }

  test("windowed side input: a windowed aggregation joins the side view of " +
      "the window containing its max timestamp") {
    import spark.implicits._
    val H = 3600 * 1000L
    // main: per-user counts in 1h fixed windows (wstart/wend in epoch ms)
    val main = Seq(
      ("u1", 0L * H + 100),  ("u1", 0L * H + 200),  // [0h,1h)
      ("u1", 1L * H + 100),                          // [1h,2h)
      ("u2", 2L * H + 100)                           // [2h,3h)
    ).toDF("k", "ts")
      .groupBy(col("k"), (floor(col("ts") / H) * H).cast("long").as("wstart"))
      .agg(count(lit(1)).as("n"))
      .withColumn("wend", col("wstart") + H)
    // side: per-user thresholds in 2h fixed windows
    val side = Seq(
      (0L * H, "u1", 10),  // [0h,2h)
      (2L * H, "u1", 20),  // [2h,4h)
      (2L * H, "u2", 30)
    ).toDF("swstart", "k", "threshold")
    // default WindowMappingFn: main [0h,1h) and [1h,2h) both map to side
    // [0h,2h); main [2h,3h) maps to side [2h,4h)
    val joined = Joins.windowedSideInputJoin(main, col("wend"), side,
      "swstart", 2 * H, Seq("k"))
      .select(col("k"), col("wstart"), col("n"), col("threshold"))
    assertRows(joined, Seq(
      Seq("u1", 0L * H, 2L, 10),
      Seq("u1", 1L * H, 1L, 10),
      Seq("u2", 2L * H, 1L, 30)))
    // broadcast-map form of the same view, looked up per main window
    val view = Joins.viewAsMapPerWindow[String, Int](spark, side,
      r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val mapped = main.as[(String, Long, Long, Long)].map { case (k, ws, n, we) =>
      val sideW = math.floorDiv(we - 1, 2 * H) * 2 * H
      (k, ws, n, view.value((sideW, k)))
    }.toDF("k", "wstart", "n", "threshold")
    assertRows(mapped, Seq(
      Seq("u1", 0L * H, 2L, 10),
      Seq("u1", 1L * H, 1L, 10),
      Seq("u2", 2L * H, 1L, 30)))
  }

  test("asOf: latest right at-or-before each left row, null before the first right") {
    val l = Seq(("a", 5L, "l1"), ("a", 10L, "l2"), ("a", 20L, "l3"), ("b", 7L, "l4"))
      .toDF("k", "ts", "lv")
    val r = Seq(("a", 10L, 100L), ("a", 15L, 150L), ("b", 9L, 900L))
      .toDF("k", "rts", "price")
    val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "price"))
    assertRows(out.select(col("k"), col("ts"), col("lv"), col("rts"), col("price")), Seq(
      Seq("a", 5L, "l1", null, null),         // no right row yet
      Seq("a", 10L, "l2", 10L, 100L),         // EQUAL ts matches (<= semantics)
      Seq("a", 20L, "l3", 15L, 150L),         // latest preceding, not first
      Seq("b", 7L, "l4", null, null)))        // other key's rows invisible
  }

  test("asOf forward/nearest directions (pandas merge_asof surface)") {
    val l = Seq(("a", 5L, "l1"), ("a", 10L, "l2"), ("a", 20L, "l3"), ("a", 40L, "l4"))
      .toDF("k", "ts", "lv")
    val r = Seq(("a", 10L, 100L), ("a", 15L, 150L), ("a", 28L, 280L))
      .toDF("k", "rts", "price")
    // forward: EARLIEST right at-or-after; nothing after 28 → null tail
    assertRows(Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "price"),
        direction = "forward")
      .select(col("ts"), col("rts"), col("price")), Seq(
      Seq(5L, 10L, 100L),
      Seq(10L, 10L, 100L),       // equal ts matches (>= semantics)
      Seq(20L, 28L, 280L),
      Seq(40L, null, null)))
    // nearest: 5→10 (only forward), 10→10 (exact), 20→15 (|5| < |8|),
    // 40→28 (only backward); and a tie prefers backward
    assertRows(Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "price"),
        direction = "nearest")
      .select(col("ts"), col("rts"), col("price")), Seq(
      Seq(5L, 10L, 100L),
      Seq(10L, 10L, 100L),
      Seq(20L, 15L, 150L),
      Seq(40L, 28L, 280L)))
    val near = Seq(("a", 21L, "t")).toDF("k", "ts", "lv") // 15 vs 28: 6 < 7
    assertRows(Joins.asOf(near, r, Seq("k"), "ts", "rts", Seq("rts"),
        direction = "nearest").select(col("rts")), Seq(Seq(15L)))
    val exactTie = Seq(("a", 4L, "t")).toDF("k", "ts", "lv")
    val rTie = Seq(("a", 2L, 20L), ("a", 6L, 60L)).toDF("k", "rts", "price")
    assertRows(Joins.asOf(exactTie, rTie, Seq("k"), "ts", "rts", Seq("rts"),
        direction = "nearest").select(col("rts")),
      Seq(Seq(2L)))              // equidistant → backward wins (documented)
    intercept[IllegalArgumentException] {
      Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts"), direction = "sideways")
    }
  }

  test("asOf tolerance and allowExactMatches (pandas merge_asof surface)") {
    val l = Seq(("a", 10L, "x"), ("a", 30L, "y")).toDF("k", "ts", "lv")
    val r = Seq(("a", 10L, 100L), ("a", 12L, 120L)).toDF("k", "rts", "price")
    def run(dir: String, tol: Long = -1L, exact: Boolean = true) =
      Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "price"),
          direction = dir, tolerance = tol, allowExactMatches = exact)
        .orderBy(col("ts")).select(col("ts"), col("rts")).collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    // tolerance cuts the distant match: 30 is 18 past 12 → null at tol 10
    assert(run("backward") == Map(10L -> Some(10L), 30L -> Some(12L)))
    assert(run("backward", tol = 10L) == Map(10L -> Some(10L), 30L -> None))
    // forward with tolerance: 10 → 10 (dist 0); 30 → nothing ahead
    assert(run("forward", tol = 1L) == Map(10L -> Some(10L), 30L -> None))
    // exact matches off: ts=10 skips rts=10, backward finds nothing
    // strictly before, forward finds 12
    assert(run("backward", exact = false) == Map(10L -> None, 30L -> Some(12L)))
    assert(run("forward", exact = false) == Map(10L -> Some(12L), 30L -> None))
    // nearest + tolerance: at ts=30 the only candidate (12, dist 18) is
    // outside tol → null; at ts=10 exact match survives any tol
    assert(run("nearest", tol = 5L) == Map(10L -> Some(10L), 30L -> None))
    // fractional ts + tolerance → fail-loud (distance truncation)
    val ld = Seq(("a", 1.5)).toDF("k", "ts")
    val rd = Seq(("a", 1.0, 1L)).toDF("k", "rts", "v")
    intercept[IllegalArgumentException] {
      Joins.asOf(ld, rd, Seq("k"), "ts", "rts", Seq("v"), tolerance = 1L)
    }
  }

  test("asOf tolerance/allowExactMatches match a brute-force oracle on randomized data") {
    val rnd = new scala.util.Random(20260816L)
    val lefts = (0 until 600).map(i =>
      (i.toLong, rnd.nextInt(15).toLong, rnd.nextInt(2000).toLong))
    val rights = (0 until 300)
      .map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(2000).toLong, rnd.nextInt(1000)))
      .groupBy(t => (t._1, t._2))
      .map { case ((k, rts), g) => (k, rts, g.map(_._3).max) }.toSeq
    val byKey = rights.groupBy(_._1)
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(-1L, 50L); exact <- Seq(true, false)) {
      val rows = Joins.asOf(
        lefts.toDF("id", "k", "ts"), rights.toDF("k", "rts", "v"),
        Seq("k"), "ts", "rts", Seq("rts", "v"),
        direction = dir, tolerance = tol, allowExactMatches = exact)
        .select(col("id"), col("rts"), col("v")).collect()
      assert(rows.length == lefts.size)
      val out = rows.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getInt(2))))).toMap
      lefts.foreach { case (id, k, ts) =>
        val cands = byKey.getOrElse(k, Seq.empty)
        def cut(c: Seq[(Long, Long, Int)]) =
          if (tol < 0) c else c.filter(t => math.abs(t._2 - ts) <= tol)
        val backC = cut(cands.filter(t => if (exact) t._2 <= ts else t._2 < ts))
        val fwdC = cut(cands.filter(t => if (exact) t._2 >= ts else t._2 > ts))
        val back = backC.sortBy(_._2).lastOption
        val fwd = fwdC.sortBy(_._2).headOption
        val expected = dir match {
          case "backward" => back.map(b => (b._2, b._3))
          case "forward" => fwd.map(f => (f._2, f._3))
          case "nearest" => (back, fwd) match {
            case (None, f) => f.map(t => (t._2, t._3))
            case (b, None) => b.map(t => (t._2, t._3))
            case (Some(b), Some(f)) =>
              val pick = if (ts - b._2 <= f._2 - ts) b else f
              Some((pick._2, pick._3))
          }
        }
        assert(out(id) == expected,
          s"dir=$dir tol=$tol exact=$exact id=$id k=$k ts=$ts: ${out(id)} vs $expected")
      }
    }
  }

  test("asOf null timestamps: null-ts lefts never match, null-ts rights never fill") {
    // SQL comparison semantics: rts <= null / rts >= null are never true
    val l = Seq(("a", Some(20L), "live"), ("a", None, "nullts"))
      .toDF("k", "ts", "lv")
    val r = Seq(("a", Some(10L), 100L), ("a", None, 999L))
      .toDF("k", "rts", "price")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price"),
          direction = dir)
        .select(col("lv"), col("price")).collect()
        .map(row => row.getString(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      assert(out("nullts").isEmpty,
        s"dir=$dir: a null-ts left row must stay unmatched, got ${out("nullts")}")
      // the null-rts right (999) must never be the fill; 20 matches 10
      // backward/nearest and nothing forward
      val expectedLive = if (dir == "forward") None else Some(100L)
      assert(out("live") == expectedLive, s"dir=$dir live: ${out("live")}")
    }
  }

  test("asOf NaN timestamps on fractional domains follow SQL comparison semantics") {
    // NaN sorts as the LARGEST value in Spark — without the guards a NaN
    // left row would frame over every right and a NaN right row would
    // forward-fill real lefts; SQL comparison semantics say both match
    // nothing
    val l = Seq(("a", 20.0, "live"), ("a", Double.NaN, "nan"))
      .toDF("k", "ts", "lv")
    val r = Seq(("a", 10.0, 100L), ("a", Double.NaN, 999L))
      .toDF("k", "rts", "price")
    for (dir <- Seq("backward", "forward")) {
      val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price"),
          direction = dir)
        .select(col("lv"), col("price")).collect()
        .map(row => row.getString(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      assert(out.size == 2, s"dir=$dir: left-outer contract — NaN left survives")
      assert(out("nan").isEmpty,
        s"dir=$dir: a NaN-ts left row must stay unmatched, got ${out("nan")}")
      // the NaN-rts right (999) must never fill; 20 matches 10 backward only
      val expectedLive = if (dir == "forward") None else Some(100L)
      assert(out("live") == expectedLive, s"dir=$dir live: ${out("live")}")
    }
  }

  test("asOf nearest/tolerance distances saturate instead of overflowing Long") {
    // Long.MinValue sentinel right ts against a positive left ts: the raw
    // distance wraps negative (lts - rts overflows), which would beat the
    // honest forward candidate in the nearest pick and slip under any
    // tolerance. Saturating arithmetic reads it as "infinitely far".
    val l = Seq(("a", 100L, "x")).toDF("k", "ts", "lv")
    val r = Seq(("a", Long.MinValue, 1L), ("a", 200L, 2L)).toDF("k", "rts", "v")
    val near = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("v"),
      direction = "nearest").select(col("v")).head()
    assert(near.getLong(0) == 2L,
      s"nearest must pick the honest candidate (dist 100), not the wrapped sentinel")
    // tolerance: the sentinel's saturated distance can never pass the cut
    val tol = Joins.asOf(l, r.filter(col("v") === 1L), Seq("k"), "ts", "rts",
      Seq("v"), direction = "backward", tolerance = 1000L).select(col("v")).head()
    assert(tol.isNullAt(0),
      "a wrapped-negative distance must not slip under the tolerance")
  }

  test("asOf guards: nearest rejects fractional ts, __rts payload name reserved") {
    val l = Seq(("a", 1.5, "x")).toDF("k", "ts", "lv")
    val r = Seq(("a", 1.0, 10L)).toDF("k", "rts", "price")
    // fractional domains would truncate in the distance compare → fail-loud
    intercept[IllegalArgumentException] {
      Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price"), direction = "nearest")
    }
    // backward/forward fills sort on the untruncated ts — doubles are fine
    assert(Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price")).count() == 1)
    val li = Seq(("a", 1L)).toDF("k", "ts")
    val ri = Seq(("a", 1L, 2L)).toDF("k", "rts", "__rts")
    intercept[IllegalArgumentException] {
      Joins.asOf(li, ri, Seq("k"), "ts", "rts", Seq("__rts"))
    }
  }

  test("asOf nearest matches a brute-force oracle on randomized data") {
    val rnd = new scala.util.Random(20260815L)
    val lefts = (0 until 800).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(3000).toLong))
    val rights = (0 until 400)
      .map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(3000).toLong, rnd.nextInt(1000)))
      .groupBy(t => (t._1, t._2))
      .map { case ((k, rts), g) => (k, rts, g.map(_._3).max) }.toSeq
    val byKey = rights.groupBy(_._1)
    for (dir <- Seq("forward", "nearest")) {
      val rows = Joins.asOf(
        lefts.toDF("id", "k", "ts"), rights.toDF("k", "rts", "v"),
        Seq("k"), "ts", "rts", Seq("rts", "v"), direction = dir)
        .select(col("id"), col("rts"), col("v")).collect()
      assert(rows.length == lefts.size)
      val out = rows.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getInt(2))))).toMap
      lefts.foreach { case (id, k, ts) =>
        val cands = byKey.getOrElse(k, Seq.empty)
        val expected = dir match {
          case "forward" => cands.filter(_._2 >= ts) match {
            case Seq() => None
            case cs => val best = cs.minBy(_._2); Some((best._2, best._3))
          }
          case "nearest" =>
            val back = cands.filter(_._2 <= ts).sortBy(_._2).lastOption
            val fwd = cands.filter(_._2 >= ts).sortBy(_._2).headOption
            (back, fwd) match {
              case (None, f) => f.map(b => (b._2, b._3))
              case (b, None) => b.map(b2 => (b2._2, b2._3))
              case (Some(b), Some(f)) =>
                val pick = if (ts - b._2 <= f._2 - ts) b else f
                Some((pick._2, pick._3))
            }
        }
        assert(out(id) == expected, s"dir=$dir id=$id k=$k ts=$ts: ${out(id)} vs $expected")
      }
    }
  }

  test("asOf has WHOLE-ROW semantics: a null payload value is matched as-is, never stitched") {
    val l = Seq(("a", 10L, "l")).toDF("k", "ts", "lv")
    val r = Seq(("a", 1L, Some(5L), Some(7L)), ("a", 2L, None, Some(9L)))
      .toDF("k", "rts", "price", "qty")
    val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price", "qty"))
    // latest right is (ts=2, price=NULL, qty=9): price must be NULL, not
    // back-filled from the older (5, 7) row
    assertRows(out.select(col("k"), col("ts"), col("price"), col("qty")),
      Seq(Seq[Any]("a", 10L, null, 9L)))
  }

  test("asOf sliceWidth: time-sliced plan is row-identical to the plain plan " +
    "(all directions × tolerance × allowExactMatches × widths, null keys/ts in)") {
    val rnd = new scala.util.Random(20260813L)
    // the corpus deliberately covers every carry edge: null keys (the
    // null-SAFE carry join — a plain equi-join would drop their
    // cross-slice fills), null left ts (null slice → no carry), duplicate
    // left ts, and right-empty slices the carry must propagate across
    val lefts = (0 until 500).map { i =>
      val k = if (rnd.nextInt(20) == 0) None else Some(s"k${rnd.nextInt(8)}")
      val ts = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(1000).toLong)
      (i.toLong, k, ts)
    }
    val rights = (0 until 250).map { _ =>
      val k = if (rnd.nextInt(20) == 0) None else Some(s"k${rnd.nextInt(8)}")
      (k, rnd.nextInt(1000).toLong, rnd.nextInt(100))
    }.groupBy(t => (t._1, t._2)).map { case ((k, ts), g) => (k, ts, g.map(_._3).max) }.toSeq
    val l = lefts.toDF("id", "k", "ts")
    val r = rights.toDF("k", "rts", "v")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, g) => k -> g.size }
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(-1L, 40L); exact <- Seq(true, false)) {
      val plain = multiset(Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "v"),
        direction = dir, tolerance = tol, allowExactMatches = exact))
      // width 1 = one slice per distinct ts (maximal carry traffic);
      // 37 = many part-filled slices; 100000 = everything in one slice
      // (the carry never fires — degenerates to the plain plan)
      for (w <- Seq(1L, 37L, 100000L)) {
        val sliced = multiset(Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("rts", "v"),
          direction = dir, tolerance = tol, allowExactMatches = exact, sliceWidth = w))
        assert(sliced == plain, s"dir=$dir tol=$tol exact=$exact width=$w")
      }
    }
  }

  test("asOf sliceWidth: NaN fractional ts stays a no-match under slicing (ANSI-safe)") {
    // NaN must not reach the ANSI long cast in the slice id, and a NaN
    // left row must not pick up a slice-0 carry — same contract as plain
    val l = Seq(("a", 5.0, "live"), ("a", Double.NaN, "nan")).toDF("k", "ts", "lv")
    val r = Seq(("a", 1.0, 10L), ("a", Double.NaN, 99L)).toDF("k", "rts", "price")
    for (dir <- Seq("backward", "forward")) {
      val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("price"),
        direction = dir, sliceWidth = 2L).collect()
        .map(row => row.getString(2) -> (if (row.isNullAt(3)) None else Some(row.getLong(3)))).toMap
      assert(out("nan").isEmpty, s"dir=$dir: NaN left must not match")
      if (dir == "backward") assert(out("live").contains(10L))
    }
  }

  test("asOf sliceWidth: carry crosses right-empty slices and timestamps slice on micros") {
    import java.sql.Timestamp
    // rights only in the first slice; lefts many slices later — the carry
    // must propagate through every empty slice in between
    val l = Seq(("a", 1000L, 0), ("a", 1L, 1)).toDF("k", "ts", "id")
    val r = Seq(("a", 2L, 7L)).toDF("k", "rts", "v")
    val out = Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("v"), sliceWidth = 3L)
      .collect().map(row => row.getInt(2) -> (if (row.isNullAt(3)) None else Some(row.getLong(3)))).toMap
    assert(out(0).contains(7L) && out(1).isEmpty)
    // timestamp domain: width is epoch MICROS (1s slices here)
    val lt = Seq(("a", Timestamp.valueOf("2024-01-01 00:00:09"), 0))
      .toDF("k", "ts", "id")
    val rt = Seq(("a", Timestamp.valueOf("2024-01-01 00:00:01"), 5L))
      .toDF("k", "rts", "v")
    val outT = Joins.asOf(lt, rt, Seq("k"), "ts", "rts", Seq("v"),
      sliceWidth = 1000000L).collect()
    assert(outT.length == 1 && outT(0).getLong(3) == 5L)
  }

  test("asOf rejects payload names colliding with left columns") {
    val l = Seq(("a", 1L)).toDF("k", "ts")
    val r = Seq(("a", 1L)).toDF("k", "rts")
    intercept[IllegalArgumentException] {
      Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("ts"))
    }
  }

  test("asOf rejects reserved internal column names instead of silently overwriting them") {
    // r13 advice: sliced mode withColumn("__slice", ...) would OVERWRITE a
    // user column of that name — the guard must fire loudly, in plain and
    // sliced mode alike, for every internal name family
    val r = Seq(("a", 1L, 9L)).toDF("k", "rts", "v")
    for (bad <- Seq("__slice", "__carryB", "__carryF", "__ck0", "__ts", "__side", "__rp")) {
      val l = Seq(("a", 1L, 0L)).toDF("k", "ts", bad)
      val e = intercept[IllegalArgumentException] {
        Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("v"), sliceWidth = 10L)
      }
      assert(e.getMessage.contains(bad), s"guard must name the offender: $bad")
      intercept[IllegalArgumentException] { // plain mode guards too
        Joins.asOf(l, r, Seq("k"), "ts", "rts", Seq("v"))
      }
    }
    // payload-side hit
    val l2 = Seq(("a", 1L)).toDF("k", "ts")
    val r2 = Seq(("a", 1L, 9L)).toDF("k", "rts", "__carryF")
    intercept[IllegalArgumentException] {
      Joins.asOf(l2, r2, Seq("k"), "ts", "rts", Seq("__carryF"), sliceWidth = 10L)
    }
    // near-miss names stay legal (the regex is anchored, not a prefix scan)
    val l3 = Seq(("a", 5L, 1L)).toDF("k", "ts", "__slices")
    val out = Joins.asOf(l3, r2.select(col("k"), col("rts"), col("__carryF").as("v")),
      Seq("k"), "ts", "rts", Seq("v"), sliceWidth = 10L)
    assert(out.collect().map(_.getLong(3)).toSeq == Seq(9L))
  }

  test("pointInIntervalJoin: half-open bounds, bin-crossing intervals, empty intervals") {
    val points = Seq(5L, 10L, 19L, 20L, 25L).toDF("p")
    val intervals = Seq(
      (1L, 10L, 20L),   // [10,20): catches 10, 19; NOT 20 (half-open)
      (2L, 18L, 26L),   // crosses bins at width 10: catches 19, 20, 25
      (3L, 30L, 30L),   // empty: must produce nothing (not a descending sequence)
      (4L, 0L, 6L))     // catches 5
      .toDF("iv", "lo", "hi")
    val out = Joins.pointInIntervalJoin(
      points, col("p"), intervals, col("lo"), col("hi"), bucketWidth = 10L)
    assertRows(out.select(col("iv"), col("p")), Seq(
      Seq(1L, 10L), Seq(1L, 19L),
      Seq(2L, 19L), Seq(2L, 20L), Seq(2L, 25L),
      Seq(4L, 5L)))
  }

  test("pointInIntervalJoinLeft: unmatched points survive with null interval columns") {
    val points = Seq((100L, 5L), (101L, 19L), (102L, 99L), (103L, 99L)).toDF("pid", "p")
    val intervals = Seq((1L, 10L, 20L), (2L, 0L, 6L)).toDF("iv", "lo", "hi")
    val out = Joins.pointInIntervalJoinLeft(
      points, col("p"), intervals, col("lo"), col("hi"), bucketWidth = 10L)
    // 5→[0,6), 19→[10,20); the two 99s each emit their OWN null row
    // (duplicate point rows behave like a plain left-outer join)
    assertRows(out.select(col("pid"), col("p"), col("iv")), Seq(
      Seq(100L, 5L, 2L), Seq(101L, 19L, 1L),
      Seq(102L, 99L, null), Seq(103L, 99L, null)))
    // a point in a shared bin that fails the bounds is still unmatched:
    // 25 shares bin 2 with [26, 28) but is below lo
    val nearMiss = Seq((110L, 25L)).toDF("pid", "p")
    val iv2 = Seq((3L, 26L, 28L)).toDF("iv", "lo", "hi")
    assertRows(Joins.pointInIntervalJoinLeft(nearMiss, col("p"), iv2,
        col("lo"), col("hi"), bucketWidth = 10L)
      .select(col("pid"), col("iv")), Seq(Seq(110L, null)))
    // extra equality keys scope both legs: same span, wrong key → null row
    val kp = Seq((120L, 15L, "a"), (121L, 15L, "b")).toDF("pid", "p", "k")
    val ki = Seq((4L, 10L, 20L, "a")).toDF("iv", "lo", "hi", "k")
    assertRows(Joins.pointInIntervalJoinLeft(kp, col("p"), ki,
        col("lo"), col("hi"), bucketWidth = 10L, extraKeys = Seq("k"))
      .select(col("pid"), col("k"), col("iv")),
      Seq(Seq(120L, "a", 4L), Seq(121L, "b", null)))
  }

  test("pointInIntervalJoin: inclusive/exclusive boundary combinations") {
    val points = Seq(5L, 10L, 20L, 25L).toDF("p")
    val intervals = Seq(
      (1L, 10L, 20L),   // closed [10,20]: catches 10 AND 20
      (2L, 20L, 20L),   // closed single point [20,20]: catches exactly 20
      (3L, 5L, 25L))    // catches per bounds below
      .toDF("iv", "lo", "hi")
    // [lo, hi] — BETWEEN
    assertRows(Joins.pointInIntervalJoin(points, col("p"), intervals,
        col("lo"), col("hi"), bucketWidth = 10L, upperInclusive = true)
      .select(col("iv"), col("p")), Seq(
      Seq(1L, 10L), Seq(1L, 20L),
      Seq(2L, 20L),
      Seq(3L, 5L), Seq(3L, 10L), Seq(3L, 20L), Seq(3L, 25L)))
    // (lo, hi] — exclusive lower, inclusive upper
    assertRows(Joins.pointInIntervalJoin(points, col("p"), intervals,
        col("lo"), col("hi"), bucketWidth = 10L,
        lowerInclusive = false, upperInclusive = true)
      .select(col("iv"), col("p")), Seq(
      Seq(1L, 20L),                 // 10 now excluded at the lower edge
      // (20, 20] is empty — survives the closed-bounds bin filter, the
      // residual predicate kills it
      Seq(3L, 10L), Seq(3L, 20L), Seq(3L, 25L)))
    // (lo, hi) — both exclusive
    assertRows(Joins.pointInIntervalJoin(points, col("p"), intervals,
        col("lo"), col("hi"), bucketWidth = 10L, lowerInclusive = false)
      .select(col("iv"), col("p")), Seq(
      Seq(3L, 10L), Seq(3L, 20L)))
  }

  test("intervalOverlapJoin: half-open overlap, exactly-once across shared bins, touch ≠ overlap") {
    val a = Seq(
      (1L, 0L, 50L),     // spans 5 bins at width 10 — overlaps b1 (shares bins 1..3) and b2
      (2L, 60L, 70L),    // touches b3 at 70 exactly: NOT an overlap (half-open)
      (3L, 80L, 80L))    // empty: never emitted
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq(
      (10L, 15L, 35L),   // inside a1, shares bins 1..3 with it → must appear ONCE
      (11L, 45L, 65L),   // overlaps a1's tail AND a2's head
      (12L, 70L, 75L))   // starts exactly at a2's end
      .toDF("b_id", "b_lo", "b_hi")
    val out = Joins.intervalOverlapJoin(a, col("a_lo"), col("a_hi"),
      b, col("b_lo"), col("b_hi"), bucketWidth = 10L)
    assertRows(out.select(col("a_id"), col("b_id")),
      Seq(Seq(1L, 10L), Seq(1L, 11L), Seq(2L, 11L)))
    // closed-interval semantics: touching now counts (a2's end 70 meets
    // b3's start 70), the [80,80] point interval participates (meets
    // nothing here), and the half-open pairs all remain
    val closed = Joins.intervalOverlapJoin(a, col("a_lo"), col("a_hi"),
      b, col("b_lo"), col("b_hi"), bucketWidth = 10L, inclusive = true)
    assertRows(closed.select(col("a_id"), col("b_id")),
      Seq(Seq(1L, 10L), Seq(1L, 11L), Seq(2L, 11L), Seq(2L, 12L)))
    // two touching POINT intervals pair up exactly once under closed bounds
    val pa = Seq((21L, 40L, 40L)).toDF("a_id", "a_lo", "a_hi")
    val pb = Seq((22L, 40L, 40L)).toDF("b_id", "b_lo", "b_hi")
    assertRows(Joins.intervalOverlapJoin(pa, col("a_lo"), col("a_hi"),
        pb, col("b_lo"), col("b_hi"), bucketWidth = 10L, inclusive = true)
      .select(col("a_id"), col("b_id")), Seq(Seq(21L, 22L)))
  }

  test("pointInIntervalJoin handles NEGATIVE domain values (floor-div binning)") {
    // bins must floor toward -inf: -5 at width 10 is bin -1, not bin 0 —
    // integer truncation would misplace it and lose the match
    val points = Seq(-15L, -5L, 0L, 5L).toDF("p")
    val intervals = Seq((1L, -20L, -10L), (2L, -10L, 10L)).toDF("iv", "lo", "hi")
    val out = Joins.pointInIntervalJoin(
      points, col("p"), intervals, col("lo"), col("hi"), bucketWidth = 10L)
    assertRows(out.select(col("iv"), col("p")),
      Seq(Seq(1L, -15L), Seq(2L, -5L), Seq(2L, 0L), Seq(2L, 5L)))
  }

  test("pointInIntervalJoin with extra equality keys scopes matches per key") {
    val points = Seq(("a", 5L), ("b", 5L)).toDF("k", "p")
    val intervals = Seq(("a", 0L, 10L, 1L)).toDF("k", "lo", "hi", "iv")
    val out = Joins.pointInIntervalJoin(points, col("p"), intervals,
      col("lo"), col("hi"), bucketWidth = 10L, extraKeys = Seq("k"))
    assertRows(out.select(col("k"), col("p"), col("iv")), Seq(Seq("a", 5L, 1L)))
  }

  test("range joins are exact beyond 2^53 (epoch-nanos domain, integer bins)") {
    // doubles can't represent these values: double division would round the
    // bin id (ulp at 2^62 is 1024 > bucketWidth). Integer floor-division
    // must keep half-open semantics bit-exact at the far end of the domain.
    val base = (1L << 62) + 12345L // not a multiple of the width
    val w = 1000L
    val points = Seq(base - 1, base, base + 999, base + 1000).toDF("p")
    val intervals = Seq(
      (1L, base, base + 1000),        // catches base, base+999; NOT base-1, base+1000
      (2L, base - 500, base + 1500))  // catches all four
      .toDF("iv", "lo", "hi")
    val out = Joins.pointInIntervalJoin(
      points, col("p"), intervals, col("lo"), col("hi"), bucketWidth = w)
    assertRows(out.select(col("iv"), col("p")), Seq(
      Seq(1L, base), Seq(1L, base + 999),
      Seq(2L, base - 1), Seq(2L, base), Seq(2L, base + 999), Seq(2L, base + 1000)))
    // overlap variant: exactly-once across shared bins at the same magnitude
    val a = Seq((1L, base, base + 3000)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((10L, base + 500, base + 2500), (11L, base + 3000, base + 4000))
      .toDF("b_id", "b_lo", "b_hi")
    val ov = Joins.intervalOverlapJoin(a, col("a_lo"), col("a_hi"),
      b, col("b_lo"), col("b_hi"), bucketWidth = w)
    assertRows(ov.select(col("a_id"), col("b_id")), Seq(Seq(1L, 10L)))
  }

  test("range joins derive bucketWidth from the median interval length by default") {
    val points = Seq(5L, 150L, 1050L).toDF("p")
    val intervals = Seq( // lengths 10, 100, 1000 → median 100
      (1L, 0L, 10L), (2L, 100L, 200L), (3L, 1000L, 2000L)).toDF("iv", "lo", "hi")
    val out = Joins.pointInIntervalJoin(points, col("p"), intervals, col("lo"), col("hi"))
    assertRows(out.select(col("iv"), col("p")),
      Seq(Seq(1L, 5L), Seq(2L, 150L), Seq(3L, 1050L)))
  }

  test("range joins match a brute-force cross-join oracle on randomized data " +
    "(signs, magnitudes, widths)") {
    val rnd = new scala.util.Random(20260813L) // seeded: deterministic
    val magnitudes = Seq(0L, -1000000L, (1L << 53), -(1L << 53), (1L << 61))
    for ((base, i) <- magnitudes.zipWithIndex) {
      val points = (1 to 60).map(_ => base + rnd.nextInt(2000) - 1000L)
      val intervals = (1 to 40).map { j =>
        val lo = base + rnd.nextInt(2000) - 1000L
        (j.toLong, lo, lo + rnd.nextInt(300).toLong) // includes empty (len 0)
      }
      val pDf = points.toDF("p")
      val iDf = intervals.toDF("iv", "lo", "hi")
      val expected = for {
        p <- points; (iv, lo, hi) <- intervals; if p >= lo && p < hi
      } yield (iv, p)
      for (width <- Seq(1L, 7L, 100L, 0L)) { // 0 = stats-derived
        val got = Joins.pointInIntervalJoin(pDf, col("p"), iDf, col("lo"), col("hi"),
            bucketWidth = width)
          .select(col("iv"), col("p")).collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.sorted.toSeq == expected.sorted,
          s"magnitude[$i]=$base width=$width: ${got.length} vs ${expected.length} pairs")
      }
      // overlap variant vs brute force (self-comparable disjoint columns)
      val bDf = intervals.map { case (id, lo, hi) => (id + 1000, lo, hi) }
        .toDF("b_iv", "b_lo", "b_hi")
      val expectedOv = for {
        (a, alo, ahi) <- intervals; (b, blo, bhi) <- intervals
        if alo < bhi && blo < ahi
      } yield (a, b + 1000)
      for (width <- Seq(7L, 100L, 0L)) {
        val got = Joins.intervalOverlapJoin(iDf, col("lo"), col("hi"),
            bDf, col("b_lo"), col("b_hi"), bucketWidth = width)
          .select(col("iv"), col("b_iv")).collect().map(r => (r.getLong(0), r.getLong(1)))
        assert(got.sorted.toSeq == expectedOv.sorted,
          s"overlap magnitude[$i]=$base width=$width: ${got.length} vs ${expectedOv.length}")
      }
    }
  }

  test("range joins fail loud when an interval would explode past maxBinsPerRow") {
    val points = Seq(5L).toDF("p")
    val intervals = Seq((1L, 0L, 1000000L)).toDF("iv", "lo", "hi")
    val e = intercept[Exception] {
      Joins.pointInIntervalJoin(points, col("p"), intervals, col("lo"), col("hi"),
        bucketWidth = 1L, maxBinsPerRow = 100).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + chain(t.getCause)
    assert(chain(e).contains("maxBinsPerRow"), s"expected a bin-cap raise_error, got: ${chain(e)}")
    // same guard on the overlap variant
    val b = Seq((2L, 0L, 1000000L)).toDF("b_id", "b_lo", "b_hi")
    intercept[Exception] {
      Joins.intervalOverlapJoin(intervals, col("lo"), col("hi"),
        b, col("b_lo"), col("b_hi"), bucketWidth = 1L, maxBinsPerRow = 100).collect()
    }
    // closed-bounds off-by-one: [0, 1000] at width 10 explodes to bins
    // 0..100 = 101 rows — the guard must count the closed hi's own bin
    // (the half-open count of 100 would slip under the cap)
    val atCap = Seq((3L, 0L, 1000L)).toDF("iv", "lo", "hi")
    val e2 = intercept[Exception] {
      Joins.pointInIntervalJoin(points, col("p"), atCap, col("lo"), col("hi"),
        bucketWidth = 10L, maxBinsPerRow = 100, upperInclusive = true).collect()
    }
    assert(chain(e2).contains("maxBinsPerRow"), s"closed-bounds interval at cap+1 escaped the guard: ${chain(e2)}")
    // and the same half-open interval stays under the cap
    Joins.pointInIntervalJoin(points, col("p"), atCap, col("lo"), col("hi"),
      bucketWidth = 10L, maxBinsPerRow = 100).collect()
  }

  test("pointInIntervalJoinLeft matches the naive left-outer join on randomized data") {
    // 600 points x 120 intervals across a 2000-wide domain, width 50:
    // bin-crossing intervals, overlapping intervals, duplicate points,
    // empty intervals, and a spread of unmatched points — compared
    // row-multiset-exact against Spark's own (nested-loop) left-outer join
    // for every boundary-flag combination
    val rnd = new scala.util.Random(20260814L)
    val points = (0 until 600).map(i => (i.toLong, rnd.nextInt(2000).toLong))
    val intervals = (0 until 120).map { i =>
      val lo = rnd.nextInt(2000).toLong
      (1000L + i, lo, lo + rnd.nextInt(120).toLong) // includes empty (len 0)
    }
    val pDf = points.toDF("pid", "p")
    val iDf = intervals.toDF("iv", "lo", "hi")
    for (loIncl <- Seq(true, false); hiIncl <- Seq(true, false)) {
      val lower = if (loIncl) col("p") >= col("lo") else col("p") > col("lo")
      val upper = if (hiIncl) col("p") <= col("hi") else col("p") < col("hi")
      val expected = pDf.join(iDf, lower && upper, "left_outer")
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val got = Joins.pointInIntervalJoinLeft(pDf, col("p"), iDf,
          col("lo"), col("hi"), bucketWidth = 50L,
          lowerInclusive = loIncl, upperInclusive = hiIncl)
        .select(col("pid"), col("p"), col("iv"), col("lo"), col("hi"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(got == expected,
        s"loIncl=$loIncl hiIncl=$hiIncl: multiset mismatch — " +
          s"${(expected.keySet -- got.keySet).take(3)} missing, " +
          s"${(got.keySet -- expected.keySet).take(3)} extra")
    }
  }

  test("asOf matches a brute-force oracle on randomized data (dup ts, sparse keys, null gaps)") {
    // 40 keys x 1500 lefts x 800 rights: plenty of same-key same-ts
    // collisions, keys with no rights at all, lefts before the first right.
    // Rights are pre-aggregated per (k, rts) — the documented tie contract.
    val rnd = new scala.util.Random(20260813L)
    val lefts = (0 until 1500).map(i =>
      (i.toLong, rnd.nextInt(40).toLong, rnd.nextInt(5000).toLong))
    val rights = (0 until 800)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(5000).toLong, rnd.nextInt(1000)))
      .groupBy(t => (t._1, t._2))
      .map { case ((k, rts), g) => (k, rts, g.map(_._3).max) }.toSeq
    val rows = Joins.asOf(
      lefts.toDF("id", "k", "ts"), rights.toDF("k", "rts", "v"),
      Seq("k"), "ts", "rts", Seq("rts", "v"))
      .select(col("id"), col("rts"), col("v")).collect()
    // exactly one output row per left — BEFORE keying by id, which would
    // silently collapse duplicate emissions
    assert(rows.length == lefts.size, s"expected ${lefts.size} rows, got ${rows.length}")
    val out = rows.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getInt(2))))).toMap
    val byKey = rights.groupBy(_._1)
    lefts.foreach { case (id, k, ts) =>
      val expected = byKey.getOrElse(k, Seq.empty).filter(_._2 <= ts) match {
        case Seq() => None
        case cands => val best = cands.maxBy(_._2); Some((best._2, best._3))
      }
      assert(out(id) == expected, s"left id=$id k=$k ts=$ts")
    }
    assert(out.size == lefts.size)
  }

  test("bloomSemiJoin is EXACT for long keys — matches plain leftSemi, even at fpp=0.5") {
    val big = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val keys = Seq(3L, 50L, 199L, 777L).toDF("key") // 777 absent from big
    val expected = Joins.leftSemi(big, keys.withColumnRenamed("key", "id"), Seq("id"))
      .collect().map(_.getLong(0)).sorted
    assert(expected.toSeq == Seq(3L, 50L, 199L))
    // a sloppy bloom (fpp=0.5) lets false positives through the prefilter;
    // the exact semi-join must still remove every one of them
    for (fpp <- Seq(0.01, 0.5)) {
      val got = Joins.bloomSemiJoin(big, "id", keys, "key", fpp = fpp)
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == expected.toSeq, s"fpp=$fpp")
    }
  }

  test("bloomSemiJoin: string keys, empty key set, unsupported key type") {
    val big = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("s", "n")
    val keys = Seq("b", "zz").toDF("k")
    assert(Joins.bloomSemiJoin(big, "s", keys, "k")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(Joins.bloomSemiJoin(big, "s", keys.limit(0), "k").count() == 0)
    val doubles = Seq((1.5, "x")).toDF("d", "v")
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(doubles, "d", Seq(1.5).toDF("k"), "k")
    }
    // cross-family pairs hash through DIFFERENT sketch families (putString
    // vs putLong) and would silently drop coercible matches — fail loud
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(big, "s", Seq(2L).toDF("k"), "k")
    }
    intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(Seq((2L, "x")).toDF("id", "v"), "id", keys, "k")
    }
  }

  test("bloomSemiJoin prefilter actually drops non-matching rows before the exact join") {
    // parquet-backed big side: a LOCAL relation would let
    // ConvertToLocalRelation evaluate the UDF prefilter at optimize time
    // and erase it from the plan
    val dir = java.nio.file.Files.createTempDirectory("bloom_semi").toString
    (1L to 1000L).map(i => (i, i % 7)).toDF("id", "x")
      .write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val keys = (1L to 10L).map(_ * 100L).toDF("key")
    val out = Joins.bloomSemiJoin(big, "id", keys, "key")
    assert(out.count() == 10)
    // the UDF prefilter must sit in the plan (before the join), proving the
    // shuffle-reduction path is active rather than a plain semi-join —
    // and it must be the codegen'd BloomFilterMightContain expression,
    // NOT a Scala UDF crossing the codegen boundary per big-side row
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected codegen'd bloom prefilter in plan:\n$plan")
    assert(!plan.contains("UDF"), s"no Scala UDF allowed in the probe path:\n$plan")
  }

  test("bloomSemiJoin: NULL keys on either side neither NPE nor match") {
    val big = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n"), (3L, "c"))
      .toDF("id", "v")
    val keys = Seq[java.lang.Long](3L, null).toDF("key")
    assert(Joins.bloomSemiJoin(big, "id", keys, "key")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    val bigS = Seq(("a", 1), (null, 2), ("c", 3)).toDF("s", "n")
    val keysS = Seq("c", null).toDF("k")
    assert(Joins.bloomSemiJoin(bigS, "s", keysS, "k")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
    // all-null key set behaves like the empty key set
    assert(Joins.bloomSemiJoin(bigS, "s", Seq[String](null).toDF("k"), "k").count() == 0)
  }
}
