package graft.operators

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Joins: the reference has only key-equality joins, all built on
  * CoGroupByKey (reference: SDK/transforms/join/CoGroupByKey.java:74;
  * extension joins sdks/java/extensions/join-library/Join.java:48,:94,:147,:201).
  *
  * Scale notes: Beam's CoGBK is always a full shuffle of both sides; here
  * Catalyst picks broadcast-hash vs shuffled-hash vs sort-merge per side
  * statistics, and AQE converts to broadcast at runtime when a side turns out
  * small. `broadcastJoin` pins the hint for dimension tables (the reference's
  * "side input join" pattern, examples/.../JoinExamples.java:82-85).
  */
object Joins {

  /** Join.innerJoin (reference: Join.java:48). */
  def inner(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "inner")

  /** Join.leftOuterJoin(nullValue) (reference: Join.java:94): Beam requires a
    * null substitute because KV values can't be null; we coalesce the given
    * columns to the substitute. */
  def leftOuter(left: DataFrame, right: DataFrame, keys: Seq[String],
                nullSubs: Map[String, Column] = Map.empty): DataFrame =
    substitute(left.join(right, keys, "left_outer"), nullSubs)

  /** Join.rightOuterJoin (reference: Join.java:147). */
  def rightOuter(left: DataFrame, right: DataFrame, keys: Seq[String],
                 nullSubs: Map[String, Column] = Map.empty): DataFrame =
    substitute(left.join(right, keys, "right_outer"), nullSubs)

  /** Join.fullOuterJoin (reference: Join.java:201). */
  def fullOuter(left: DataFrame, right: DataFrame, keys: Seq[String],
                nullSubs: Map[String, Column] = Map.empty): DataFrame =
    substitute(left.join(right, keys, "full_outer"), nullSubs)

  private def substitute(df: DataFrame, subs: Map[String, Column]): DataFrame =
    subs.foldLeft(df) { case (d, (c, sub)) => d.withColumn(c, coalesce(col(c), sub)) }

  /** Semi/anti (expressible in Beam by filtering CoGbkResult; named here). */
  def leftSemi(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")
  def leftAnti(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Side-input / broadcast join: pins a broadcast of the small side.
    * (reference: View.asMap used inside DoFn — SDK/transforms/View.java:445) */
  def broadcastJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                    how: String = "inner"): DataFrame =
    big.join(broadcast(small), keys, how)

  /** Semi-join reduction via a Bloom-filter prefilter (beyond-ref: the
    * classic distributed-join reducer, generalizing Spark's AQE runtime
    * row-level filter to an explicit operator the caller controls).
    *
    * EXACT result — always identical to `leftSemi(big, keys)`: a Bloom
    * filter over the key set (~1.2 bytes/key at fpp=1%) is built with one
    * distributed tree-aggregate and probed by Spark's codegen'd
    * `BloomFilterMightContain` expression (no Scala UDF — the prefilter
    * stays inside WholeStageCodegen), discarding non-matching big-side
    * rows BEFORE the shuffle; the exact semi-join afterwards removes the
    * false positives. The win
    * region is 100 TB-shaped: the key set too large for a broadcast hash
    * semi-join (a hash relation costs ~50-100 bytes/entry; the bloom is
    * ~40-80x smaller) while the big side is dominated by non-matching rows,
    * so shuffle volume drops by ~the match rate. Long and string keys (the
    * sketch library's native types); anything else fails loud.
    *
    * The keys side is deliberately NOT deduplicated: duplicate keys set the
    * same bloom bits, `left_semi` dedups inherently, and skipping the
    * `distinct()` saves a whole keys-side Exchange — both keys-side jobs
    * (sizing count, sketch build) are shuffle-free scans. `expectedKeys`
    * skips the sizing `count()` when the caller knows an upper bound on
    * the key count; 0 means derive it (the raw count — an over-estimate
    * under duplication, which only drives real fpp BELOW the request). */
  def bloomSemiJoin(big: DataFrame, bigKey: String, keys: DataFrame, keyCol: String,
                    fpp: Double = 0.01, expectedKeys: Long = 0L): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val keyRows = keys.select(col(keyCol))
    // BOTH sides must sit in the same type family: a cross-family pair
    // (e.g. string big key vs long keys) would hash through different
    // sketch families (putString vs putLong) and silently drop rows a
    // coercing plain semi-join would match — violating the exactness
    // contract. Fail loud instead.
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    val (bigT, keyT) = (big.schema(bigKey).dataType, keys.schema(keyCol).dataType)
    require((integral(bigT) && integral(keyT)) || (bigT == StringType && keyT == StringType),
      s"bloomSemiJoin requires both keys in the same family (both integral or " +
        s"both string); got $bigT for $bigKey vs $keyT for $keyCol")
    // NULL keys can never match a semi-join, so dropping them before the
    // sketch build preserves exactness AND avoids the NPE stat.bloomFilter
    // throws on a null string key.
    val liveKeys = keyRows.na.drop(Seq(keyCol))
    val n = if (expectedKeys > 0) expectedKeys else liveKeys.count()
    if (n == 0) return big.limit(0)
    // The probe is Spark's codegen'd BloomFilterMightContain — the same
    // expression its injected runtime filters use — over the serialized
    // sketch as a binary literal (shipped once per stage inside the task
    // binary, which Spark itself broadcasts). No Scala UDF: the big-side
    // scan + prefilter stays inside WholeStageCodegen.
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def mightContain(bloom: org.apache.spark.util.sketch.BloomFilter,
                     value: Column): Column = {
      val baos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(baos)
      ColumnBridge.column(new BloomFilterMightContain(
        Literal.create(baos.toByteArray, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(value)))
    }
    val prefiltered = bigT match {
      case ByteType | ShortType | IntegerType | LongType =>
        // build putLong(raw) / probe mightContainLong(raw): both sides cast
        // to long so mixed integral widths keep hashing identically
        val bloom = liveKeys.select(col(keyCol).cast("long").as("k"))
          .stat.bloomFilter("k", n, fpp)
        big.filter(mightContain(bloom, col(bigKey).cast("long")))
      case StringType =>
        // BloomFilterMightContain probes longs only, so hash strings to
        // xxhash64 on BOTH the build and probe sides (a 64-bit pre-hash
        // only nudges the effective fpp, and the exact semi-join after the
        // prefilter removes every false positive anyway)
        val bloom = liveKeys.select(xxhash64(col(keyCol)).as("k"))
          .stat.bloomFilter("k", n, fpp)
        big.filter(mightContain(bloom, xxhash64(col(bigKey))))
      case other =>
        throw new IllegalArgumentException(
          s"bloomSemiJoin supports integral and string keys, got $other for $bigKey")
    }
    prefiltered.join(keyRows.withColumnRenamed(keyCol, "__bloom_key"),
        col(bigKey) === col("__bloom_key"), "left_semi")
  }

  /** CoGroupByKey, N-way (reference: CoGroupByKey.java:74 → KV<K, CoGbkResult>
    * with per-tag iterables). Spark shape: per-input pre-aggregation to
    * (key, collect_list(value)) then chained full-outer joins on the key —
    * each input shuffles ONCE on the key, identical to Beam's union+GBK cost,
    * and the per-tag lists arrive exactly like CoGbkResult's iterables
    * (empty list when the key is absent on that side).
    */
  def coGroupByKey(key: String, inputs: Map[String, (DataFrame, Column)]): DataFrame = {
    val grouped = inputs.map { case (tag, (df, value)) =>
      df.groupBy(col(key)).agg(sort_array(collect_list(value)).as(tag))
    }
    val joined = grouped.reduce((a, b) => a.join(b, Seq(key), "full_outer"))
    // CoGbkResult yields an EMPTY iterable, not null, for absent tags.
    inputs.keys.foldLeft(joined) { (d, tag) =>
      d.withColumn(tag, coalesce(col(tag), array()))
    }
  }

  /** View.asSingleton / asList / asIterable / asMap / asMultimap (reference:
    * SDK/transforms/View.java:302, :249, :275, :445, :418): materialize a
    * SMALL side input for use inside per-element logic — the Beam contract is
    * that views fit in worker memory (they are broadcast by every runner), so
    * the collect() here is the operator's semantics, not a hot-path collect.
    * Batch: collect + broadcast; the caller uses the returned broadcast in a
    * closure. Streaming: prefer stream-static joins instead. */
  def viewAsList[T](spark: SparkSession, df: DataFrame, f: org.apache.spark.sql.Row => T)
      : org.apache.spark.broadcast.Broadcast[Seq[T]] =
    spark.sparkContext.broadcast(df.collect().toSeq.map(f))

  /** Beam's asIterable ≡ asList under Spark materialization. */
  def viewAsIterable[T](spark: SparkSession, df: DataFrame, f: org.apache.spark.sql.Row => T)
      : org.apache.spark.broadcast.Broadcast[Seq[T]] = viewAsList(spark, df, f)

  def viewAsMap[K, V](spark: SparkSession, df: DataFrame,
                      f: org.apache.spark.sql.Row => (K, V))
      : org.apache.spark.broadcast.Broadcast[Map[K, V]] =
    spark.sparkContext.broadcast(df.collect().toSeq.map(f).toMap)

  /** View.asMultimap (reference: View.java:418): key → all values. */
  def viewAsMultimap[K, V](spark: SparkSession, df: DataFrame,
                           f: org.apache.spark.sql.Row => (K, V))
      : org.apache.spark.broadcast.Broadcast[Map[K, Seq[V]]] =
    spark.sparkContext.broadcast(
      df.collect().toSeq.map(f).groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2) })

  /** View.asSingleton (reference: View.java:302): exactly-one-element view;
    * `default` when empty (Beam's withDefaultValue), error when >1 — the
    * same contract as Beam's SingletonViewFn. */
  def viewAsSingleton[T: scala.reflect.ClassTag](spark: SparkSession, df: DataFrame,
                         f: org.apache.spark.sql.Row => T, default: Option[T] = None)
      : org.apache.spark.broadcast.Broadcast[T] = {
    val rows = df.take(2)
    val value = rows.length match {
      case 0 => default.getOrElse(
        throw new IllegalArgumentException("asSingleton on empty input with no default"))
      case 1 => f(rows(0))
      case _ => throw new IllegalArgumentException("asSingleton on multi-element input")
    }
    spark.sparkContext.broadcast(value)
  }

  // ------------------------------------------------------ windowed side inputs

  /** Beam side inputs are WINDOWED: a main element reads the view of the
    * side window its own window maps to, via a WindowMappingFn (reference:
    * SDK/values/PCollectionViews.java;
    * SDK/transforms/windowing/WindowMappingFn.java — the default maps a
    * main window to the side window containing the main window's MAXIMUM
    * timestamp). [[sideWindowFor]] is that default mapping for
    * fixed-windowed sides; compose it with either the broadcast view
    * ([[viewAsMapPerWindow]], small sides) or the join form
    * ([[windowedSideInputJoin]], any side size — the scale path). */
  def sideWindowFor(mainWindowEnd: Column, sideSizeMs: Long): Column =
    // main window max timestamp = end - 1ms (Beam IntervalWindow
    // maxTimestamp); its containing fixed side window start:
    floor((mainWindowEnd.cast("long") - 1) / sideSizeMs).cast("long") * sideSizeMs

  /** View.asMap per window: broadcast Map[(sideWindowStartMs, K), V].
    * Same bounded-side contract as [[viewAsMap]] (views fit in worker
    * memory — the collect IS the semantics); `f` extracts
    * (windowStartMs, key, value) from each side row. */
  def viewAsMapPerWindow[K, V](spark: SparkSession, side: DataFrame,
                               f: org.apache.spark.sql.Row => (Long, K, V))
      : org.apache.spark.broadcast.Broadcast[Map[(Long, K), V]] =
    spark.sparkContext.broadcast(
      side.collect().toSeq.map { r => val (w, k, v) = f(r); ((w, k), v) }.toMap)

  /** Windowed side-input join — the unbounded-scale form of a windowed
    * view: the main input (carrying its window end) joins the side keyed by
    * (side window, key) after applying the default window mapping. The
    * side is broadcast (dimension-sized per window); drop the hint for
    * genuinely large sides and let AQE pick the strategy. */
  def windowedSideInputJoin(main: DataFrame, mainWindowEnd: Column,
                            side: DataFrame, sideWindowStart: String,
                            sideSizeMs: Long, keys: Seq[String],
                            how: String = "left_outer"): DataFrame =
    main.withColumn(sideWindowStart, sideWindowFor(mainWindowEnd, sideSizeMs))
      .join(broadcast(side), sideWindowStart +: keys, how)

  // ------------------------------------------------------------- as-of join

  /** As-of (temporal) join: for each left row, the LATEST right row with
    * `right.ts <= left.ts` on the same key — the kdb `aj` / Flink temporal
    * join / pandas `merge_asof` operator. Absent from both the reference
    * (key-equality joins only, Join.java) and Spark's built-ins; a naive
    * formulation is a per-left-row inequality subquery (BroadcastNestedLoop
    * at scale).
    *
    * Spark-first shape: tag both sides, UNION on (keys, ts), and run ONE
    * window pass — `last(payload, ignoreNulls) OVER (PARTITION BY keys
    * ORDER BY ts, side ROWS UNBOUNDED PRECEDING..CURRENT)` — then keep the
    * left rows. Right rows sort with side=0 before left rows (side=1) at
    * equal ts, giving exact `<=` semantics. Cost: one shuffle of
    * (keys ++ ts ++ payload) plus a per-key sort — the same plan a
    * sort-merge as-of would produce, with no join blow-up at any scale.
    * A hot key serializes into one partition's sort (inherent to per-key
    * ordering); pre-aggregate the right side per (keys, ts) for both
    * determinism under ties and a smaller sort, and see `sliceWidth`
    * below for the mitigation when one entity's full history is still
    * too big for one task.
    *
    * `sliceWidth` > 0 switches to the TIME-SLICED two-pass plan —
    * the hot-key skew mitigation, the batch sibling of AsOfStream's
    * dominance GC. Rows partition by (keys, floor(ts/width)); pass 1 runs
    * the same window fill WITHIN each slice (a hot key now spreads over
    * range/width tasks); pass 2 fixes up the slice boundaries with a
    * carry: per (keys, slice) the latest/earliest right row is one
    * bounded aggregate, a per-key window over THOSE rows (#slices rows,
    * not #data rows) computes each slice's carry-in from earlier (carry
    * backward) / later (carry forward) slices, and a null-safe equi-join
    * on (keys, slice) hands it back to pass 1's rows, where
    * `coalesce(inSliceFill, carryIn)` is exact: an in-slice fill is
    * always strictly closer than any cross-slice one. Semantics are
    * IDENTICAL to the plain plan for every direction/tolerance/
    * allowExactMatches combination (differentially pinned in JoinsSpec);
    * cost is one extra bounded aggregate + small join, so leave
    * sliceWidth at 0 unless a key's per-key history outgrows one task —
    * at 100 TB that's the only shape where the plain plan fails (the
    * cutover: BASELINE.md round 13, "As-of hot-key skew duel").
    * Width is in ts-long units (epoch MICROS for timestamps).
    *
    * `left` keeps ALL its columns; `rightPayload` columns (disjoint names
    * from left's) are appended, null where no right row precedes
    * (left-outer semantics). The payload travels as ONE struct through the
    * window fill — WHOLE-ROW semantics: a right row with some NULL payload
    * values is matched as-is, never stitched column-wise with older rows
    * (a per-column last(ignoreNulls) would do exactly that). Right rows
    * must be unique per (keys, ts) — otherwise which same-timestamp
    * payload wins is tie-ambiguous.
    *
    * `direction` (pandas merge_asof surface):
    *  - "backward" (default): latest right with rts <= lts — as above
    *  - "forward": EARLIEST right with rts >= lts (the mirrored window —
    *    same shuffle, descending in-partition sort)
    *  - "nearest": whichever of the two is closer in time, ties to
    *    backward; both fills run over the SAME keyed partitioning (one
    *    shuffle, two in-partition sorts), then a row-local pick. The ts
    *    columns must be numeric or timestamp (the distance compare casts
    *    to long — epoch micros for timestamps).
    *
    * `tolerance` (pandas merge_asof): when >= 0, a match farther than this
    * many long-domain units (epoch MICROS for timestamps) nulls out; for
    * nearest each side is cut before the pick. `allowExactMatches = false`
    * makes the comparisons strict (< / >) — implemented purely by flipping
    * the equal-ts side order in the window sort, no extra pass.
    *
    * Null and NaN ts rows follow SQL comparison semantics exactly: they
    * match nothing (NaN would sort as the LARGEST value and fabricate
    * fills without the explicit guards — right-side NaN rows are dropped,
    * left-side NaN rows survive with a null fill). Distance arithmetic is
    * overflow-SATURATING: ts domains straddling zero by more than 2^63
    * (e.g. a Long.MinValue sentinel) read as "infinitely far", never as a
    * wrapped negative distance. */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String,
           rightPayload: Seq[String],
           direction: String = "backward",
           tolerance: Long = -1L,
           allowExactMatches: Boolean = true,
           sliceWidth: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Set("backward", "forward", "nearest")(direction),
      s"asOf direction must be backward|forward|nearest, got '$direction'")
    require(sliceWidth >= 0L, s"asOf sliceWidth must be >= 0, got $sliceWidth")
    val sliced = sliceWidth > 0L
    val leftCols = left.columns.toSeq
    val otherLeft = leftCols.filterNot(c => keys.contains(c) || c == leftTs)
    require(rightPayload.intersect(leftCols).isEmpty,
      s"rightPayload must not collide with left columns: ${rightPayload.intersect(leftCols)}")
    require(!rightPayload.contains("__rts"),
      "rightPayload name __rts is reserved (internal ts field of the payload struct)")
    // the operator's internal columns: a user column with one of these
    // names would be silently OVERWRITTEN by withColumn (sliced mode's
    // __slice/__carry*/__ck<i>) or made ambiguous (__ts/__side/__rp) —
    // reject loudly instead of corrupting the output
    val reservedRe = "__(ts|side|rp|slice|carryB|carryF|ck\\d+)".r
    val reservedHits = (leftCols ++ rightPayload).distinct
      .filter(c => reservedRe.pattern.matcher(c).matches())
    require(reservedHits.isEmpty,
      s"asOf reserves internal column names __ts/__side/__rp/__slice/" +
        s"__carryB/__carryF/__ck<i>; rename: ${reservedHits.mkString(", ")}")

    // the struct carries the right ts internally (first field) so
    // "nearest" can compare distances; output columns are unchanged.
    // Timestamps go through epochMicros (a long cast would truncate to
    // SECONDS and mis-pick the nearest side on sub-second gaps); ONE type
    // dispatch serves both sides so the conversions can never disagree.
    import org.apache.spark.sql.types._
    def tsLong(dt: DataType, c: Column): Column = dt match {
      case _: TimestampType | _: TimestampNTZType => GraftSession.epochMicros(c)
      case _ => c.cast("long")
    }
    val leftTsType = left.select(col(leftTs)).schema.head.dataType
    val rightTsType = right.select(col(rightTs)).schema.head.dataType
    if (direction == "nearest" || tolerance >= 0) {
      // distance arithmetic is exact only for integral/timestamp domains;
      // a fractional ts would silently truncate and mis-pick/mis-cut
      def distanceSafe(dt: DataType): Boolean = dt match {
        case _: TimestampType | _: TimestampNTZType => true
        case LongType | IntegerType | ShortType => true
        case _ => false
      }
      require(distanceSafe(leftTsType) && distanceSafe(rightTsType),
        s"asOf nearest/tolerance needs integral or timestamp ts columns " +
          s"(got $leftTsType / $rightTsType); fractional domains would " +
          "truncate in the distance arithmetic")
    }
    val payloadStructType = right.select(
      struct(tsLong(rightTsType, col(rightTs)).as("__rts") +: rightPayload.map(col): _*)
        .as("__rp")).schema("__rp").dataType
    val l = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++
        otherLeft.map(col) :+ lit(null).cast(payloadStructType).as("__rp"): _*)
    // a null-ts right row satisfies NO comparison in any direction (SQL:
    // rts <= x / rts >= x are never true) — drop it here; without this it
    // would sort to a partition edge and back/forward-fill real rows.
    // A NaN ts on a FRACTIONAL domain is the same hazard with the same
    // fix: SQL comparison semantics make rts <= x / rts >= x false for
    // NaN, but Spark's SORT treats NaN as the largest value, so an
    // unfiltered NaN right row would sit at the partition edge and
    // forward-fill real left rows
    def isFrac(dt: DataType) = dt == DoubleType || dt == FloatType
    val rightTsLive =
      if (isFrac(rightTsType)) col(rightTs).isNotNull && !isnan(col(rightTs))
      else col(rightTs).isNotNull
    val r = right.filter(rightTsLive).select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++
        otherLeft.map(c => lit(null).as(c)) :+
        struct(tsLong(rightTsType, col(rightTs)).as("__rts") +: rightPayload.map(col): _*)
          .as("__rp"): _*)

    def frame(w: org.apache.spark.sql.expressions.WindowSpec) =
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // rights (side 0) sort before lefts (side 1) at equal ts under BOTH
    // orderings, so <= / >= both include the equal-ts right row. Null-ts
    // LEFT rows must see an empty fill frame in both directions: asc is
    // NULLS FIRST by default, the desc ordering needs the explicit
    // desc_nulls_first (plain desc puts nulls last — a null-ts left row
    // would otherwise frame over the whole partition and match the
    // earliest right)
    // allowExactMatches = false flips the equal-ts side order: lefts sort
    // BEFORE rights, so the equal-ts right drops out of the frame and the
    // comparisons become strict (< / >) — pure sort-order work, no filter
    val sideOrd =
      if (allowExactMatches) col("__side").asc else col("__side").desc
    // sliced mode adds the time-slice id to the fill partitioning — the
    // in-slice pass; carry columns (joined below) supply the cross-slice fix
    val partCols: Seq[Column] =
      if (sliced) keys.map(col) :+ col("__slice") else keys.map(col)
    val wBack = frame(Window.partitionBy(partCols: _*)
      .orderBy(col("__ts").asc, sideOrd))
    val wFwd = frame(Window.partitionBy(partCols: _*)
      .orderBy(col("__ts").desc_nulls_first, sideOrd))
    val lts = tsLong(leftTsType, col("__ts"))
    // tolerance (same long units as the ts domain — micros for
    // timestamps): a fill farther than `tolerance` nulls out; for nearest
    // each SIDE is cut before the pick (the pandas contract)
    def withinTol(p: Column, dist: Column): Column =
      if (tolerance < 0) p
      else when(p.isNotNull && dist <= lit(tolerance), p)
    // saturating a−b for a >= b (true by construction: backward fills have
    // rts <= lts, forward rts >= lts): the subtraction overflows Long when
    // the operands straddle zero by more than 2^63 — e.g. a MinValue
    // sentinel ts against a positive domain — which under ANSI mode kills
    // the query and under non-ANSI wraps NEGATIVE, beating every honest
    // distance in the nearest pick and slipping under any tolerance.
    // try_subtract nulls on overflow; saturate that to MaxValue —
    // "farther than everything", which is the truth.
    def distSat(a: Column, b: Column): Column =
      coalesce(try_subtract(a, b), lit(Long.MaxValue))
    // sliced mode: an in-slice fill is strictly closer than any
    // cross-slice one (a backward in-slice right has ts >= slice start >
    // every earlier-slice right ts; mirrored forward), so coalescing the
    // carry under the window fill is exact — and tolerance cuts AFTER the
    // pick for the same reason (the rejected candidate is the nearer one;
    // the carry behind it is farther and would fail too)
    def backFill: Column = {
      val in = last(col("__rp"), ignoreNulls = true).over(wBack)
      if (sliced) coalesce(in, col("__carryB")) else in
    }
    def fwdFill: Column = {
      val in = last(col("__rp"), ignoreNulls = true).over(wFwd)
      if (sliced) coalesce(in, col("__carryF")) else in
    }
    val fill = direction match {
      case "backward" =>
        val back = backFill
        withinTol(back, distSat(lts, back.getField("__rts")))
      case "forward"  =>
        val fwd = fwdFill
        withinTol(fwd, distSat(fwd.getField("__rts"), lts))
      case "nearest"  =>
        val backRaw = backFill
        val fwdRaw = fwdFill
        val back = withinTol(backRaw, distSat(lts, backRaw.getField("__rts")))
        val fwd = withinTol(fwdRaw, distSat(fwdRaw.getField("__rts"), lts))
        when(back.isNull, fwd).when(fwd.isNull, back)
          .when(distSat(lts, back.getField("__rts")) <=
            distSat(fwd.getField("__rts"), lts), back)
          .otherwise(fwd)
    }
    // a NaN LEFT ts on a fractional domain sorts to the partition extreme
    // and would frame over every right row, fabricating a fill where SQL
    // comparison semantics (rts <= NaN is false) say no match — null it
    // out row-locally (the row itself still survives: left-outer contract,
    // same treatment as a null left ts)
    val fillNanSafe =
      if (isFrac(leftTsType))
        when(col("__side") === 1 && isnan(col("__ts")),
          lit(null).cast(payloadStructType)).otherwise(fill)
      else fill
    val u0 = l.unionByName(r)
    val u =
      if (!sliced) u0
      else {
        val uTsType = u0.schema("__ts").dataType
        // ANSI-safe slice id: NaN on a fractional domain must not reach
        // the long cast (it would throw under ANSI; non-ANSI it lands in
        // slice 0 and could pick up a carry the NaN guard above can't
        // null). A null slice joins nothing and carries nothing — exactly
        // the no-match contract for null/NaN left ts.
        val sliceTs =
          if (isFrac(uTsType)) when(isnan(col("__ts")), lit(null)).otherwise(col("__ts"))
          else col("__ts")
        val withSlice = u0.withColumn("__slice", binOf(tsLong(uTsType, sliceTs), sliceWidth))
        // carry: per (keys, slice) the latest/earliest RIGHT row is one
        // bounded aggregate (max_by/min_by ignore null ordering values, so
        // left rows never win); a per-key window over those #slices rows
        // computes each slice's carry-in; null-SAFE join keys because the
        // window partitioning groups null keys together and the carry
        // join must agree (a plain equi-join would drop them)
        val rightOrd = when(col("__side") === 0, col("__rp").getField("__rts"))
        // only the carry direction(s) this query reads: backward/forward
        // need one aggregate + one tiny per-key sort each; nearest both
        val needB = direction != "forward"
        val needF = direction != "backward"
        val perSlice = withSlice.groupBy((keys :+ "__slice").map(col): _*)
          .agg(max_by(col("__rp"), rightOrd).as("__lastR"),
               min_by(col("__rp"), rightOrd).as("__firstR"))
        val perKey = Window.partitionBy(keys.map(col): _*)
        val carryCols =
          (if (needB) Seq(last(col("__lastR"), ignoreNulls = true)
            .over(perKey.orderBy(col("__slice").asc)
              .rowsBetween(Window.unboundedPreceding, -1)).as("__carryB")) else Nil) ++
          (if (needF) Seq(last(col("__firstR"), ignoreNulls = true)
            .over(perKey.orderBy(col("__slice").desc_nulls_first)
              .rowsBetween(Window.unboundedPreceding, -1)).as("__carryF")) else Nil)
        val carryNames =
          (if (needB) Seq("__carryB") else Nil) ++ (if (needF) Seq("__carryF") else Nil)
        val carry = perSlice.select((keys :+ "__slice").map(col) ++ carryCols: _*)
        val joinCols = keys :+ "__slice"
        val carryK = carry.select(joinCols.zipWithIndex.map {
          case (c, i) => col(c).as(s"__ck$i")
        } ++ carryNames.map(col): _*)
        val cond = joinCols.zipWithIndex.map {
          case (c, i) => withSlice(c) <=> carryK(s"__ck$i")
        }.reduce(_ && _)
        withSlice.join(carryK, cond, "left")
          .drop(joinCols.indices.map(i => s"__ck$i"): _*)
      }
    val filled = u.select(
      (keys.map(col) ++ Seq(col("__ts"), col("__side")) ++ otherLeft.map(col) :+
        fillNanSafe.as("__rp")): _*)
    filled.filter(col("__side") === 1)
      .select((keys.map(col) ++ Seq(col("__ts")) ++ otherLeft.map(col) ++
        rightPayload.map(c => col(s"__rp.$c").as(c))): _*)
      .withColumnRenamed("__ts", leftTs)
  }

  // ------------------------------------------------------------ range join

  /** Exact floor-division bin id for a LONG domain value: pure integer
    * arithmetic (`(x - pmod(x, W)) div W` — the subtraction makes the
    * dividend an exact multiple of W, so SQL `div`'s truncation equals the
    * mathematical floor for any sign). NEVER the double `/`: long÷long is
    * double division in Spark, which rounds above 2^53 — epoch NANOS
    * overflow that — and bin ids must be exact, aligned multiples of W for
    * the documented bin layout and the first-shared-bin guard. */
  private def binOf(x: Column, w: Long): Column =
    call_function("div", x - pmod(x, lit(w)), lit(w))

  /** Fail-loud per-row bin-count guard: replaces `loC` with itself, or
    * raises when the interval spans more than `maxBins` bins — a caller
    * passing width ≪ interval length would otherwise explode each interval
    * by len/W+1 rows with no bound (at 100 TB that is an accidental
    * self-join amplification, not a slow query). Attached to a column the
    * plan already consumes so Catalyst cannot prune the check. The count
    * must use the SAME upper-bin formula as the explode (a closed hi owns
    * its bin — one more than the half-open count) or an interval at
    * exactly the cap escapes the guard. */
  private def binCapGuard(loC: Column, hiC: Column, w: Long, maxBins: Int,
                          upperInclusive: Boolean = false): Column = {
    val hiBin = if (upperInclusive) binOf(hiC, w) else binOf(hiC - 1, w)
    val nb = hiBin - binOf(loC, w) + lit(1L)
    val hiBracket = if (upperInclusive) "]" else ")"
    when(nb > lit(maxBins.toLong), raise_error(format_string(
      s"range join: interval [%s, %s$hiBracket spans %s bins > maxBinsPerRow=$maxBins " +
        s"at bucketWidth=$w — raise bucketWidth (or the cap)", loC, hiC, nb)))
      .otherwise(loC)
  }

  /** Interval side of the bin plan — ONE implementation for all three
    * range-join forms (inner, left-outer anti leg, interval overlap) so a
    * boundary-semantics change can never desynchronize them: cast bounds
    * to long as `loName`/`hiName`, drop degenerate rows, fail-loud bin
    * cap, explode to one row per overlapped bin as `binName`. */
  private def binnedIntervals(df: DataFrame, lo: Column, hi: Column,
                              w: Long, maxBins: Int, upperInclusive: Boolean,
                              loName: String, hiName: String,
                              binName: String): DataFrame = {
    val nonDegenerate =
      if (upperInclusive) col(hiName) >= col(loName) else col(hiName) > col(loName)
    val hiBin = if (upperInclusive) binOf(col(hiName), w)
                else binOf(col(hiName) - 1, w)
    df.withColumn(loName, lo.cast("long")).withColumn(hiName, hi.cast("long"))
      .filter(nonDegenerate)
      .withColumn(loName, binCapGuard(col(loName), col(hiName), w, maxBins, upperInclusive))
      .withColumn(binName, explode(sequence(binOf(col(loName), w), hiBin)))
  }

  /** Median NON-EMPTY interval length — the stats-derived default
    * `bucketWidth` (one bounded aggregate over the intervals side; the
    * scalar comes back to the driver). Median ≈ the width at which the
    * per-interval explosion stays ~2× while bins stay selective. Empty /
    * inverted rows (hi <= lo) are excluded: the join drops them before
    * binning anyway, and letting them drag the median to <= 1 would make
    * the bin-cap guard spuriously reject the legitimate intervals. */
  private def medianLength(iv: DataFrame, lo: Column, hi: Column): Long = {
    val len = hi.cast("long") - lo.cast("long")
    val r = iv.filter(len > 0)
      .select(percentile_approx(len, lit(0.5), lit(10000)).as("m")).head()
    if (r.isNullAt(0)) 1L else math.max(1L, r.getLong(0))
  }

  /** Point-in-interval range join WITHOUT an equality key, executed as an
    * equi-join: Spark plans a pure inequality join as
    * BroadcastNestedLoopJoin (O(|points|·|intervals|) comparisons, driver
    * OOM on a big build side) — unusable at 100 TB. The classic fix is
    * range BUCKETING: quantize the domain into `bucketWidth`-sized bins,
    * explode each interval to every bin it overlaps, map each point to its
    * single bin, hash-join on the bin id, and re-check the exact predicate.
    * Each point lands in EXACTLY one bin, so each matched (point, interval)
    * pair surfaces exactly once — no post-join dedup. Bin ids are computed
    * in exact integer arithmetic ([[binOf]]) — safe for any long domain,
    * including epoch nanos beyond 2^53.
    *
    * Cost: shuffle of points ×1 and intervals ×(avg len/bucketWidth + 1);
    * `bucketWidth <= 0` (the default) derives the width from the MEDIAN
    * interval length, the ~2×-explosion sweet spot; `maxBinsPerRow` caps
    * the per-interval explosion fail-loud ([[binCapGuard]]). Extra
    * equality keys (when present) join alongside the bin id. Skew: a bin
    * spanning a hot time range is an ordinary hash-join skew — AQE
    * skew-join splits it.
    *
    * `pt`, `lo`, `hi` are LONG domain values (default [lo, hi) half-open,
    * e.g. `unix_micros`); `points`/`intervals` must have disjoint column
    * names. `lowerInclusive`/`upperInclusive` select the boundary
    * semantics — [lo, hi] (BETWEEN), (lo, hi), (lo, hi] — with the SAME
    * bin plan: only the bin span (inclusive hi adds its own bin) and the
    * exact residual predicate change, no bound arithmetic that could
    * overflow at the long-domain edges. */
  def pointInIntervalJoin(points: DataFrame, pt: Column,
                          intervals: DataFrame, lo: Column, hi: Column,
                          bucketWidth: Long = 0L, extraKeys: Seq[String] = Nil,
                          maxBinsPerRow: Int = 4096,
                          lowerInclusive: Boolean = true,
                          upperInclusive: Boolean = false): DataFrame = {
    val w = if (bucketWidth > 0) bucketWidth else medianLength(intervals, lo, hi)
    val p = points.withColumn("__pt", pt.cast("long"))
      .withColumn("__bin", binOf(col("__pt"), w))
    // Degenerate intervals (empty under the chosen bounds, e.g. hi <= lo
    // half-open, or hi < lo closed — a closed [x, x] single point is NOT
    // empty) are dropped before sequence(), which would otherwise count
    // DOWN (implicit step -1) and fabricate bins. The residual predicate
    // handles the remaining edge cases exactly (e.g. (x, x] matches
    // nothing even though it survives the closed-bounds bin filter).
    val iv = binnedIntervals(intervals, lo, hi, w, maxBinsPerRow,
      upperInclusive, "__lo", "__hi", "__bin")
    val lower = if (lowerInclusive) col("__pt") >= col("__lo")
                else col("__pt") > col("__lo")
    val upper = if (upperInclusive) col("__pt") <= col("__hi")
                else col("__pt") < col("__hi")
    p.join(iv, Seq("__bin") ++ extraKeys)
      .filter(lower && upper)
      .drop("__bin", "__pt", "__lo", "__hi")
  }

  /** LEFT-OUTER point-in-interval join: every point row survives — matched
    * points pair with each containing interval (exactly once per pair, as
    * in [[pointInIntervalJoin]]), unmatched points emit one row with the
    * interval columns null. The attribution shape that keeps the
    * unattributed tail ("clicks with no campaign window") without a
    * driver-side identity column: matched = the inner bucketed join;
    * unmatched = a hash LEFT ANTI join of the binned points against the
    * binned intervals on (bin, keys) PLUS the exact residual bounds — a
    * point sharing a bin but failing the bounds still counts as
    * unmatched. Both legs shuffle on the same bin key; no
    * BroadcastNestedLoop anywhere, no point-row dedup assumptions
    * (duplicate point rows each emit their own null row, exactly like a
    * plain left-outer join).
    *
    * Same argument contract and boundary flags as [[pointInIntervalJoin]];
    * `intervals` columns must be disjoint from `points` columns. */
  def pointInIntervalJoinLeft(points: DataFrame, pt: Column,
                              intervals: DataFrame, lo: Column, hi: Column,
                              bucketWidth: Long = 0L,
                              extraKeys: Seq[String] = Nil,
                              maxBinsPerRow: Int = 4096,
                              lowerInclusive: Boolean = true,
                              upperInclusive: Boolean = false): DataFrame = {
    val w = if (bucketWidth > 0) bucketWidth else medianLength(intervals, lo, hi)
    val matched = pointInIntervalJoin(points, pt, intervals, lo, hi,
      w, extraKeys, maxBinsPerRow, lowerInclusive, upperInclusive)
    // anti leg: rename the interval side's temps so the join condition can
    // reference both sides' bins explicitly (a USING anti join would
    // ignore the residual bounds and overcount matches)
    val p = points.withColumn("__pt", pt.cast("long"))
      .withColumn("__bin", binOf(col("__pt"), w))
    val iv = binnedIntervals(intervals, lo, hi, w, maxBinsPerRow,
      upperInclusive, "__rlo", "__rhi", "__rbin")
    val lower = if (lowerInclusive) col("__pt") >= col("__rlo")
                else col("__pt") > col("__rlo")
    val upper = if (upperInclusive) col("__pt") <= col("__rhi")
                else col("__pt") < col("__rhi")
    val keyCond = extraKeys.map(k => p(k) === iv(k))
      .foldLeft(col("__bin") === col("__rbin") && lower && upper)(_ && _)
    // null-extend only the interval-exclusive columns: shared extraKeys
    // columns already live on the points side (as after a USING join)
    val ivCols = intervals.schema.fields.toSeq
      .filterNot(f => extraKeys.contains(f.name))
    val unmatched = p.join(iv, keyCond, "left_anti")
      .drop("__pt", "__bin")
      .select(col("*") +: ivCols.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    matched.unionByName(unmatched)
  }

  /** Interval-overlap join: pairs of intervals with
    * `a.lo < b.hi && b.lo < a.hi` (half-open overlap), same bin-bucketing
    * rewrite as [[pointInIntervalJoin]] (exact integer bins, stats-derived
    * default width over BOTH sides unioned, fail-loud bin cap). Unlike the
    * point case, a pair can share SEVERAL bins; emitting it only from the
    * FIRST shared bin — `max(binOf(a.lo), binOf(b.lo))`, the standard
    * dedup-free trick — keeps each pair exactly once without a distinct
    * pass. Both inputs must have disjoint column names.
    *
    * `inclusive = true` switches to CLOSED-interval overlap
    * (`a.lo <= b.hi && b.lo <= a.hi`) — touching intervals count, and
    * single-point intervals [x, x] participate. Same bin plan: only the
    * degenerate-interval filter, the bin span (a closed hi owns its bin),
    * and the exact residual predicate change. */
  def intervalOverlapJoin(left: DataFrame, leftLo: Column, leftHi: Column,
                          right: DataFrame, rightLo: Column, rightHi: Column,
                          bucketWidth: Long = 0L, extraKeys: Seq[String] = Nil,
                          maxBinsPerRow: Int = 4096,
                          inclusive: Boolean = false): DataFrame = {
    val w =
      if (bucketWidth > 0) bucketWidth
      else medianLength(
        left.select((leftHi.cast("long") - leftLo.cast("long")).as("len"))
          .unionByName(right.select((rightHi.cast("long") - rightLo.cast("long")).as("len"))),
        lit(0L), col("len"))
    def binned(df: DataFrame, lo: Column, hi: Column, p: String): DataFrame =
      binnedIntervals(df, lo, hi, w, maxBinsPerRow, inclusive,
        s"__${p}lo", s"__${p}hi", "__bin")
    val a = binned(left, leftLo, leftHi, "a")
    val b = binned(right, rightLo, rightHi, "b")
    val overlap =
      if (inclusive) col("__alo") <= col("__bhi") && col("__blo") <= col("__ahi")
      else col("__alo") < col("__bhi") && col("__blo") < col("__ahi")
    a.join(b, Seq("__bin") ++ extraKeys)
      .filter(overlap)
      // first-shared-bin guard: exactly-once emission per overlapping pair
      .filter(col("__bin") === greatest(
        binOf(col("__alo"), w), binOf(col("__blo"), w)))
      .drop("__bin", "__alo", "__ahi", "__blo", "__bhi")
  }

  /** Flatten.pCollections (reference: SDK/transforms/Flatten.java:101): bag
    * union, no dedup; unionByName tolerates column order drift. */
  def flatten(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** Set ops — absent as named primitives in the reference (expressible via
    * CoGroupByKey + filter, SURVEY §2.5); named here because Catalyst plans
    * them as a single shuffle with partial aggregation. */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame = a.except(b)
}
