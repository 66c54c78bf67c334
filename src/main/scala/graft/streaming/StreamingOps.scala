package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.BinaryComparison
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.operators.Windows
import graft.operators.Windows.WindowingStrategy

/** Streaming windowed aggregation: the reference's
  * Window.into + trigger + allowedLateness + accumulation configuration
  * (reference: SDK/transforms/windowing/Window.java:143,
  * WindowingStrategy.java:45) mapped onto Structured Streaming.
  *
  * Semantic mapping (documented narrowings):
  *  - allowedLateness → `withWatermark(ts, lateness)`. Beam's watermark is
  *    per-source with holds (DIRECT/WatermarkManager.java:130); Spark's is
  *    global max(event_time) − delay. Same contract (windows finalize;
  *    too-late data dropped), coarser bookkeeping.
  *  - DefaultTrigger / AfterWatermark.pastEndOfWindow → APPEND mode: one
  *    final pane per window when the watermark passes its end
  *    (reference: AfterWatermark.java:59).
  *  - withEarlyFirings / Repeatedly / accumulatingFiredPanes → UPDATE mode:
  *    a refined pane every micro-batch containing changes — Beam's
  *    accumulating early firings at micro-batch cadence
  *    (reference: AfterWatermarkEarlyAndLate :76, Repeatedly.java:37).
  *  - discarding multi-pane deltas and exact firing cadences ride the
  *    custom trigger engine (graft.streaming.Triggers) instead.
  */
object StreamingOps {

  /** The Spark output mode a WindowingStrategy maps to. */
  def outputModeFor(strategy: WindowingStrategy): String =
    if (strategy.accumulating) "update" else "append"

  /** WithTimestamps + allowedLateness: declare the event-time column and
    * watermark delay (0 lateness = Beam default, WindowingStrategy.java:104). */
  def withEventTimeWatermark(df: DataFrame, ts: Column, lateness: String): DataFrame =
    df.withColumn("__event_time", ts).withWatermark("__event_time", lateness)

  /** Windowed aggregation over a stream. Emits `window struct<start,end>` +
    * key + aggregate columns; run with outputModeFor(strategy). */
  def windowedAggregate(df: DataFrame, strategy: WindowingStrategy, ts: Column,
                        keys: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val withWm = withEventTimeWatermark(df, ts, strategy.allowedLateness)
    val wcol = Windows.windowExpr(strategy.fn, col("__event_time")).map(_.as("window"))
    val groupCols = wcol.toSeq ++ keys
    val out =
      if (groupCols.isEmpty) withWm.agg(aggs.head, aggs.tail: _*)
      else withWm.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
    out
  }

  /** Distinct on a stream (reference: Distinct.java:66 under windowing):
    * exact dedup bounded by the watermark — state for a key is dropped once
    * the watermark passes, the same GC contract as Beam's per-window state. */
  def distinctWithinWatermark(df: DataFrame, ts: Column, lateness: String,
                              idCols: Seq[String]): DataFrame =
    withEventTimeWatermark(df, ts, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static join: the streaming side joins a bounded dimension —
    * Beam's side-input join under a stream (View.asMap read in a DoFn).
    * Catalyst broadcasts the static side per micro-batch. */
  def streamStaticJoin(stream: DataFrame, static: DataFrame, keys: Seq[String],
                       how: String = "inner"): DataFrame =
    stream.join(broadcast(static), keys, how)

  /** Stream-stream join. Beam has no stream-stream join primitive — the
    * reference expresses it as windowed CoGroupByKey
    * (SDK/transforms/join/CoGroupByKey.java:74): both sides grouped per
    * window, state GC'd when the window expires. Here the event-time range
    * bound plays the window's role: Spark keeps a side's row only until the
    * other side's watermark clears the bound, so state is GC'd continuously
    * instead of per-window.
    *
    * Fail-loud contract (the unbounded-state footgun this wrapper exists to
    * prevent): both inputs MUST be streaming; both get their watermark
    * applied HERE (event-time column + delay per side — surfaced as
    * `__left_time` / `__right_time` in the output); and `timeBound` MUST
    * relate the two event-time columns with a range comparison. A join
    * missing any of these would buffer every row forever — the exact
    * failure mode that kills a long-running job, so it throws at build time
    * instead.
    *
    * Key columns are deduplicated using-columns style (`coalesce(l, r)`),
    * so outer-join outputs carry one key column. StreamingSpec asserts
    * that the join's state rows are bounded and evicted at the watermark.
    */
  def streamStreamJoin(left: DataFrame, leftTs: Column, leftDelay: String,
                       right: DataFrame, rightTs: Column, rightDelay: String,
                       keys: Seq[String],
                       timeBound: (Column, Column) => Column,
                       how: String = "inner"): DataFrame = {
    require(left.isStreaming && right.isStreaming,
      "streamStreamJoin requires two streaming inputs; for a bounded side " +
        "use streamStaticJoin (broadcast per micro-batch) instead")
    val l = left.withColumn("__left_time", leftTs)
      .withWatermark("__left_time", leftDelay)
    val r = right.withColumn("__right_time", rightTs)
      .withWatermark("__right_time", rightDelay)
    val bound = timeBound(l("__left_time"), r("__right_time"))
    val keyCond = keys.map(k => l(k) === r(k)).reduceOption(_ && _)
    val cond = keyCond.map(_ && bound).getOrElse(bound)
    val joined = l.join(r, cond, how)
    // Validate on the ANALYZED plan (Spark 4 Columns are lazy ColumnNode
    // wrappers, opaque before analysis): the join condition must contain a
    // range comparison relating the two event-time columns, or Spark cannot
    // GC join state.
    val joinCondition = joined.queryExecution.analyzed.collectFirst {
      case j: Join => j.condition
    }.flatten
    val hasRangeBound = joinCondition.exists(_.collect {
      case b: BinaryComparison => b.references.map(_.name).toSet
    }.exists(ns => ns.contains("__left_time") && ns.contains("__right_time")))
    require(hasRangeBound,
      "streamStreamJoin: timeBound must relate BOTH event-time columns " +
        "(__left_time, __right_time) with a range comparison (>=, <=, " +
        "between) — without a two-sided event-time bound Spark buffers " +
        "every row forever (unbounded state)")
    val keyCols = keys.map(k => coalesce(l(k), r(k)).as(k))
    val lRest = l.columns.filterNot(keys.contains).map(c => l(c))
    val rRest = r.columns.filterNot(keys.contains).map(c => r(c))
    joined.select(keyCols ++ lRest ++ rRest: _*)
  }
}
