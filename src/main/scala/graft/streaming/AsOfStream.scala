package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming event-time as-of join — the unbounded counterpart of
  * `graft.operators.Joins.asOf` (kdb `aj` / Flink temporal join): for each
  * left event, the matching right event on the same key — the latest at or
  * before it (backward), the earliest at or after it within a tolerance
  * (forward), or the closer of the two (nearest) — emitted once, when the
  * watermark proves the answer final.
  *
  * Not expressible with Spark's built-in stream-stream joins: their interval
  * join emits EVERY right row in a time range, not the latest-before, and a
  * last-value aggregation over it would re-open the result per trigger.
  * The three directions are one `transformWithState` processor
  * ([[AsOfProcessor]]) with two switches, `lookBack` and `lookFwd`. Per key
  * it keeps the pending lefts in a list and the rights in a map keyed by
  * their ts. Every call — input rows or an expired timer — first folds the
  * call's rows into state, then resolves every final left against the
  * ts-sorted right history, then collects garbage:
  *
  *  - **Candidate.** `back` is the last right with rts <= lts (rts < lts
  *    when `allowExactMatches = false`), `fwd` the first right with
  *    rts >= lts (rts > lts when strict). A side counts only if the
  *    direction looks that way and the right lies within `tolMs` (backward
  *    passes `Long.MaxValue`). The closer one wins; a tie goes to `back`
  *    (the pandas merge_asof contract, same as the batch operator).
  *  - **Finality.** A left is final once `watermark >= decisionTs`, with
  *    `decisionTs = lts` when the direction only looks back, and
  *    `lts + min(d*, tol)` (saturating) otherwise, `d*` being the
  *    candidate's distance (infinite when there is none). Spark's late
  *    filter admits a row in a later batch only when ts > this batch's
  *    watermark (`WatermarkSupport`'s less-than-or-equal drop predicate;
  *    StreamingSpec pins it with an equal-ts right in a later batch,
  *    observed dropped). So at `watermark >= lts` every right at or before
  *    lts has arrived or arrives in THIS batch, and this batch's rights are
  *    in the map before any left resolves: `back` is final. Any right still
  *    to come has rts > watermark >= lts + min(d*, tol), so its distance
  *    exceeds both `d*` and the tolerance: `fwd` and the choice are final
  *    too, and since watermark >= lts no equal-ts backward right (the tie
  *    winner) can arrive after a d* = 0 forward match resolves. A left that
  *    arrives already final resolves in the call that brought it.
  *  - **GC.** A backward-looking direction keeps the dominant right — the
  *    latest at or before the watermark — and drops every older one. Any
  *    left still pending or yet to come has no right in (lts, watermark]
  *    (that right would already have made it final), so the dominant right
  *    is its `back`. Strict mode caps the dominant below the earliest
  *    pending left and below the watermark: a left at exactly the
  *    dominant's ts needs the right before it. The cap at the watermark
  *    holds a row that Spark 4.1's admission rule never asks for (a left
  *    at lts == watermark in a later batch is dropped); it keeps the
  *    answer right should that rule ever change to less-than. Forward
  *    drops every right at or before the watermark: no pending or future
  *    left can reach back to it. Lefts resolved in the same call read the
  *    history as it was before GC. State per key is therefore the pending
  *    lefts (at most `tol` past their ts), the rights above the watermark
  *    and one dominant right — the same retention argument as Flink's
  *    temporal-join state cleanup. A key whose rights outnumber the kept
  *    dominant and that has no pending left (so no timer of its own) gets
  *    a `watermark + 1` timer, so a right-only key still drains.
  *
  * The tolerance of forward and nearest is REQUIRED: without it an
  * unmatched left could be matched by a right arbitrarily far in the
  * future, no watermark would prove it final, and it would buffer forever.
  * Batch asOf has no such constraint (the data ends).
  *
  * Late data: Spark's stateful operators DROP input rows older than the
  * global (min-across-sources) watermark before they reach the processor
  * (including, before any batch has run, rows at event time <= epoch 0 —
  * the initial watermark is 0 and the late filter drops ts <= wm; this
  * is Spark-wide behavior for every watermarked operator), so admission is
  * governed entirely by the `lateness` watermark delay, and because the GC
  * is keyed to the SAME global watermark, every admitted row finds the
  * right history it needs still retained. Results are therefore EXACT for
  * every admitted row at any lateness setting. Emitted results are never
  * retracted (append mode).
  *
  * Ties: several right rows at the same (key, ts) keep the LAST processed
  * (map overwrite) — pre-aggregate the right stream per (key, ts) for full
  * determinism, mirroring the batch asOf contract.
  *
  * State variable names are per direction (`pending_left`/`rights`,
  * `pending_left_fwd`/`rights_fwd`, `pending_left_near`/`rights_near`):
  * checkpoints written by earlier builds recorded them, and Spark 4.1.2
  * does not notice a renamed one on restart — it would start empty.
  */
object AsOfStream {

  /** Joined output: right side null-equivalents via Options. */
  final case class AsOfJoined[K, L, R](key: K, leftTs: Long, left: L,
                                       rightTs: Option[Long], right: Option[R])

  /** Tagged union element (side 0 = right, 1 = left). */
  type Tagged[K, L, R] = (K, java.sql.Timestamp, Int, Option[L], Option[R])

  /** |a − b|, saturating at `Long.MaxValue`: ts domains straddling the Long
    * edges (sentinel values) read as "infinitely far", never wrap negative
    * — the same guarantee the batch asOf's distance arithmetic makes. */
  private def dist(a: Long, b: Long): Long = {
    val d = if (a >= b) a - b else b - a
    if (d < 0) Long.MaxValue else d
  }

  /** a + b for b >= 0, saturating at `Long.MaxValue`. */
  private def satAdd(a: Long, b: Long): Long = {
    val s = a + b; if (s < a) Long.MaxValue else s
  }

  /** The as-of state machine for all three directions (see the object
    * doc). `names` are the (pending lefts, rights) state variable names. */
  private class AsOfProcessor[K, L, R](lookBack: Boolean, lookFwd: Boolean,
                                       tolMs: Long, allowExact: Boolean,
                                       names: (String, String))(
      implicit bufEnc: Encoder[(Long, L)], rEnc: Encoder[R])
      extends StatefulProcessor[K, Tagged[K, L, R], AsOfJoined[K, L, R]] {

    @transient private var pendingLeft: ListState[(Long, L)] = _
    @transient private var rights: MapState[Long, R] = _

    override def init(om: OutputMode, tm: TimeMode): Unit = {
      pendingLeft = getHandle.getListState[(Long, L)](names._1, bufEnc, TTLConfig.NONE)
      rights = getHandle.getMapState[Long, R](names._2, Encoders.scalaLong, rEnc, TTLConfig.NONE)
    }

    /** The left's match in the ts-sorted history, or None. */
    private def candidate(lts: Long, hist: Array[(Long, R)]): Option[(Long, R)] = {
      // lo: first rts >= lts; up: first rts > lts (at most one right per ts)
      var lo = 0; var hi = hist.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (hist(mid)._1 < lts) lo = mid + 1 else hi = mid
      }
      val up = if (lo < hist.length && hist(lo)._1 == lts) lo + 1 else lo
      val (b, f) = if (allowExact) (up - 1, lo) else (lo - 1, up)
      val back = Option.when(lookBack && b >= 0 && dist(lts, hist(b)._1) <= tolMs)(hist(b))
      val fwd = Option.when(lookFwd && f < hist.length && dist(hist(f)._1, lts) <= tolMs)(hist(f))
      (back, fwd) match {
        case (Some((brts, _)), Some((frts, _))) =>
          if (dist(lts, brts) <= dist(frts, lts)) back else fwd
        case _ => back.orElse(fwd)
      }
    }

    /** Watermark at which the left's answer is final. */
    private def decisionTs(lts: Long, hist: Array[(Long, R)]): Long =
      if (!lookFwd) lts
      else {
        val dStar = candidate(lts, hist).fold(Long.MaxValue)(c => dist(c._1, lts))
        satAdd(lts, math.min(dStar, tolMs))
      }

    /** Resolve every final left, then collect garbage. */
    private def step(key: K, wm: Long): Iterator[AsOfJoined[K, L, R]] = {
      val hist = rights.iterator().map(p => (p._1, p._2)).toArray.sortBy(_._1)
      val (ripe, still) = pendingLeft.get().toList.partition(l => decisionTs(l._1, hist) <= wm)
      if (ripe.nonEmpty) {
        pendingLeft.clear()
        still.foreach(pendingLeft.appendValue)
      }
      if (still.nonEmpty) getHandle.registerTimer(still.map(l => decisionTs(l._1, hist)).min)
      val wmIdx = hist.lastIndexWhere(_._1 <= wm)
      val dominant =
        if (allowExact) wmIdx
        else math.min(wmIdx, hist.lastIndexWhere(_._1 < (wm +: still.map(_._1)).min))
      val cut = if (lookBack) math.max(dominant, 0) else wmIdx + 1
      hist.take(cut).foreach { case (ts, _) => rights.removeKey(ts) }
      if (still.isEmpty && hist.length - cut > (if (lookBack) 1 else 0))
        getHandle.registerTimer(wm + 1)
      ripe.sortBy(_._1).iterator.map { case (t, l) =>
        val c = candidate(t, hist)
        AsOfJoined(key, t, l, c.map(_._1), c.map(_._2))
      }
    }

    override def handleInputRows(key: K, rows: Iterator[Tagged[K, L, R]],
                                 tv: TimerValues): Iterator[AsOfJoined[K, L, R]] = {
      rows.foreach {
        case (_, ts, 0, _, Some(r)) => rights.updateValue(ts.getTime, r)
        case (_, ts, 1, Some(l), _) => pendingLeft.appendValue((ts.getTime, l))
        case _ => () // malformed tag: drop
      }
      step(key, tv.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AsOfJoined[K, L, R]] =
      step(key, tv.getCurrentWatermarkInMs())
  }

  /** Tag both sides, give each `withWatermark(lateness)` before the union
    * (Spark advances the global watermark to the union's minimum) and run
    * `processor` per key. */
  private def join[K, L, R](left: Dataset[(K, java.sql.Timestamp, L)],
                            right: Dataset[(K, java.sql.Timestamp, R)],
                            lateness: String, processor: AsOfProcessor[K, L, R])(
      implicit tagEnc: Encoder[Tagged[K, L, R]], kEnc: Encoder[K],
      outEnc: Encoder[AsOfJoined[K, L, R]]): Dataset[AsOfJoined[K, L, R]] = {
    Stateful.requireRocksDBStateStore(left.sparkSession)
    val l = left.map { case (k, ts, v) =>
      (k, ts, 1, Some(v): Option[L], None: Option[R]) }.withWatermark("_2", lateness)
    val r = right.map { case (k, ts, v) =>
      (k, ts, 0, None: Option[L], Some(v): Option[R]) }.withWatermark("_2", lateness)
    l.union(r).groupByKey(_._1)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
  }

  private def requireTolerance(toleranceMs: Long, name: String): Unit =
    require(toleranceMs >= 0,
      s"$name requires a finite toleranceMs >= 0: without a bound, an " +
        "unmatched left is never watermark-final and would buffer forever")

  /** BACKWARD streaming as-of: for each left event, the LATEST right with
    * `right.ts <= left.ts` on the same key. Output rows are FINAL (append
    * mode): a left emits when the watermark passes its ts, or immediately
    * when it arrives late.
    *
    * `lateness` is BOTH the admission window and the retention window:
    * delaying the watermark admits laggard rows (they buffer as pending)
    * and, because the dominance GC runs against the same delayed
    * watermark, automatically retains every right those laggards can
    * need — no separate retention knob exists because none is needed. */
  def asOfJoin[K, L, R](left: Dataset[(K, java.sql.Timestamp, L)],
                        right: Dataset[(K, java.sql.Timestamp, R)],
                        lateness: String = "0 seconds")(
      implicit tagEnc: Encoder[Tagged[K, L, R]],
      kEnc: Encoder[K], bufEnc: Encoder[(Long, L)], rEnc: Encoder[R],
      outEnc: Encoder[AsOfJoined[K, L, R]]): Dataset[AsOfJoined[K, L, R]] =
    join(left, right, lateness, new AsOfProcessor[K, L, R](lookBack = true,
      lookFwd = false, tolMs = Long.MaxValue, allowExact = true, ("pending_left", "rights")))

  /** FORWARD streaming as-of: for each left event, the EARLIEST right with
    * `left.ts <= right.ts <= left.ts + toleranceMs` on the same key. The
    * tolerance is REQUIRED (see the object doc). State stays bounded:
    * pending lefts live at most `toleranceMs` past their ts, rights at most
    * until the watermark passes them. */
  def asOfJoinForward[K, L, R](left: Dataset[(K, java.sql.Timestamp, L)],
                               right: Dataset[(K, java.sql.Timestamp, R)],
                               toleranceMs: Long,
                               lateness: String = "0 seconds")(
      implicit tagEnc: Encoder[Tagged[K, L, R]],
      kEnc: Encoder[K], bufEnc: Encoder[(Long, L)], rEnc: Encoder[R],
      outEnc: Encoder[AsOfJoined[K, L, R]]): Dataset[AsOfJoined[K, L, R]] = {
    requireTolerance(toleranceMs, "asOfJoinForward")
    join(left, right, lateness, new AsOfProcessor[K, L, R](lookBack = false,
      lookFwd = true, toleranceMs, allowExact = true, ("pending_left_fwd", "rights_fwd")))
  }

  /** NEAREST streaming as-of: the right with the smallest |rts − lts|
    * within `toleranceMs`, ties to backward — full direction parity with
    * the batch `Joins.asOf`. Tolerance REQUIRED; state = pending lefts
    * (≤ tolerance past their ts) + one dominant right per key + in-flight
    * rights. `allowExactMatches = false` makes both comparisons strict
    * (the pandas flag, matching batch asOf). */
  def asOfJoinNearest[K, L, R](left: Dataset[(K, java.sql.Timestamp, L)],
                               right: Dataset[(K, java.sql.Timestamp, R)],
                               toleranceMs: Long,
                               lateness: String = "0 seconds",
                               allowExactMatches: Boolean = true)(
      implicit tagEnc: Encoder[Tagged[K, L, R]],
      kEnc: Encoder[K], bufEnc: Encoder[(Long, L)], rEnc: Encoder[R],
      outEnc: Encoder[AsOfJoined[K, L, R]]): Dataset[AsOfJoined[K, L, R]] = {
    requireTolerance(toleranceMs, "asOfJoinNearest")
    join(left, right, lateness, new AsOfProcessor[K, L, R](lookBack = true,
      lookFwd = true, toleranceMs, allowExactMatches, ("pending_left_near", "rights_near")))
  }
}
