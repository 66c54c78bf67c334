package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming._

/** Stateful per-key processing: the reference's DoFn state & timers
  * (reference: SDK/transforms/DoFn.java:414 @StateId, :458 @TimerId,
  * :477 @OnTimer; SDK/state/ValueState.java:29, BagState.java:33,
  * MapState.java:34, Timer.java:45) on Spark's `transformWithState`
  * StatefulProcessor — a 1:1 surface:
  *
  *   Beam ValueState      → ValueState          (getValueState)
  *   Beam BagState        → ListState           (getListState)
  *   Beam SetState        → MapState[T, Unit]   (getMapState)
  *   Beam MapState        → MapState            (getMapState)
  *   Beam CombiningState  → ValueState[ACC] + CombineFn application
  *   Beam event/proc timer→ registerTimer under TimeMode.EventTime /
  *                          ProcessingTime (TimerValues carries both clocks)
  *
  * Beam scopes user state per (key, window); here state is per key — the
  * per-window scoping is recovered by keying on (userKey, window) when
  * windowed state is needed (see Triggers).
  *
  * One processor does not run on transformWithState: the fixed-window
  * pane step (`Triggers.triggeredAggregate`) keeps one record and one
  * pending timeout per (key, window), which is flatMapGroupsWithState's
  * EventTimeTimeout shape. There the timeout lives in the state row, and
  * the step pays none of transformWithState's per-partition, per-batch
  * timer set-up, timer column families or per-timer encoder projections.
  *
  * State store: transformWithState keeps each declared state and its
  * timers in column families, which only the RocksDB provider has. Every
  * builder that plans one calls [[requireRocksDBStateStore]]: the ones
  * here and in `Triggers`, and `AsOfStream`'s one private `join`, which
  * its three as-of builders share. Nothing else picks a provider, so the
  * fixed-window pane step and Spark's own stateful operators stay on the
  * default HDFS-backed store (see `graft.GraftSession`).
  */
object Stateful {

  /** transformWithState requires a state store with column families —
    * RocksDB (bundled with Spark), not the default HDFS-backed provider.
    * Only the transformWithState builders call this, while the query is
    * built; it is the one place that chooses a provider.
    *
    * The setting sticks for the session: a fixed-window
    * `Triggers.triggeredAggregate` built later in the same session starts
    * on RocksDB too, which is correct, only slower. A query that has run
    * once keeps the provider its checkpoint recorded, whatever the
    * session says at restart. */
  def requireRocksDBStateStore(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Batch-mode transformWithState needs the driver's StateStoreCoordinator
    * RPC endpoint, which Spark only creates lazily when a STREAMING query
    * starts (StreamingQueryManager.stateStoreCoordinator). Touch that lazy
    * val so pure-batch stateful ops (Beam's unified batch/stream model) work
    * without a dummy stream. Idempotent. */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    ensureStateStoreCoordinator(spark, "stateStoreCoordinator")

  /** Test seam: the method name is injectable so StatefulPinSpec can drive
    * the REAL missing-member path without depending on a Spark upgrade. */
  private[graft] def ensureStateStoreCoordinator(
      spark: org.apache.spark.sql.SparkSession, memberName: String): Unit =
    try {
      val m = spark.streams.getClass.getDeclaredMethod(memberName)
      m.setAccessible(true)
      m.invoke(spark.streams)
    } catch {
      case e @ (_: NoSuchMethodException | _: IllegalArgumentException) =>
        // fail LOUDLY with the contract, not a bare reflection error: this
        // hook is pinned to Spark 4.1.x's private
        // StreamingQueryManager.stateStoreCoordinator lazy val
        throw new IllegalStateException(
          "Batch-mode stateful operators need the driver's StateStoreCoordinator, " +
            "which graft reaches by reflection on StreamingQueryManager." +
            "stateStoreCoordinator (a private lazy val in Spark 4.1.x). This Spark " +
            s"version (${spark.version}) no longer exposes it - either start any " +
            "streaming query first (which creates the coordinator), or update " +
            "Stateful.ensureStateStoreCoordinator's reflection target.", e)
    }

  /** Beam CombiningState (reference: SDK/state/CombiningState.java:36):
    * a ValueState accumulator folded with a CombineFn. */
  class CombiningState[IN, ACC, OUT](underlying: ValueState[ACC],
                                     fn: graft.functions.CombineFn[IN, ACC, OUT]) {
    def add(in: IN): Unit = {
      val acc = if (underlying.exists()) underlying.get() else fn.createAccumulator()
      underlying.update(fn.addInput(acc, in))
    }
    def read(): OUT =
      fn.extractOutput(if (underlying.exists()) underlying.get() else fn.createAccumulator())
    def isEmpty: Boolean = !underlying.exists()
    def clear(): Unit = underlying.clear()
  }

  /** Stateful ParDo (reference: stateful DoFn, DoFn.java:414-477): the
    * general wrapper. `initStates` declares the key-scoped states (Spark
    * only allows getValueState/getListState/getMapState inside init —
    * Beam's @StateId declarations are likewise static); `process` sees
    * (key, new rows, declared states, handle-for-timers, clock);
    * `onTimer` fires for expired timers. */
  def statefulParDo[K, V, O: Encoder, S](
      grouped: KeyValueGroupedDataset[K, V],
      timeMode: TimeMode = TimeMode.EventTime(),
      outputMode: OutputMode = OutputMode.Append())(
      initStates: StatefulProcessorHandle => S)(
      process: (K, Iterator[V], S, StatefulProcessorHandle, TimerValues) => Iterator[O])(
      onTimer: (K, S, StatefulProcessorHandle, TimerValues, ExpiredTimerInfo) => Iterator[O] =
        (_: K, _: S, _: StatefulProcessorHandle, _: TimerValues, _: ExpiredTimerInfo) => Iterator.empty)
      : Dataset[O] = {
    val proc = new StatefulProcessor[K, V, O] {
      @transient private var states: S = _
      override def init(om: OutputMode, tm: TimeMode): Unit = states = initStates(getHandle)
      override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[O] =
        process(key, rows, states, getHandle, tv)
      override def handleExpiredTimer(key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[O] =
        onTimer(key, states, getHandle, tv, info)
    }
    val ds = grouped.transformWithState(proc, timeMode, outputMode)
    requireRocksDBStateStore(ds.sparkSession)
    ds
  }

  /** GroupIntoBatches, streaming form (reference:
    * SDK/transforms/GroupIntoBatches.java:79 — buffer per key in BagState,
    * flush on size n or on the window-expiry event-time timer). Here:
    * ListState buffer, flush on size n; a per-key event-time timer at
    * watermark + `flushDelayMs` flushes stragglers.
    *
    * State-write batching: Beam's contract buffers per key in BagState
    * but nowhere requires one state op per ELEMENT — and per-row RocksDB
    * traffic was this operator's entire linear constant (top of the r14
    * sf10 profile). Rows therefore buffer in MEMORY within one
    * handleInputRows call (bounded by n — every n-th row flushes — plus
    * whatever Spark already holds for the call), full batches emit
    * straight from memory (the stored-prefix read happens only when a
    * previous call left a partial batch), and state sees at most ONE
    * appendList + one counter write per (key, call). */
  class GroupIntoBatchesProcessor[K, V](n: Int, flushDelayMs: Long)(
      implicit vEnc: Encoder[V], kvListEnc: Encoder[(K, List[V])],
      vTag: scala.reflect.ClassTag[V])
      extends StatefulProcessor[K, V, (K, List[V])] {
    @transient private var buf: ListState[V] = _
    @transient private var cnt: ValueState[Long] = _
    @transient private var eventTime: Boolean = true

    override def init(om: OutputMode, tm: TimeMode): Unit = {
      buf = getHandle.getListState[V]("buf", vEnc, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
      eventTime = tm != TimeMode.ProcessingTime()
    }

    override def handleInputRows(key: K, rows: Iterator[V], tv: TimerValues): Iterator[(K, List[V])] = {
      var out = List.empty[(K, List[V])]
      // stored-prefix length from the PREVIOUS call (0 on a fresh key);
      // rows of THIS call accumulate in `mem` until a flush or the end
      var stored = if (cnt.exists()) cnt.get() else 0L
      val mem = scala.collection.mutable.ArrayBuffer.empty[V]
      rows.foreach { v =>
        mem += v
        if (stored + mem.length >= n) {
          // batch = stored prefix (state read only when one exists) +
          // this call's rows, in arrival order — identical contents and
          // order to the per-row-append formulation
          val batch =
            if (stored > 0) buf.get().toList ++ mem.toList else mem.toList
          out = (key, batch) :: out
          if (stored > 0) { buf.clear(); stored = 0 }
          mem.clear()
        }
      }
      if (mem.nonEmpty) buf.appendList(mem.toArray)
      val pending = stored + mem.length
      if (pending > 0) {
        cnt.update(pending)
        // straggler-flush timer: fires once the clock (watermark in
        // EventTime mode — Beam's window-expiry timer,
        // GroupIntoBatches.java:79) advances past now + flushDelayMs
        val now = if (eventTime) tv.getCurrentWatermarkInMs()
                  else tv.getCurrentProcessingTimeInMs()
        getHandle.registerTimer(now + flushDelayMs)
      } else {
        // nothing buffered: DELETE the count row rather than writing 0 —
        // an update(0) pins one state row per key forever (a dead key
        // never evicts), which is unbounded state growth over the key
        // cardinality's lifetime. Caught by the r18 stream benchmark's
        // bounded-state assertion (BASELINE.md): 2000 quiescent rows where
        // the documented envelope is 0.
        cnt.clear()
      }
      out.reverseIterator
    }

    override def handleExpiredTimer(key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[(K, List[V])] = {
      val pending = if (cnt.exists()) cnt.get() else 0L
      if (pending > 0) {
        // materialize the batch (toList is eager) BEFORE clearing, then
        // DELETE both states — update(0) here pinned one quiescent state
        // row per key forever; see the handleInputRows note
        val batch = buf.get().toList
        buf.clear(); cnt.clear()
        Iterator((key, batch))
      } else {
        cnt.clear()
        Iterator.empty
      }
    }
  }

  /** GroupIntoBatches.ofSize for streams: emits (key, batch) rows. */
  def groupIntoBatches[K, V](grouped: KeyValueGroupedDataset[K, V], n: Int,
                             flushDelayMs: Long = 0L,
                             timeMode: TimeMode = TimeMode.EventTime())(
      implicit vEnc: Encoder[V], outEnc: Encoder[(K, List[V])],
      vTag: scala.reflect.ClassTag[V]): Dataset[(K, List[V])] = {
    val ds = grouped.transformWithState(
      new GroupIntoBatchesProcessor[K, V](n, flushDelayMs), timeMode, OutputMode.Append())
    requireRocksDBStateStore(ds.sparkSession)
    ensureStateStoreCoordinator(ds.sparkSession)
    ds
  }
}
