package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, TimeMode,
  TTLConfig, ValueState}

import graft.streaming.{AsOfStream, Stateful, Triggers}

/** Every transformWithState builder picks its own state store. Neither
  * `GraftSession` nor the fixed-window trigger engine sets a provider, and
  * Spark's HDFS-backed default has no column families, so a builder that
  * relied on a session-wide setting would fail at its first batch. Each
  * builder runs one micro-batch on a fresh session of its own (HDFS
  * default), and its checkpoint must record RocksDB. */
class StateStoreProviderSpec extends SparkSpec {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    assert(s.conf.get(ProviderKey) == HdfsProvider, "a fresh session must start on the default")
    s
  }

  /** Start `out`, feed one batch, wait for it; the providers its checkpoint
    * recorded. */
  private def oneBatch(out: Dataset[_], feed: () => Unit): Seq[String] = {
    val cp = ckpt()
    val q = out.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", cp).start()
    try { feed(); q.processAllAvailable() } finally q.stop()
    checkpointProviders(cp)
  }

  private def keyed(s: SparkSession) = {
    val in = MemoryStream[(String, Timestamp)](s)
    (in, in.toDS().withWatermark("_2", "0 seconds").groupByKey(_._1))
  }

  private def windowed(s: SparkSession) = {
    val in = MemoryStream[(String, Timestamp, Long)](s)
    (in, in.toDF().toDF("k", "t", "v").withWatermark("t", "0 seconds")
      .as[(String, Timestamp, Long)])
  }

  private def asOfInputs(s: SparkSession) =
    (MemoryStream[(String, Timestamp, String)](s), MemoryStream[(String, Timestamp, Long)](s))

  /** (name, build on the given session: the query and its one input batch) */
  private val builders: Seq[(String, SparkSession => (Dataset[_], () => Unit))] = Seq(
    "statefulParDo" -> { s =>
      val (in, grouped) = keyed(s)
      val out = Stateful.statefulParDo[String, (String, Timestamp), (String, Long),
          ValueState[Long]](grouped) {
        h => h.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      } { case (k, rows, n, _, _) =>
        val c = (if (n.exists()) n.get() else 0L) + rows.size
        n.update(c)
        Iterator((k, c))
      }()
      (out, () => in.addData(("a", ts(1000))))
    },
    "groupIntoBatches" -> { s =>
      val (in, grouped) = keyed(s)
      (Stateful.groupIntoBatches(grouped, n = 2), () => in.addData(("a", ts(1000))))
    },
    "triggeredAggregateComposite" -> { s =>
      val (in, events) = windowed(s)
      val out = Triggers.triggeredAggregateComposite(
        Triggers.assignFixedWindows(events, 60000L), collectLongsFn,
        Triggers.AfterWatermarkT, windowSizeMs = 60000L)
      (out, () => in.addData(("a", ts(1000), 1L)))
    },
    "sessionAggregate" -> { s =>
      val (in, events) = windowed(s)
      val out = Triggers.sessionAggregate(
        events.map { case (k, t, v) => (k, t.getTime, v) }, collectLongsFn, gapMs = 10000L)
      (out, () => in.addData(("a", ts(1000), 1L)))
    },
    "asOfJoin" -> { s =>
      val (l, r) = asOfInputs(s)
      (AsOfStream.asOfJoin(l.toDS(), r.toDS()),
        () => { r.addData(("k", ts(1000), 1L)); l.addData(("k", ts(5000), "l")) })
    },
    "asOfJoinForward" -> { s =>
      val (l, r) = asOfInputs(s)
      (AsOfStream.asOfJoinForward(l.toDS(), r.toDS(), toleranceMs = 10000L),
        () => { r.addData(("k", ts(8000), 1L)); l.addData(("k", ts(5000), "l")) })
    },
    "asOfJoinNearest" -> { s =>
      val (l, r) = asOfInputs(s)
      (AsOfStream.asOfJoinNearest(l.toDS(), r.toDS(), toleranceMs = 10000L),
        () => { r.addData(("k", ts(4000), 1L)); l.addData(("k", ts(5000), "l")) })
    })

  test("every transformWithState builder runs a micro-batch on a fresh HDFS-default session") {
    for ((name, build) <- builders) {
      val (out, feed) = build(freshSession())
      val providers = oneBatch(out, feed)
      assert(providers.nonEmpty && providers.forall(_ == RocksDBProvider), s"$name: $providers")
    }
  }

  test("sensitivity: transformWithState that picks no provider fails on the HDFS default") {
    val (in, grouped) = keyed(freshSession())
    val out = grouped.transformWithState(
      new Stateful.GroupIntoBatchesProcessor[String, (String, Timestamp)](2, 0L),
      TimeMode.EventTime(), OutputMode.Append())
    val err = intercept[StreamingQueryException](oneBatch(out, () => in.addData(("a", ts(1000)))))
    assert(err.getMessage.contains("STATE_STORE_MULTIPLE_COLUMN_FAMILIES"), err.getMessage.take(600))
  }
}
