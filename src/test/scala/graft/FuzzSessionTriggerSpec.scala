package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Triggers

/** Randomized differential for the TRIGGER ENGINE's merging-session path
  * (Triggers.sessionAggregate → Triggers.PaneProcessor): the scenario and
  * transcript suites pin hand-picked shapes, but the pane processor is
  * the most intricate custom state machine in the tree — this fuzzer
  * feeds random corpora through it and compares the final panes against
  * an INDEPENDENT plain-Scala session computation (sort per key, split
  * where the gap closes, aggregate) — the same
  * independent-implementation discipline as the as-of and windowed-agg
  * stream↔batch fuzzers.
  *
  * Admission and closure safety by construction: events are fed in
  * globally time-sorted chunks (shuffled within a chunk), so the
  * watermark after chunk j is ≤ every unseen row's ts — nothing is
  * dropped at admission, and no session can close before its last row
  * arrives (a row that would extend an already-fired session would need
  * ts < the fired end ≤ watermark, impossible under sorted chunking).
  * Hence every session yields exactly ONE on-time final pane, and the
  * stream's output must equal the batch expectation EXACTLY — window
  * bounds, keys, and the full sorted value bag.
  */
class FuzzSessionTriggerSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = 20260814L
  private val N = sys.env.getOrElse("SPARK_GRAFT_SESSFUZZ_N", "4").toInt

  test(s"$N random session corpora: trigger-engine finals == independent batch sessions (seed=$Seed)") {
    val rnd = new scala.util.Random(Seed)
    (0 until N).foreach { trial =>
      val gapSec = 20L + rnd.nextInt(70)
      val nKeys = 2 + rnd.nextInt(3)
      val events: Seq[(String, Long, Long)] = (0 until nKeys).flatMap { ki =>
        val n = 5 + rnd.nextInt(20)
        (0 until n).map { _ =>
          (s"k$ki", rnd.nextInt(600).toLong, rnd.nextInt(100).toLong)
        }
      }

      // independent expectation: per key, sort by ts, break where the
      // next ts no longer intersects [last, last+gap) (>= gap — abutting
      // half-open windows must NOT merge), aggregate the value bag
      val expected: Set[(String, Long, Long, List[Long])] =
        events.groupBy(_._1).flatMap { case (k, evs) =>
          val sorted = evs.map(e => (e._2, e._3)).sortBy(e => (e._1, e._2))
          val out = scala.collection.mutable.ListBuffer[(String, Long, Long, List[Long])]()
          var cur = List.empty[(Long, Long)]
          def flush(): Unit = if (cur.nonEmpty)
            out += ((k, cur.head._1, cur.last._1 + gapSec, cur.map(_._2).sorted))
          sorted.foreach { e =>
            if (cur.nonEmpty && e._1 - cur.last._1 >= gapSec) { flush(); cur = Nil }
            cur = cur :+ e
          }
          flush()
          out
        }.toSet

      val input = MemoryStream[(String, Timestamp, Long)](spark)
      val evDs = input.toDF().toDF("k", "t", "v")
        .withWatermark("t", "0 seconds")
        .selectExpr("k", "CAST(unix_millis(t) AS LONG) AS ts", "v")
        .as[(String, Long, Long)]
      val panes = Triggers.sessionAggregate(evDs, collectLongsFn,
        gapMs = gapSec * 1000L)
      val name = s"fuzz_sess_$trial"
      val q = panes
        .toDF("k", "wstart", "wend", "values", "pane_index", "timing", "is_final")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      try {
        val sorted = events.sortBy(_._2)
        val nChunks = 3 + rnd.nextInt(3)
        val chunkSize = math.max(1, sorted.size / nChunks)
        sorted.grouped(chunkSize).foreach { chunk =>
          input.addData(rnd.shuffle(chunk).map { case (k, tsSec, v) =>
            (k, new Timestamp(tsSec * 1000), v)
          })
          q.processAllAvailable()
        }
        input.addData(("__wm", new Timestamp(100000L * 1000), 0L))
        q.processAllAvailable()
        val got = spark.table(name).collect()
          .filter(_.getAs[String]("k") != "__wm")
          .map(r => (r.getAs[String]("k"), r.getAs[Long]("wstart") / 1000,
            r.getAs[Long]("wend") / 1000, r.getSeq[Long](3).toList))
          .toSeq
        val show = (s: Iterable[(String, Long, Long, List[Long])]) =>
          s.toSeq.sortBy(t => (t._1, t._2)).mkString("; ")
        assert(got.size == got.toSet.size && got.toSet == expected,
          s"trial $trial (gap=$gapSec, keys=$nKeys, n=${events.size}): " +
            s"stream ${show(got)} vs batch ${show(expected)}")
      } finally q.stop()
      spark.catalog.dropTempView(name)
    }
  }
}
