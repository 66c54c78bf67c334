package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.CombineFn
import graft.streaming.Triggers
import graft.streaming.Triggers.{AfterCount, TriggerConfig}

/** The benchmark's JVM side. It drives graft only through its public entry
  * points (`SparkEntry.queries`, `GraftSession.builder`, `Triggers`) and
  * reads Spark's public listener APIs; nothing inside the program is
  * instrumented. It writes one raw JSON record (`record.json`);
  * `perfbench/run.py` turns that into metrics and checks the written outputs
  * against DuckDB.
  *
  * Arguments are `key=value`:
  *  - mode=catalog|stream, out=<dir for the record and the check outputs>
  *  - trace=0|1, slots=<task slots>
  *  - catalog: fixture=<table dir>, queries=<comma list, in run order>,
  *    passes=<timed passes>
  *  - stream: input=<dir of one parquet file per micro-batch>, warm_files,
  *    timed_files, window_ms, lateness_ms, delay_ms, early_count, flush_key
  */
object Harness {
  /** Catalog warm-up passes over the workload's own inputs before timing.
    * The first pass runs cold (class loading, JIT, native libraries) at
    * several times a warm pass (README.md, "Warm-up"). */
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = opt("out")
    val slots = opt("slots").toInt
    val trace = opt("trace") == "1"
    Files.createDirectories(Paths.get(out))

    val spark = graft.GraftSession.builder(s"local[$slots]", slots)
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val rec = record()
    rec("slots") = spark.sparkContext.defaultParallelism
    opt("mode") match {
      case "catalog" =>
        new Catalog(spark, opt("fixture"), opt("queries").split(',').toSeq, out, tracer)
          .run(opt("passes").toInt, rec)
      case "stream" =>
        new Stream(spark, opt, out, tracer).run(rec)
    }
    rec("rss_peak_mb") = Probe.rssPeakMb
    rec("heap_peak_used_mb") = Probe.heapPeakUsedMb
    Files.writeString(Paths.get(out, "record.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(rec))
    spark.stop()
  }

  /** A JSON object of the raw record, in insertion order. */
  type Rec = mutable.LinkedHashMap[String, Any]
  def record(): Rec = mutable.LinkedHashMap.empty[String, Any]

  /** Counters read at the edges of the timed region. */
  final case class Mark(wallNs: Long, cpuNs: Long, jitCpuNs: Long, gcMs: Long, jitMs: Long,
                        statTotal: Long, statSteal: Long)
  def mark(): Mark = {
    val (t, s) = Probe.procStat
    Mark(System.nanoTime(), Probe.cpuNs, Probe.jitCpuNs, Probe.gcMs, Probe.jitMs, t, s)
  }
  def region(a: Mark, b: Mark, drainNs: Long): Rec = {
    val o = record()
    o("wall_s") = (b.wallNs - a.wallNs - drainNs) / 1e9
    o("cpu_s") = (b.cpuNs - a.cpuNs) / 1e9
    // the part of cpu_s that is HotSpot compiling, which the fixed warm-up
    // leaves unfinished (README.md, "Warm-up")
    o("jit_cpu_s") = (b.jitCpuNs - a.jitCpuNs) / 1e9
    o("gc_s") = (b.gcMs - a.gcMs) / 1e3
    o("jit_s") = (b.jitMs - a.jitMs) / 1e3
    o("steal_share") =
      if (b.statTotal > a.statTotal) (b.statSteal - a.statSteal).toDouble / (b.statTotal - a.statTotal)
      else 0.0
    o("loadavg_1m") = Probe.loadavg
    o
  }
}

/** Process-level readings: CPU of all threads and of the JIT compiler
  * threads, GC, JIT, peak RSS, host steal. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** CPU of the "C1/C2 CompilerThreadN" threads, from /proc/self/task/<tid>/stat
    * (utime + stime in USER_HZ ticks, which Linux fixes at 100 per second).
    * The JVM runs with a fixed set of compiler threads, so none exits and
    * takes its CPU time with it. */
  def jitCpuNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { d =>
      val comm = lines(s"${d.getPath}/comm").headOption.getOrElse("")
      if (!comm.matches("C[12] CompilerThre.*")) 0L
      else lines(s"${d.getPath}/stat").headOption.map { st =>
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) * 10000000L
      }.getOrElse(0L)
    }.sum
  }
  private def lines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq catch { case NonFatal(_) => Nil }
  /** VmHWM: peak resident set of the JVM, off-heap RocksDB memory included. */
  def rssPeakMb: Double = lines("/proc/self/status").find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  /** Sum of each heap pool's peak use (the pools peak at different times). */
  def heapPeakUsedMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** (all jiffies, steal jiffies) of the host's aggregate cpu line. */
  def procStat: (Long, Long) = lines("/proc/stat").headOption
    .map(_.trim.split("\\s+").drop(1).map(_.toLong))
    .filter(_.length >= 8).map(f => (f.sum, f(7))).getOrElse((0L, 0L))
  def loadavg: Double = lines("/proc/loadavg").headOption
    .map(_.split("\\s+")(0).toDouble).getOrElse(0.0)
}

/** The traced run's three listeners. Every read follows a
  * `ListenerBridge.drain`, which the harness calls outside timed spans. */
final class Tracer(spark: SparkSession) {
  val PhaseKey = "graftbench.phase"
  private val sc = spark.sparkContext

  // written on the listener thread, read after drain on the main thread
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums(k) += v
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val jobs = ArrayBuffer.empty[(String, Long, Long)]
  private val plans = ArrayBuffer.empty[(String, Map[String, Long])]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val ph = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      Tracer.this.synchronized { jobStart(e.jobId) = (e.time, ph) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, ph) => jobs += ((ph, t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { add("stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("task_run_s", m.executorRunTime / 1e3)
        add("task_gc_s", m.jvmGCTime / 1e3)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("spill_mb", m.diskBytesSpilled / 1048576.0)
        add("scan_records", m.inputMetrics.recordsRead.toDouble)
        add("scan_mb", m.inputMetrics.bytesRead / 1048576.0)
      }
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = Tracer.this.synchronized {
      plans += ((f, qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Deliver every queued event; returns the nanoseconds it took. */
  def drain(): Long = {
    val t0 = System.nanoTime(); ListenerBridge.drain(sc); System.nanoTime() - t0
  }
  def phase(p: String): Unit = sc.setLocalProperty(PhaseKey, p)

  /** Running totals of the task-level counters. */
  def execSnapshot(): Map[String, Double] = synchronized {
    Seq("stages", "tasks", "task_cpu_s", "task_run_s", "task_gc_s", "shuffle_write_mb",
      "shuffle_read_mb", "spill_mb", "scan_records", "scan_mb").map(k => k -> sums(k)).toMap
  }
  /** Jobs finished since the last call, as (phase, startMs, endMs). */
  def takeJobs(): Seq[(String, Long, Long)] = synchronized {
    val r = jobs.toSeq; jobs.clear(); r
  }
  def takePlans(): Seq[(String, Map[String, Long])] = synchronized {
    val r = plans.toSeq; plans.clear(); r
  }
  def takeProgress(): Seq[StreamingQueryProgress] = synchronized {
    val r = progress.toSeq; progress.clear(); r
  }
}

object Tracer {
  def diff(b: Map[String, Double], a: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Wall covered by the union of the given [start, end] intervals. */
  def coveredMs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Catalog workloads: one op = one query's construction call followed by a
  * `noop`-sink action. Warm-up runs `Harness.WarmPasses` whole passes over
  * the same list and fixture. */
final class Catalog(spark: SparkSession, fixture: String, names: Seq[String],
                    out: String, tracer: Option[Tracer]) {
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n))
  private var drainNs = 0L
  private def drain(): Unit = tracer.foreach(t => drainNs += t.drain())

  private def op(name: String, fn: (SparkSession, String) => DataFrame): Harness.Rec = {
    val o = Harness.record()
    o("name") = name
    tracer.foreach(_.phase("construct"))
    var construct = 0L; var action = 0L; var ok = true
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, fixture)
      construct = System.nanoTime() - t0
      drain()
      tracer.foreach { t => t.takePlans(); t.phase("action") }
      val t1 = System.nanoTime()
      try df.write.format("noop").mode("overwrite").save()
      finally action = System.nanoTime() - t1
    } catch {
      case NonFatal(e) =>
        ok = false
        if (construct == 0L) construct = System.nanoTime() - t0
        System.err.println(s"[graftbench] $name failed: ${e.getMessage}")
    }
    drain()
    o("construct_s") = construct / 1e9; o("action_s") = action / 1e9; o("ok") = ok
    tracer.foreach { t =>
      val jobs = t.takeJobs()
      val plans = t.takePlans()
      val act = jobs.filter(_._1 == "action")
      o("construct_jobs") = jobs.count(_._1 == "construct")
      o("action_jobs") = act.size
      o("job_wall_s") = Tracer.coveredMs(act.map(j => (j._2, j._3))) / 1e3
      Seq("analysis", "optimization", "planning").foreach { p =>
        o(s"${p}_ms") = plans.map(_._2.getOrElse(p, 0L)).sum
      }
    }
    o
  }

  private def pass(): Harness.Rec = {
    val p = Harness.record()
    tracer.foreach(_ => drain())
    val d0 = drainNs
    val ex0 = tracer.map(_.execSnapshot())
    val a = Harness.mark()
    val ops = fns.map { case (n, f) => op(n, f) }
    val b = Harness.mark()
    p ++= Harness.region(a, b, drainNs - d0)
    p("ops") = ops
    for (t <- tracer; e0 <- ex0) p("exec") = Tracer.diff(t.execSnapshot(), e0)
    p
  }

  def run(passes: Int, rec: Harness.Rec): Unit = {
    rec("warm") = (1 to Harness.WarmPasses).map(_ => pass())
    rec("first_op_epoch_ms") = System.currentTimeMillis()
    val a = Harness.mark()
    val d0 = drainNs
    rec("passes") = (1 to passes).map(_ => pass())
    rec("region") = Harness.region(a, Harness.mark(), drainNs - d0)

    // the outputs checked are those of the timed session and fixture
    val checks = Harness.record()
    fns.foreach { case (n, f) =>
      checks(n) = try {
        f(spark, fixture).write.mode("overwrite").parquet(s"$out/check/$n"); "written"
      } catch { case NonFatal(e) => s"failed: ${e.getMessage}" }
    }
    rec("check_writes") = checks
    val oracle = Harness.record()
    names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(sql => oracle(n) = sql))
    rec("oracle_sql") = oracle
  }
}

/** stream_panes: keyed events through the trigger engine into a parquet file
  * sink. One query runs for the whole run. The harness moves the generated
  * files into the source directory one at a time and waits for each to be
  * processed, so one op is one micro-batch over one file: the first
  * `warm_files` warm up, the next `timed_files` are timed, and the flush
  * files that close every window follow. */
final class Stream(spark: SparkSession, opt: Map[String, String], out: String,
                   tracer: Option[Tracer]) {
  import spark.implicits._
  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("ts", TimestampType), StructField("v", LongType)))

  // a timer fires only in a batch that reads a file, so every batch is one
  // file; the sink log keeps one entry per batch, which is what maps each
  // pane to the micro-batch that wrote it
  spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
  spark.conf.set("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
  spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

  def run(rec: Harness.Rec): Unit = {
    val staged = Paths.get(opt("input"))
    val files = Files.list(staged).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    val warmFiles = opt("warm_files").toInt
    val timedFiles = opt("timed_files").toInt
    val source = Paths.get(out, "stream", "source")
    Files.createDirectories(source)
    val flush = opt("flush_key")
    val events = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(source.toString)
      .withWatermark("ts", s"${opt("delay_ms")} milliseconds")
      .as[(String, Timestamp, Long)]
      // a typed filter stays above the watermark node, so flush events
      // still advance the watermark
      .filter(_._1 != flush)
    val panes = Triggers.triggeredAggregate(
      Triggers.assignFixedWindows(events, opt("window_ms").toLong), Stream.sumFn,
      TriggerConfig(windowSizeMs = opt("window_ms").toLong,
        allowedLatenessMs = opt("lateness_ms").toLong,
        early = AfterCount(opt("early_count").toInt), accumulating = true))
    val t0 = System.nanoTime()
    val q = panes.toDF("k", "wstart", "wend", "value", "pane_index", "timing", "is_final")
      .writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", s"$out/stream/checkpoint")
      .option("path", s"$out/stream/sink")
      .start()
    rec("start_s") = (System.nanoTime() - t0) / 1e9

    var ok = true
    /** Publish one file (a hidden copy renamed into place, so the source
      * never lists a partial file) and wait until its batch has committed. */
    def feed(name: String): Double = {
      val t = System.nanoTime()
      if (ok) try {
        val tmp = source.resolve("." + name)
        Files.copy(staged.resolve(name), tmp)
        Files.move(tmp, source.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      } catch {
        case NonFatal(e) =>
          ok = false
          System.err.println(s"[graftbench] stream failed: ${e.getMessage}")
      }
      (System.nanoTime() - t) / 1e9
    }

    rec("warm_op_s") = files.take(warmFiles).map(feed)
    tracer.foreach { t => t.drain(); t.takeJobs() }
    val ex0 = tracer.map(_.execSnapshot())
    rec("first_op_epoch_ms") = System.currentTimeMillis()
    val a = Harness.mark()
    rec("op_s") = files.slice(warmFiles, warmFiles + timedFiles).map(feed)
    rec("region") = Harness.region(a, Harness.mark(), 0L)
    // task and job figures cover the timed batches only, so they are taken
    // before the flush files are fed
    for (t <- tracer; e0 <- ex0) {
      t.drain()
      rec("exec") = Tracer.diff(t.execSnapshot(), e0)
      val jobs = t.takeJobs()
      rec("jobs") = jobs.size
      rec("job_wall_s") = Tracer.coveredMs(jobs.map(j => (j._2, j._3))) / 1e3
    }
    rec("flush_op_s") = files.drop(warmFiles + timedFiles).map(feed)
    q.stop()
    rec("ok") = ok
    val progress = tracer match {
      case Some(t) => t.drain(); t.takeProgress()
      case None => q.recentProgress.toSeq
    }
    rec("batches") = progress.map(batchRecord)
  }

  private def batchRecord(pr: StreamingQueryProgress): Harness.Rec = {
    val o = Harness.record()
    o("batch_id") = pr.batchId
    o("input_rows") = pr.numInputRows
    val d = pr.durationMs.asScala.map { case (k, v) => k -> v.toLong }
    Seq("triggerExecution", "addBatch", "getBatch", "latestOffset", "queryPlanning",
      "walCommit", "commitOffsets").foreach(k => o(s"${k}_ms") = d.getOrElse(k, 0L))
    val st = pr.stateOperators.toSeq
    o("state_rows") = st.map(_.numRowsTotal).sum
    o("state_mem_bytes") = st.map(_.memoryUsedBytes).sum
    o("state_commit_ms") = st.map(_.commitTimeMs).sum
    o("state_update_ms") = st.map(_.allUpdatesTimeMs).sum
    o("state_remove_ms") = st.map(_.allRemovalsTimeMs).sum
    o
  }
}

object Stream {
  val sumFn: CombineFn[Long, Long, Long] = new CombineFn[Long, Long, Long] {
    def createAccumulator(): Long = 0L
    def addInput(acc: Long, in: Long): Long = acc + in
    def mergeAccumulators(a: Long, b: Long): Long = a + b
    def extractOutput(acc: Long): Long = acc
  }
}
