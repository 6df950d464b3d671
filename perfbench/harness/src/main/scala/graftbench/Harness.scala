package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, ResultCaches, SparkEntry}

/** Closed-loop benchmark client: one query at a time on `local[cpus]`.
  *
  * Every query goes through the engine's public surface only:
  * `SparkEntry.queries(name)(spark, dir)` (construct), then the same
  * `QueryExecution`'s `analyzed`, `optimizedPlan` and `executedPlan`, then a
  * drain that collects every output column of that plan. The run is
  *
  *  1. `--setups` set-ups: session start, fixture registration, warm-up
  *     queries;
  *  2. one untimed warm-up pass over the workload, which also writes each
  *     query's rows as JSON for the oracle comparison; every later
  *     execution must reproduce their digest;
  *  3. timed passes until `--seconds` have elapsed (every pass is reported);
  *  4. with `--trace 1`, timed passes again with a SparkListener and a
  *     StreamingQueryListener registered, recording spans and events, then
  *     untraced passes once more: the tracing overhead compares these two;
  *     the later untraced passes are at least as warm as the traced ones.
  *
  * Raw numbers go to `<out>/result.json`; `run.py` does the arithmetic.
  *
  * Usage: Harness <dataDir> <outDir> <seconds> <trace 0|1> <setups> <cpus>
  *        <warm-up query,...> <query,...>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, seconds, trace, setups, cpus, warmups, names) = args
    val queries = names.split(",").toSeq
    new File(outDir).mkdirs()
    val clock = new Clock
    val run = new Runner(dataDir, outDir, cpus.toInt, queries, clock)
    val result = mutable.LinkedHashMap[String, Any]()

    result("setup_s") = (1 to setups.toInt).map { i =>
      if (i > 1) run.stop()
      val t0 = System.nanoTime()
      run.start()
      warmups.split(",").foreach(q => run.execute(q, collectOnly = true))
      (System.nanoTime() - t0) / 1e9
    }
    writeOracles(queries, s"$outDir/oracle_sql.json")
    result("warm_pass") = run.timedPasses(0, dump = true).head
    result("passes") = run.timedPasses(seconds.toDouble)
    if (trace == "1") {
      val rec = new Recorder(clock)
      run.session.sparkContext.addSparkListener(rec.sparkListener)
      run.session.streams.addListener(rec.streamListener)
      run.recorder = Some(rec)
      result("traced_passes") = run.timedPasses(seconds.toDouble)
      rec.settle()
      run.recorder = None
      run.session.sparkContext.removeSparkListener(rec.sparkListener)
      run.session.streams.removeListener(rec.streamListener)
      result("trace") = rec.toJson
      result("untraced_passes") = run.timedPasses(seconds.toDouble)
    }
    result("peak_rss_mb") = peakRssMb()
    // written under another name and renamed, so a reader never sees half
    Json.writeFile(s"$outDir/result.part", result)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$outDir/result.part"),
      java.nio.file.Paths.get(s"$outDir/result.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    run.stop()
  }

  private def writeOracles(queries: Seq[String], path: String): Unit = {
    val oracles = SparkEntry.oracleSql
    Json.writeFile(path, queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)
  }

  /** High-water resident set size of this process (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally src.close()
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, the time base
  * shared by spans and listener events. */
final class Clock {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One execution of one query: phase boundaries in epoch ms, and the
  * process CPU time spent between the first and the last. */
final case class Execution(query: String, pass: Int, marks: Seq[Double], cpuS: Double,
                           rows: Long, digest: String, error: Option[String],
                           planNodes: Int, exchanges: Int) {
  def seconds: Double = (marks.last - marks.head) / 1000
  def toJson: Map[String, Any] = Map(
    "query" -> query, "pass" -> pass, "cpu_s" -> cpuS, "rows" -> rows,
    "digest" -> digest, "error" -> error.orNull, "seconds" -> seconds,
    "plan_nodes" -> planNodes, "exchanges" -> exchanges)
}

final class Runner(dataDir: String, outDir: String, cpus: Int,
                   queries: Seq[String], clock: Clock) {
  var session: SparkSession = _
  var recorder: Option[Recorder] = None
  private var passNo = 0

  /** A query still running after this long has its jobs cancelled and its
    * streaming queries stopped, so it fails on its own instead of stalling
    * the run. */
  private val deadlineS = 60L
  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  def start(): Unit = {
    session = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerAll(session, dataDir)
  }

  def stop(): Unit = {
    GraftSession.shutdown(session)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A fatal task error stops the SparkContext in local mode; rebuild it so
    * one poisoned query costs one error, not every later one. */
  private def alive(): SparkSession = {
    if (session.sparkContext.isStopped) {
      stop(); start()
      recorder.foreach { r =>
        session.sparkContext.addSparkListener(r.sparkListener)
        session.streams.addListener(r.streamListener)
      }
    }
    session
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Whole passes while fewer than `seconds` have elapsed, at least one. A
    * pass's time and CPU are the sums over its query executions, so the
    * harness's own work between queries (digests, dumps) is not in them. */
  def timedPasses(seconds: Double, dump: Boolean = false): Seq[Map[String, Any]] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val gc0 = gc.map(_.getCollectionTime).sum
      val jit0 = jit.getTotalCompilationTime
      val start = clock.nowMs
      passNo += 1
      val execs = queries.map(q => execute(q, dump))
      out += Map(
        "pass" -> passNo, "start_ms" -> start, "end_ms" -> clock.nowMs,
        "seconds" -> execs.map(_.seconds).sum,
        "cpu_s" -> execs.map(_.cpuS).sum,
        "gc_s" -> (gc.map(_.getCollectionTime).sum - gc0) / 1000.0,
        "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1000.0,
        "executions" -> execs.map(_.toJson))
    }
    out.toSeq
  }

  /** Construct, plan and drain one query; digest and (optionally) dump its
    * rows after the clock has stopped. */
  def execute(name: String, dump: Boolean = false,
              collectOnly: Boolean = false): Execution = {
    val sp = alive()
    // the eager pipeline rows leave their own result persisted; without this
    // a second pass would read the first pass's cached answer
    ResultCaches.dropAll()
    val cpu0 = os.getProcessCpuTime
    val marks = mutable.ArrayBuffer(clock.nowMs)
    val timer = watchdog.schedule((() => {
      System.err.println(s"[perfbench] $name passed its ${deadlineS}s deadline; cancelling")
      sp.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
      sp.sparkContext.cancelAllJobs()
    }): Runnable, deadlineS, java.util.concurrent.TimeUnit.SECONDS)
    try {
      val df = SparkEntry.queries(name)(sp, dataDir)
      marks += clock.nowMs
      val qe = df.queryExecution
      qe.analyzed; marks += clock.nowMs
      qe.optimizedPlan; marks += clock.nowMs
      qe.executedPlan; marks += clock.nowMs
      // Dataset.collect runs `qe.executedPlan` of this same QueryExecution,
      // so nothing is planned twice, and it materialises every column
      val rows = df.collect()
      marks += clock.nowMs
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      if (collectOnly) return Execution(name, passNo, marks.toSeq, cpuS, rows.length, "", None, 0, 0)
      recorder.foreach(_.query(name, passNo, marks.toSeq))
      if (dump) {
        new File(s"$outDir/rows").mkdirs()
        Json.writeFile(s"$outDir/rows/$name.json",
          Map("columns" -> df.schema.fieldNames.toSeq, "rows" -> rows.toSeq))
      }
      val (nodes, exchanges) = PlanShape(qe.executedPlan)
      System.err.println(f"[perfbench] pass $passNo $name ${(marks.last - marks.head) / 1000}%.3f s")
      Execution(name, passNo, marks.toSeq, cpuS, rows.length, Digest(rows), None, nodes, exchanges)
    } catch {
      case e: Throwable =>
        marks += clock.nowMs
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        System.err.println(s"[perfbench] $name failed: $msg")
        Execution(name, passNo, Seq(marks.head, marks.last), (os.getProcessCpuTime - cpu0) / 1e9,
          0, "", Some(msg), 0, 0)
    } finally timer.cancel(false)
  }
}

/** Node and exchange counts of the plan that ran, looking through adaptive
  * query stages to the final plan. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.size, nodes.count {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    })
  }
}

/** Order-independent digest of a result: row count plus the sum of per-row
  * hashes. Floating-point values are rounded to 9 significant digits first,
  * so summation order inside a parallel aggregate cannot change it. */
object Digest {
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("0x", ".", "")
    case x => x.toString
  }
  def apply(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      sum += scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong * 0x9E3779B97F4A7C15L
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }
}

/** Listener-fed event log of a traced run. Spans and events stay in memory
  * and are written once, at the end. */
final class Recorder(clock: Clock) {
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Double]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextId = 0
  private val phases = Seq("construct", "catalyst.analysis", "catalyst.optimize",
    "catalyst.physical", "drain")

  /** A query's root span and one child per phase; all share the query id. */
  def query(name: String, pass: Int, marks: Seq[Double]): Unit = synchronized {
    nextId += 1
    val qid = nextId
    spans += Map("id" -> s"$qid", "parent" -> null, "query_id" -> qid, "name" -> "query",
      "query" -> name, "pass" -> pass, "start_ms" -> marks.head, "end_ms" -> marks.last)
    phases.zipWithIndex.foreach { case (ph, i) =>
      spans += Map("id" -> s"$qid.$ph", "parent" -> s"$qid", "query_id" -> qid, "name" -> ph,
        "query" -> name, "pass" -> pass, "start_ms" -> marks(i), "end_ms" -> marks(i + 1))
    }
  }

  private def stage(id: Int, attempt: Int) =
    stages.getOrElseUpdate((id, attempt), mutable.Map("stage_id" -> id.toDouble,
      "tasks" -> 0, "failed_tasks" -> 0, "task_s" -> 0, "run_s" -> 0, "cpu_s" -> 0,
      "deser_s" -> 0, "gc_s" -> 0, "sched_wait_s" -> 0, "shuffle_read_mb" -> 0,
      "shuffle_write_mb" -> 0, "spill_mb" -> 0, "peak_exec_mem_mb" -> 0,
      "input_rows" -> 0, "written_mb" -> 0))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      jobs(e.jobId) = mutable.Map("job_id" -> e.jobId, "start_ms" -> e.time.toDouble,
        "stage_ids" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time.toDouble
        j("succeeded") = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val i = e.stageInfo
        val s = stage(i.stageId, i.attemptNumber())
        s("start_ms") = i.submissionTime.getOrElse(0L).toDouble
        s("end_ms") = i.completionTime.getOrElse(0L).toDouble
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      val m = e.taskMetrics
      def add(k: String, v: Double): Unit = s(k) = s(k) + v
      add("tasks", 1)
      if (!info.successful) add("failed_tasks", 1)
      add("task_s", info.duration / 1000.0)
      s("first_launch_ms") = math.min(s.getOrElse("first_launch_ms", Double.MaxValue),
        info.launchTime.toDouble)
      if (m != null) {
        add("run_s", m.executorRunTime / 1000.0)
        add("cpu_s", m.executorCpuTime / 1e9)
        add("deser_s", m.executorDeserializeTime / 1000.0)
        add("gc_s", m.jvmGCTime / 1000.0)
        // Spark UI's scheduler delay: task wall time not spent deserialising,
        // running, serialising the result or fetching it
        val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        add("sched_wait_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch) / 1000.0)
        add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        s("peak_exec_mem_mb") = math.max(s("peak_exec_mem_mb"), m.peakExecutionMemory / 1048576.0)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add("written_mb", m.outputMetrics.bytesWritten / 1048576.0)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        batches += Map(
          "run_id" -> p.runId.toString, "batch_id" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
      }
  }

  /** Wait until the listener bus has gone quiet: events are delivered
    * asynchronously after the action that caused them returns. */
  def settle(): Unit = {
    def size = synchronized(jobs.size + stages.size + batches.size)
    var last = -1
    while (last != size) { last = size; Thread.sleep(500) }
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "spans" -> spans.toSeq,
    "jobs" -> jobs.values.map(_.toMap).toSeq,
    "stages" -> stages.values.map(_.toMap).toSeq,
    "batches" -> batches.toSeq))
}

/** Minimal JSON writer for maps, sequences, numbers, strings and result
  * rows. Timestamps render as `yyyy-MM-dd HH:mm:ss.SSSSSS` (the JVM runs in
  * UTC), dates as `yyyy-MM-dd`. */
object Json {
  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => render(r.toSeq)
    case t: java.sql.Timestamp => render(t.toLocalDateTime.format(tsFormat))
    case t: java.time.LocalDateTime => render(t.format(tsFormat))
    case t: java.time.Instant => render(t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFormat))
    case d: java.sql.Date => render(d.toLocalDate.toString)
    case d: java.time.LocalDate => render(d.toString)
    case a: Array[_] => render(a.toSeq)
    case x => render(x.toString)
  }
  def writeFile(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(render(v)) finally w.close()
  }
}
