package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closed-loop runner behind `perfbench/run.py`.
  *
  * One client, one process: every key of the workload is called through
  * `graft.SparkEntry.queries`, and the next call starts only after the
  * previous noop write has finished. Each call is timed in three phases,
  * each at a public boundary of the program:
  *   - build: the call `SparkEntry.queries(key)(spark, dir)`, which runs
  *     the operators' construction-time jobs, the analyzer rules and, for
  *     the stream keys, the whole micro-batch drain;
  *   - plan:  forcing `df.queryExecution.executedPlan`;
  *   - exec:  `df.write.format("noop").save()`.
  *
  * With `--trace 1` a SparkListener and a StreamingQueryListener,
  * registered on the session built here, attribute Spark jobs, tasks,
  * stored RDD blocks and micro-batch progress to the pass, call and phase
  * they ran in (through thread-local job properties). Traced and untraced
  * passes interleave, so the run also measures the listeners' overhead.
  *
  * Statistics are left to run.py: this program writes every call's
  * timings, the listener counters, job spans and micro-batch records to
  * `<out>/raw.json`, and each key's warm-up rows plus its DuckDB oracle SQL
  * to `<out>/` for the correctness check.
  */
object PerfBench {
  final case class Opts(keys: Seq[String], data: String, out: String,
      seed: Long, seconds: Double, minPasses: Int, trace: Boolean,
      cores: Int, failKey: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      need("data"), need("out"), need("seed").toLong,
      need("seconds").toDouble, need("min-passes").toInt,
      need("trace") == "1", need("cores").toInt, m.get("fail-key"))
  }

  /** Per (call, phase) counters filled from listener events. */
  final class Counters {
    var jobs, tasks, runMs, gcMs, deserMs, fetchWaitMs = 0L
    var cpuNs, shufW, shufR, scanBytes, scanRows, spill = 0L
    var blocks, blockBytes = 0L
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "deser_ms" -> deserMs, "shuffle_write_bytes" -> shufW,
      "shuffle_read_bytes" -> shufR, "fetch_wait_ms" -> fetchWaitMs,
      "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
      "spill_bytes" -> spill, "blocks" -> blocks, "block_bytes" -> blockBytes)
  }

  final class Tracer extends SparkListener {
    val counters = new ConcurrentHashMap[String, Counters]()
    val jobSpans = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** One record per micro-batch progress event. */
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val stageTag = mutable.Map.empty[Int, String]
    @volatile private var lastTag = "untagged"
    @volatile var lastEventNs = System.nanoTime()
    @volatile var openJobs = 0
    /** The pass the loop is in; progress events carry no job properties. */
    @volatile var pass = 0

    private def tag(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(TagProp)))
        .getOrElse("untagged")
    private def at(t: String) = counters.computeIfAbsent(t, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val t = tag(e.properties)
      lastTag = t; openJobs += 1; at(t).jobs += 1
      jobStart(e.jobId) = (t, e.time)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t, s) =>
        jobSpans += Map("job" -> e.jobId, "tag" -> t, "start_ms" -> s,
          "end_ms" -> e.time) }
      openJobs -= 1
      lastEventNs = System.nanoTime()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stageTag(e.stageInfo.stageId) = tag(e.properties) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = at(stageTag.getOrElse(e.stageId, lastTag))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime; c.deserMs += m.executorDeserializeTime
        c.shufW += m.shuffleWriteMetrics.bytesWritten
        c.shufR += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      lastEventNs = System.nanoTime()
    }
    // Block updates carry no job properties; they are reported while a
    // job runs, and the loop runs one job at a time, so they belong to
    // the call and phase of the last job started.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) {
          val c = at(lastTag)
          c.blocks += 1; c.blockBytes += b.memSize + b.diskSize
        }
        lastEventNs = System.nanoTime()
      }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Tracer.this.synchronized {
          val p = e.progress
          val d = p.durationMs.asScala
          def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
          val ops = p.stateOperators.toSeq
          batches += Map("pass" -> pass, "run" -> p.runId.toString,
            "batch" -> p.batchId,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "trigger_ms" -> ms("triggerExecution"),
            "add_batch_ms" -> ms("addBatch"), "wal_commit_ms" -> ms("walCommit"),
            "commit_offsets_ms" -> ms("commitOffsets"),
            "planning_ms" -> ms("queryPlanning"),
            "state_rows" -> ops.map(_.numRowsTotal).sum,
            "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
          lastEventNs = System.nanoTime()
        }
    }

    /** Waits until the asynchronous listener bus has delivered every job's
      * end and has been quiet for a moment. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (System.nanoTime() < deadline &&
          (openJobs > 0 || System.nanoTime() - lastEventNs < 300e6.toLong))
        Thread.sleep(20)
    }
  }

  val TagProp = "perfbench.tag"

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try run(o) catch { case e: Throwable =>
      System.err.println(s"[perfbench] fatal: $e"); 2 }
    sys.exit(code)
  }

  def run(o: Opts): Int = {
    val queries = graft.SparkEntry.queries
    val unknown = o.keys.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown keys: ${unknown.mkString(",")}")
      return 2
    }
    if (o.keys.isEmpty) { System.err.println("[perfbench] no keys"); return 2 }
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    // epoch-anchored nanosecond clock, so spans line up with the
    // listeners' epoch-millisecond times
    val epoch0 = System.currentTimeMillis() * 1000000L
    val nano0 = System.nanoTime()
    def nowNs(): Long = epoch0 + (System.nanoTime() - nano0)

    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // The stream keys stage their input under /tmp/graft_stream/<app id>
    // and remove it in a shutdown hook; run.py removes it too if this
    // process is killed first.
    Files.writeString(Paths.get(s"${o.out}/app_id"), sc.applicationId)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    def call(key: String): DataFrame =
      if (o.failKey.contains(key))
        throw new IllegalStateException(s"forced failure of $key")
      else queries(key)(spark, o.data)

    // Untimed warm-up pass at the measured scale: JIT, Janino codegen,
    // broadcast machinery and the stream keys' staging warm up here. It
    // also writes each key's rows for the oracle check, so that no extra
    // pass is needed for it.
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    o.keys.foreach { k =>
      val w0 = System.nanoTime()
      try call(k).write.mode("overwrite").parquet(s"${o.out}/rows/$k")
      catch { case e: Throwable =>
        warmErrors(k) = msg(e)
        System.err.println(s"[perfbench] warm-up $k FAILED: ${msg(e)}")
      }
      warmS(k) = (System.nanoTime() - w0) / 1e9
    }
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(
      f"[perfbench] session ready at $sessionS%.2fs, warm at $setupS%.2fs")

    val tracer = new Tracer
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rng = new scala.util.Random(o.seed)
    val loopStart = System.nanoTime()
    var pass = 0
    // A fixed least number of passes, so that every key's median has the
    // same number of calls behind it whatever the speed: the first timed
    // passes are still warming up. With tracing on, pass 0 is untraced
    // and the passes after it run in whole blocks of traced, untraced,
    // untraced, traced, so that the two kinds see the same warm-up and
    // their difference is the tracing overhead.
    def traced(p: Int) = o.trace && p > 0 && (p % 4 == 1 || p % 4 == 0)
    def more = (System.nanoTime() - loopStart) / 1e9 < o.seconds ||
      (if (o.trace) pass < 5 || pass % 4 != 1 else pass < o.minPasses)
    while (more) {
      val t = traced(pass)
      tracer.pass = pass
      if (t) {
        sc.addSparkListener(tracer); spark.streams.addListener(tracer.streams)
      }
      val order = rng.shuffle(o.keys)
      val p0 = nowNs()
      order.foreach { k =>
        val c0 = System.nanoTime(); val cStart = nowNs()
        def tagged(phase: String): Unit =
          sc.setLocalProperty(TagProp, s"$pass|$k|$phase")
        var t1, t2 = c0
        val err = try {
          tagged("build")
          val df = call(k)
          t1 = System.nanoTime(); tagged("plan")
          df.queryExecution.executedPlan
          t2 = System.nanoTime(); tagged("exec")
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] pass $pass $k FAILED: ${msg(e)}")
          Some(msg(e))
        } finally sc.setLocalProperty(TagProp, null)
        val t3 = System.nanoTime()
        calls += Map("pass" -> pass, "traced" -> t, "key" -> k,
          "start_ns" -> cStart, "build_s" -> (t1 - c0) / 1e9,
          "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
          "error" -> err)
      }
      passes += Map("pass" -> pass, "traced" -> t, "start_ns" -> p0,
        "end_ns" -> nowNs())
      if (t) {
        tracer.drain()
        sc.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streams)
      }
      pass += 1
    }
    val peakRssKb = peakRss()

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"${o.out}/oracle_sql.json"),
      json.writeValueAsString(o.keys.map(k => k -> oracle.get(k)).toMap))

    val env = Map(
      "cores" -> o.cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "tmpdir" -> System.getProperty("java.io.tmpdir"),
      "session_tz" -> spark.conf.get("spark.sql.session.timeZone"),
      "jvm_tz" -> java.util.TimeZone.getDefault.getID,
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
    spark.stop()

    val raw = Map(
      "setup_s" -> setupS,
      "peak_rss_kb" -> peakRssKb,
      "env" -> env,
      "warm_errors" -> warmErrors,
      "warm_s" -> warmS,
      "passes" -> passes,
      "calls" -> calls,
      "counters" -> tracer.counters.asScala.map { case (t, c) =>
        t -> c.toMap },
      "jobs" -> tracer.jobSpans,
      "batches" -> tracer.batches)
    Files.writeString(Paths.get(s"${o.out}/raw.json"),
      json.writeValueAsString(raw))
    0
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.take(3).mkString(" | ")

  /** Peak resident set of this process (VmHWM), in KiB. */
  private def peakRss(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(-1L)
}
