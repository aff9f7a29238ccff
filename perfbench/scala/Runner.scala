package perfbench

import java.lang.management.ManagementFactory
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` writes a plan file (data dir,
  * output dir, seconds, trace flag, cores, client count, the warmup
  * order and the query order of every pass) and launches
  * `Runner <plan> <out.json>`. The runner
  *   1. probes the box (load average, a fixed CPU spin),
  *   2. builds the program's own session (`Tables.localSession`),
  *   3. runs two untimed warmup passes; the first writes every query's
  *      result to parquet for the oracle check and absorbs learn-once
  *      artifact builds,
  *   4. runs the timed window: one closed-loop thread per client; a
  *      free client takes the next query in pass order until `seconds`
  *      have elapsed, and the queries still running then are waited
  *      for,
  *   5. writes every raw record (queries, spans, jobs) as one JSON
  *      file. `run.py` derives all metrics from it.
  * All times are seconds since JVM start.
  */
object Runner {

  /** Local property naming the layer a job was launched from. */
  val PhaseKey = "perfbench.phase"

  final case class Plan(data: String, outDir: String, seconds: Int,
      trace: Boolean, cores: Int, clients: Int, warmup: Seq[String],
      passes: Seq[Seq[String]])

  final case class Span(name: String, parent: String, start: Double,
      end: Double)

  /** One query run; `index` is its place in the dispatch order. */
  final case class Exec(client: Int, index: Int, name: String, group: String,
      start: Double, end: Double, error: Option[String], spans: Seq[Span])

  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  private val baseNano = System.nanoTime()
  private val baseSec = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Seconds since JVM start, from the monotonic clock. */
  def now(): Double = baseSec + (System.nanoTime() - baseNano) / 1e9

  /** Seconds since JVM start for a Spark event timestamp (epoch ms). */
  def fromEpochMs(ms: Long): Double = (ms - jvmStartMs) / 1e3

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
    val kvs = lines.map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    val kv = kvs.toMap
    def list(v: String) = v.split(",").toSeq
    Plan(kv("data"), kv("out"), kv("seconds").toInt, kv("trace") == "1",
      kv("cores").toInt, kv("clients").toInt, list(kv("warmup")),
      kvs.collect { case ("pass", v) => list(v) })
  }

  /** Hands out the passes' queries, in order, to whichever client asks
    * first, until the passes run out or `deadline` has passed. A query
    * is not handed out while a run of it is still going, as when each
    * query belongs to one client: two overlapping runs of
    * q37_jdbc_source overwrite the same Derby table, and one of them
    * fails.
    */
  final class Dispatcher(passes: Seq[Seq[String]], deadline: Double) {
    private val it = passes.iterator.flatten.zipWithIndex
    private val running = scala.collection.mutable.Set[String]()
    def next(): Option[(String, Int)] = synchronized {
      if (now() < deadline && it.hasNext) {
        val n = it.next()
        while (running(n._1)) wait()
        running += n._1
        if (now() < deadline) Some(n) else None
      } else None
    }
    def finished(name: String): Unit = synchronized {
      running -= name
      notifyAll()
    }
  }

  /** Runs one query with its own job group. With `trace` the build,
    * planner (analyze, optimize, physical) and sink calls each get a
    * span, and each phase tags the jobs it launches via [[PhaseKey]].
    */
  def runQuery(spark: SparkSession, client: Int, index: Int, name: String,
      group: String, trace: Boolean,
      build: SparkSession => DataFrame, sink: DataFrame => Unit): Exec = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val spans = ArrayBuffer[Span]()
    def phase[T](span: String, parent: String)(body: => T): T =
      if (!trace) body
      else {
        if (parent == "query") sc.setLocalProperty(PhaseKey, span)
        val t0 = now()
        val r = body
        spans += Span(span, parent, t0, now())
        r
      }
    val start = now()
    val error =
      try {
        val df = phase("build", "query")(build(spark))
        if (trace) phase("planner", "query") {
          val qe = df.queryExecution
          phase("planner.analyze", "planner")(qe.analyzed)
          phase("planner.optimize", "planner")(qe.optimizedPlan)
          phase("planner.physical", "planner")(qe.executedPlan)
        }
        phase("exec", "query")(sink(df))
        None
      } catch {
        case NonFatal(e) =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally {
        sc.setLocalProperty(PhaseKey, null)
        sc.clearJobGroup()
      }
    Exec(client, index, name, group, start, now(), error, spans.toSeq)
  }

  /** Runs `clients` closed-loop threads that each take the next query
    * from `dispatch` once their previous one has returned.
    */
  def clientLoop(clients: Int, dispatch: Dispatcher)(
      run: (Int, Int, String) => Exec): Seq[Exec] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var n = dispatch.next()
        while (n.isDefined) {
          done.add(run(c, n.get._2, n.get._1))
          dispatch.finished(n.get._1)
          n = dispatch.next()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    done.asScala.toSeq.sortBy(_.start)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-job record, filled from the listener bus thread. */
  final class Job(val id: Int, val group: String, val phase: String,
      val site: String, val start: Double) {
    @volatile var end: Double = -1
    var stages, tasks = 0
    var runMs, gcMs, fetchWaitMs, queueMs, cpuNs = 0L
    var shuffleReadB, shuffleWriteB, spillB = 0L
  }

  /** Attributes every job, stage and task to the job group and phase
    * that were set on the thread that launched the job. Only public
    * `SparkListener` events are used.
    */
  final class JobLog extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
    @volatile private var lastEventNano: Long = System.nanoTime()

    private def touch(): Unit = lastEventNano = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      // the result stage is named after the job's call site, e.g.
      // "parquet at Tables.scala:<line>"
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      jobs.put(e.jobId, new Job(e.jobId, prop("spark.jobGroup.id"),
        prop(PhaseKey), site.getOrElse(""), fromEpochMs(e.time)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      touch()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      touch()
    }

    private def jobOf(stageId: Int): Option[Job] =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
      touch()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      jobOf(e.stageId).foreach { j =>
        j.tasks += 1
        Option(stageSubmitMs.get(e.stageId)).foreach { s =>
          j.queueMs += math.max(0L, e.taskInfo.launchTime - s)
        }
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.diskBytesSpilled
        }
      }
      touch()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = fromEpochMs(e.time))
      touch()
    }

    /** Waits until every started job has ended and the bus has been
      * quiet for 300 ms (at most `timeoutMs`).
      */
    def drain(timeoutMs: Long = 10000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def quiet = System.nanoTime() - lastEventNano > 300000000L &&
        jobs.values.asScala.forall(_.end >= 0)
      while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
  }

  def execJson(e: Exec): String = {
    import Json._
    obj("client" -> num(e.client), "index" -> num(e.index),
      "name" -> str(e.name),
      "group" -> str(e.group), "start" -> num(e.start), "end" -> num(e.end),
      "error" -> e.error.map(str).getOrElse("null"),
      "spans" -> arr(e.spans.map(s => obj("name" -> str(s.name),
        "parent" -> str(s.parent), "start" -> num(s.start),
        "end" -> num(s.end)))))
  }

  def jobsJson(log: JobLog): String = {
    import Json._
    arr(log.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      obj("id" -> num(j.id), "group" -> str(j.group), "phase" -> str(j.phase),
        "site" -> str(j.site), "start" -> num(j.start), "end" -> num(j.end),
        "stages" -> num(j.stages), "tasks" -> num(j.tasks),
        "run_s" -> num(j.runMs / 1e3), "cpu_s" -> num(j.cpuNs / 1e9),
        "gc_s" -> num(j.gcMs / 1e3), "fetch_wait_s" -> num(j.fetchWaitMs / 1e3),
        "queue_s" -> num(j.queueMs / 1e3),
        "shuffle_read_b" -> num(j.shuffleReadB),
        "shuffle_write_b" -> num(j.shuffleWriteB), "spill_b" -> num(j.spillB))
    })
  }

  // ---- environment probes (same spin workload as graft.Bench) ----
  private val spinSink = new java.util.concurrent.atomic.AtomicLong()

  def spinSec(threads: Int): Double = {
    val iters = 200000000L
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < iters) {
          x = x * 6364136223846793005L + 1442695040888963407L
          i += 1
        }
        spinSink.addAndGet(x)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The heap left occupied after each collection (summed over the heap
    * pools) since the watch was made, in MB, from the JVM's public GC
    * notifications.
    */
  final class HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    private val afterGcMb = ArrayBuffer[Double]()
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { afterGcMb += used / 1048576.0 }
          }, null, null)
      case _ =>
    }
    def samples: Seq[Double] = synchronized { afterGcMb.toSeq }
  }

  /** Non-heap memory in use (metaspace, generated code), in MB. */
  def nonHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1048576.0

  /** Peak resident set of this JVM in MB (`VmHWM`), or -1 off Linux. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val mainAt = now()
    val probeStart = now()
    spinSec(1) // JIT-warm the spin loop before the measured probe
    val envPre = (loadAvg(), spinSec(plan.cores))
    val probeSec = now() - probeStart

    val sessionStart = now()
    val spark = graft.Tables.localSession("perfbench", cores = plan.cores)
    val sessionEnd = now()
    val log = new JobLog
    if (plan.trace) spark.sparkContext.addSparkListener(log)

    val queries = graft.SparkEntry.queries
    val names = plan.warmup
    val unknown = (names ++ plan.passes.flatten).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // Warmup on cores-1 threads: a first pass writes each result for
    // the oracle check; a second, like the timed one, lets the JIT
    // settle (first timed runs were measured up to 2x slower without).
    val warmThreads = math.max(1, plan.cores - 1)
    val warmup = clientLoop(warmThreads,
        new Dispatcher(Seq(names), Double.MaxValue)) {
      (c, i, n) => runQuery(spark, c, i, n, s"warmup-$n", trace = false,
        queries(n)(_, plan.data),
        _.write.mode("overwrite").parquet(s"${plan.outDir}/$n"))
    } ++ clientLoop(warmThreads, new Dispatcher(Seq(names), Double.MaxValue)) {
      (c, i, n) => runQuery(spark, c, i, n, s"warmup2-$n", trace = false,
        queries(n)(_, plan.data), noop)
    }
    val setupBuilds = graft.sources.ArtifactGuard.buildEventCount
    val (skew0, _) = graft.Metrics.settle()
    log.drain()

    val heap = new HeapWatch
    val windowStart = now()
    val execs = clientLoop(plan.clients,
        new Dispatcher(plan.passes, windowStart + plan.seconds)) {
      (c, i, n) => runQuery(spark, c, i, n, s"c$c-$i-$n", plan.trace,
        queries(n)(_, plan.data), noop)
    }
    val windowEnd = now()
    val windowHeapMb = heap.samples
    val windowNonHeapMb = nonHeapMb()
    val windowBuilds = graft.sources.ArtifactGuard.buildEventCount - setupBuilds
    val (skew1, _) = graft.Metrics.settle()
    log.drain()

    val envPost = (loadAvg(), spinSec(plan.cores))
    val oracle = graft.SparkEntry.oracleSqlFor(plan.data)
      .filter { case (k, _) => names.contains(k) }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val sparkVersion = spark.version
    spark.stop()

    import Json._
    val out = obj(
      "env" -> obj(
        "nproc" -> num(Runtime.getRuntime.availableProcessors),
        "cores" -> num(plan.cores),
        "load_avg" -> arr(Seq(num(envPre._1), num(envPost._1))),
        "spin_sec" -> arr(Seq(num(envPre._2), num(envPost._2))),
        "spin_checksum" -> num(spinSink.get),
        "jdk" -> str(System.getProperty("java.version")),
        "jvm" -> str(System.getProperty("java.vm.name")),
        "spark" -> str(sparkVersion),
        "scala" -> str(scala.util.Properties.versionNumberString)),
      "session_conf" -> obj(conf.map { case (k, v) => k -> str(v) }: _*),
      "setup" -> obj(
        "jvm_to_main_s" -> num(mainAt),
        "probe_s" -> num(probeSec),
        "session_s" -> num(sessionEnd - sessionStart),
        "warmup_s" -> num(windowStart - sessionEnd),
        "artifact_builds" -> num(setupBuilds)),
      "warmup" -> arr(warmup.map(execJson)),
      "window" -> obj("start" -> num(windowStart), "end" -> num(windowEnd),
        "seconds" -> num(plan.seconds),
        "artifact_builds" -> num(windowBuilds),
        "aqe_skew_splits" -> num(skew1 - skew0)),
      "execs" -> arr(execs.map(execJson)),
      "jobs" -> jobsJson(log),
      "oracle_sql" -> obj(oracle.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> str(v) }: _*),
      "peak_rss_mb" -> num(peakRssMb()),
      "window_heap_after_gc_mb" -> arr(windowHeapMb.map(num)),
      "window_non_heap_mb" -> num(windowNonHeapMb))
    Files.write(Paths.get(args(1)), out.getBytes(UTF_8))
  }
}

/** Minimal JSON writer for the runner's output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
