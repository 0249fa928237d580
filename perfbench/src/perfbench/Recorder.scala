package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one benchmark run, written out as JSON at the end.
  *
  * Spans (name, kind, start, end, parent) are always kept: they are the
  * operation samples the end-to-end metrics come from, and cost one small
  * object per operation. Streaming progress is always kept too, because
  * feed latency joins generator offsets against it. Everything else —
  * Spark job/stage/task records, Catalyst phase times, storage sampling —
  * is recorded only when `trace` is on, so untraced runs measure the
  * program without the listeners.
  *
  * Times are epoch milliseconds with sub-millisecond precision taken from
  * one monotonic clock, so listener times (epoch ms) and span times line
  * up.
  */
final class Recorder(val trace: Boolean) {
  import Recorder.Span

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Local property carrying the innermost open span id into Spark jobs. */
  val SpanProp = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var spark: SparkSession = _

  /** Run `f` inside a span that is a child of the innermost open span;
    * the span is closed (and marked failed) even if `f` throws. */
  def span[T](name: String, kind: String)(f: => T): T = {
    val parent = if (stack.isEmpty) -1 else stack.top
    val s = Span(spans.size, parent, name, kind, now(), Double.NaN, ok = false)
    spans += s
    stack.push(s.id)
    setSpanProp(s.id.toString)
    try { val r = f; s.ok = true; r }
    finally {
      s.end = now()
      stack.pop()
      setSpanProp(if (stack.isEmpty) null else stack.top.toString)
    }
  }

  private def setSpanProp(v: String): Unit =
    if (spark != null) spark.sparkContext.setLocalProperty(SpanProp, v)

  /** Spans of `kind` recorded so far. */
  def spansOf(kind: String): Seq[Span] = spans.filter(_.kind == kind).toSeq

  // ---- Spark jobs, stages and tasks (traced runs only) -------------------

  private final class JobRec(val id: Int, val start: Double,
                             val stageIds: Seq[Int], val names: Seq[String],
                             val props: Map[String, String]) {
    var end: Double = Double.NaN
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shReadBytes = 0L
    var shWriteBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executions = mutable.LinkedHashMap.empty[Long, String]
  private val progress = mutable.ArrayBuffer.empty[String]
  private val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]

  @volatile private var lastEventNs = System.nanoTime()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
        .filter { case (k, _) =>
          k == SpanProp || k == "spark.sql.execution.id" ||
            k == "sql.streaming.queryId" || k == "streaming.sql.batchId" }
      val infos = e.stageInfos.sortBy(_.stageId)
      jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, infos.map(_.stageId),
        infos.map(_.name), props)
      infos.foreach(i => stageJob(i.stageId) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      lastEventNs = System.nanoTime()
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    // an SQL execution's description is the call site of its action; AQE
    // sub-jobs of the execution carry only JDK frames in their own names
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized { executions(x.executionId) = x.description }
      case _ =>
    }
  }

  // Streaming progress reaches the shared SparkContext's bus from every
  // session, including the cloned ones streams may run on.
  private val progressListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        Recorder.this.synchronized {
          lastEventNs = System.nanoTime()
          progress += p.progress.json
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      val t = now()
      qe.tracker.phases.foreach { case (phase, s) => phases += ((phase, s.durationMs.toDouble, t)) }
    }
  }

  // ---- sampled storage and memory (traced runs only) ----------------------

  @volatile private var sampling = false
  private var storagePeakMb = 0.0
  private var rddsLivePeak = 0
  private val sampler = new Thread(() => {
    while (sampling) {
      val sc = spark.sparkContext
      val used = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
      val live = sc.getPersistentRDDs.size
      Recorder.this.synchronized {
        storagePeakMb = math.max(storagePeakMb, used / 1048576.0)
        rddsLivePeak = math.max(rddsLivePeak, live)
      }
      Thread.sleep(100)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(progressListener)
    if (trace) {
      s.sparkContext.addSparkListener(jobListener)
      s.listenerManager.register(qeListener)
      sampling = true
      sampler.start()
    }
  }

  def uninstall(): Unit = {
    sampling = false
    if (trace) sampler.join()
    spark.sparkContext.removeSparkListener(progressListener)
    if (trace) {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Wait until the asynchronous listener bus has gone quiet (no event
    * for 300 ms, at most 10 s), so the last batches' progress and job ends
    * are in the record before it is written. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  // ---- JVM and host -------------------------------------------------------

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private var gcAtWindow = 0L
  private var windowStart = Double.NaN
  private var windowEnd = Double.NaN
  private val host = new HostWitness

  /** Start of the measured region: resets the GC and heap baselines. */
  def startWindow(): Unit = {
    gcAtWindow = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    host.start()
    windowStart = now()
  }

  def endWindow(): Unit = {
    windowEnd = now()
    host.stop()
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  // ---- output -------------------------------------------------------------

  /** The whole record as one JSON object; `extra` holds workload fields
    * (already JSON-encoded values). */
  def toJson(extra: Seq[(String, String)]): String = synchronized {
    import Json._
    val spanJs = spans.map { s =>
      obj("id" -> num(s.id), "parent" -> num(s.parent), "name" -> str(s.name),
        "kind" -> str(s.kind), "start" -> num(s.start), "end" -> num(s.end),
        "ok" -> bool(s.ok))
    }
    val jobJs = jobs.values.map { j =>
      obj("id" -> num(j.id), "start" -> num(j.start), "end" -> num(j.end),
        "names" -> arr(j.names.map(str)),
        "props" -> obj(j.props.toSeq.map { case (k, v) => k -> str(v) }: _*),
        "stages" -> num(j.stages), "tasks" -> num(j.tasks), "run_ms" -> num(j.runMs),
        "gc_ms" -> num(j.gcMs), "shuffle_read_bytes" -> num(j.shReadBytes),
        "shuffle_write_bytes" -> num(j.shWriteBytes),
        "fetch_wait_ms" -> num(j.fetchWaitMs), "spill_bytes" -> num(j.spillBytes))
    }
    val phaseJs = phases.map { case (p, ms, t) =>
      obj("phase" -> str(p), "ms" -> num(ms), "at" -> num(t)) }
    obj(Seq(
      "trace" -> bool(trace),
      "cores" -> num(Runtime.getRuntime.availableProcessors()),
      "jvm_start" -> num(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      "window_start" -> num(windowStart), "window_end" -> num(windowEnd),
      "spans" -> arr(spanJs.toSeq), "jobs" -> arr(jobJs.toSeq),
      "executions" -> obj(executions.toSeq.map { case (id, d) => id.toString -> str(d) }: _*),
      "progress" -> arr(progress.toSeq), "phases" -> arr(phaseJs.toSeq),
      "gc_ms" -> num(gcMs() - gcAtWindow), "heap_peak_mb" -> num(heapPeakMb()),
      "rss_peak_mb" -> num(rssPeakMb()),
      "storage_peak_mb" -> num(storagePeakMb), "rdds_live_peak" -> num(rddsLivePeak),
      "host" -> host.json) ++ extra: _*)
  }
}

object Recorder {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        start: Double, var end: Double, var ok: Boolean)
}

/** Host-contention witness over the measured window: the load average
  * when the window opens, and the share of all CPU time burnt by OTHER
  * processes during it (system busy jiffies from /proc/stat minus this
  * JVM's own CPU time). A run whose foreign share passes 25% is flagged
  * contended in its output rather than dropped. The load average is
  * reported only: back-to-back runs inherit their predecessor's load. */
final class HostWitness {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def procCpuNs(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def stat(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val xs = l.trim.split("\\s+").drop(1).map(_.toLong)
        val idle = xs(3) + (if (xs.length > 4) xs(4) else 0L)
        (xs.sum - idle, xs.sum)
      } finally src.close()
    } catch { case _: java.io.IOException => None }

  private var loadStart = -1.0
  private var foreign = -1.0
  private var s0: Option[(Long, Long)] = None
  private var p0 = 0L

  def start(): Unit = {
    loadStart = os.getSystemLoadAverage
    s0 = stat(); p0 = procCpuNs()
  }

  def stop(): Unit = {
    val p1 = procCpuNs()
    (s0, stat()) match {
      case (Some((b0, t0)), Some((b1, t1))) if t1 > t0 && p1 >= 0 =>
        // jiffies are 1/100 s on Linux; total jiffies cover all cores
        val sysShare = (b1 - b0).toDouble / (t1 - t0)
        val wallNs = (t1 - t0).toDouble / cores * 1e7
        val ownShare = (p1 - p0) / (wallNs * cores)
        foreign = math.max(0.0, sysShare - ownShare)
      case _ =>
    }
  }

  def json: String = {
    import Json._
    obj("cores" -> num(cores), "load_start" -> num(loadStart),
      "foreign_cpu_share" -> num(foreign),
      "contended" -> bool(foreign > 0.25))
  }
}

/** Minimal JSON encoding for the run record (values arrive encoded). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
