package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON encoder for the harness's records (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (apply(v) + "\n").getBytes(StandardCharsets.UTF_8))

  def writeLines(path: String, vs: Iterable[Any]): Unit =
    Files.write(Paths.get(path), vs.map(apply).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** One timed interval: a call into a layer, a cycle, or an event the
  * listeners reported (a Spark job, a Catalyst phase, a streaming batch). */
final case class Span(id: Long, parent: Long, name: String, label: String,
                      startMs: Double, endMs: Double, ok: Boolean, cycle: Int, traced: Boolean,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Spark's own counters, captured by listeners the benchmark registers on
  * the session while a traced cycle runs. Events are buffered raw and
  * attributed to spans by time when the run ends. */
final class Listeners(spark: SparkSession) {
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, inBytes: Long, outBytes: Long,
                        shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, failed: Boolean)
  val jobStart = mutable.Map.empty[Int, Long]
  val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  val stages = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  val batches = ArrayBuffer.empty[(Long, Long, Long)] // (endMs, durationMs, inputRows)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val failed = e.taskInfo.failed || e.taskInfo.killed
      tasks += (if (m == null) Task(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Listeners.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0)
          batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration,
            p.batchDuration, p.numInputRows))
      }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark)
}

/** Times every call a workload makes into the program; while a traced cycle
  * runs, Spark's listeners are attached and the calls become spans with
  * Spark counters attributed to them. */
final class Harness(val spark: SparkSession, val outDir: String, val runId: String) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val listeners = new Listeners(spark)
  val failures = ArrayBuffer.empty[String]
  private var nextId = 1L
  private val stack = mutable.Stack[Long](0L)
  var cycle: Int = -1
  var traced: Boolean = false

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (driver and executor threads alike). */
  def cpuNs: Long = os.getProcessCpuTime

  /** Time `f` as a span named `name`; a throw is recorded as a failed call
    * and returns None. */
  def call[T](name: String, label: String = "")(f: => T): Option[T] = {
    val id = nextId; nextId += 1
    val parent = stack.top
    stack.push(id)
    val gc0 = gcMs
    val cpu0 = cpuNs
    val s = nowMs
    val res = try Some(f) catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")}"
        None
    }
    val e = nowMs
    stack.pop()
    val sp = Span(id, parent, name, label, s, e, res.isDefined, cycle, traced)
    sp.attrs("gc_s") = (gcMs - gc0) / 1000.0
    sp.attrs("cpu_s") = (cpuNs - cpu0) / 1e9
    spans += sp
    res
  }

  /** Like [[call]], but a failure propagates to the enclosing call. */
  def must[T](name: String, label: String = "")(f: => T): T =
    call(name, label)(f).getOrElse(throw new IllegalStateException(s"$name failed"))

  /** Run cycles in whole rounds of `round` cycles until `seconds` have
    * elapsed and at least `minCycles` ran, or `maxCycles` ran or `body`
    * returns false. The mix of work in a run is thus fixed by the round, not
    * by how fast the cycles go. In a traced run cycles alternate untraced,
    * traced, untraced, ..., so traced and untraced runs of the same calls
    * interleave and their gap is the trace overhead. */
  def loop(seconds: Double, traceMode: Boolean, minCycles: Int, round: Int, maxCycles: Int)
          (body: Int => Boolean): Int = {
    val t0 = nowMs
    var c = 0
    var more = true
    def done = c >= maxCycles ||
      ((nowMs - t0) / 1000.0 >= seconds && c >= minCycles && c % round == 0)
    while (more && !done) {
      setTraced(traceMode && c % 2 == 1)
      cycle = c
      call("cycle") { more = body(c) }
      c += 1
    }
    setTraced(false)
    c
  }

  /** Trace the calls that follow (listeners attached) or stop tracing. */
  def setTraced(on: Boolean): Unit = {
    traced = on
    if (on) listeners.attach() else listeners.detach()
  }

  /** Attribute the listeners' events to the traced spans they fall in. */
  private def attribute(): Seq[Span] = {
    val extra = ArrayBuffer.empty[Span]
    val l = listeners
    val tracedSpans = spans.filter(_.traced)
    def within(t: Double, sp: Span) = t >= sp.startMs - 1 && t <= sp.endMs + 1
    tracedSpans.foreach { sp =>
      val ts = l.tasks.filter(t => within(t.finishMs.toDouble, sp))
      val js = l.jobs.filter(j => within(j._2.toDouble, sp))
      val a = sp.attrs
      a("jobs") = js.size
      a("stages") = l.stages.count(t => within(t.toDouble, sp))
      a("tasks") = ts.size
      a("task_run_s") = ts.map(_.runMs).sum / 1000.0
      a("task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
      a("input_bytes") = ts.map(_.inBytes).sum.toDouble
      a("output_bytes") = ts.map(_.outBytes).sum.toDouble
      a("shuffle_write_bytes") = ts.map(_.shWrite).sum.toDouble
      a("shuffle_read_bytes") = ts.map(_.shRead).sum.toDouble
      a("shuffle_fetch_wait_s") = ts.map(_.fetchWaitMs).sum / 1000.0
      a("spill_bytes") = ts.map(_.spill).sum.toDouble
      a("failed_tasks") = ts.count(_.failed)
      // wall time covered by at least one job, clipped to the span
      val iv = js.map(j => (math.max(j._2.toDouble, sp.startMs), math.min(j._3.toDouble, sp.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = -1.0; var curE = -1.0
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      a("job_cover_s") = covered / 1000.0
      val ph = l.phases.filter(p => within(p._2.toDouble, sp) && within(p._3.toDouble, sp))
      a("plan_phases_s") = ph.filter(p => p._1 == "optimization" || p._1 == "planning")
        .map(p => (p._3 - p._2).toDouble).sum / 1000.0
      val bs = l.batches.filter(b => within(b._1.toDouble, sp))
      a("stream_batches") = bs.size
    }
    // listener events as child spans of the innermost traced span holding them
    def owner(t: Double): Option[Span] =
      tracedSpans.filter(s => within(t, s)).sortBy(s => s.endMs - s.startMs).headOption
    var id = nextId
    def child(name: String, s: Double, e: Double, a: (String, Double)*): Unit =
      owner(s).foreach { o =>
        val sp = Span(id, o.id, name, "", s, e, ok = true, o.cycle, traced = true)
        sp.attrs ++= a
        extra += sp; id += 1
      }
    l.jobs.foreach(j => child("spark.job", j._2.toDouble, j._3.toDouble, "job_id" -> j._1.toDouble))
    l.phases.foreach(p => child(s"catalyst.${p._1}", p._2.toDouble, p._3.toDouble))
    l.batches.foreach(b => child("streaming.batch", (b._1 - b._2).toDouble, b._1.toDouble,
      "input_rows" -> b._3.toDouble, "duration_ms" -> b._2.toDouble))
    extra.toSeq
  }

  private def spanJson(s: Span): collection.Map[String, Any] =
    mutable.LinkedHashMap[String, Any]("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "label" -> s.label, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok,
      "cycle" -> s.cycle, "traced" -> s.traced) ++ s.attrs

  /** Write calls.jsonl (every span) and, in traced runs, spans.jsonl with
    * the listener events added as child spans. */
  def finish(traceMode: Boolean): Unit = {
    listeners.drain()
    val extra = if (traceMode) attribute() else Nil
    Json.writeLines(s"$outDir/calls.jsonl", spans.map(spanJson))
    if (traceMode)
      Json.writeLines(s"$outDir/spans.jsonl", (spans ++ extra).sortBy(_.startMs).map(spanJson))
  }
}

object Host {
  def peakRssGib(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / (1024.0 * 1024.0)).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }
}
