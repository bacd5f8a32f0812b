package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch-based nanosecond clock, comparable with Spark's event times
  * (epoch milliseconds) and monotonic within the process.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

final class Span(val id: Long, val name: String, val parent: Long,
    val runId: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  def durNs: Long = endNs - startNs
}

/** Spans the benchmark opens around each call into a layer. Driver-thread
  * only (every workload is a closed loop). While a span is open its id is
  * the `pipebench.span` local property, so the jobs it submits carry it.
  * Spans stay in memory and are written as JSONL when the run ends.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var on = false
  private var nextId = 0L
  private var stack = List.empty[Span]
  val spans = ArrayBuffer[Span]()

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
        runId, Clock.nowNs())
      val prev = sc.getLocalProperty(Tracer.Property)
      sc.setLocalProperty(Tracer.Property, s.id.toString)
      stack ::= s
      spans += s
      try f
      finally {
        s.endNs = Clock.nowNs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Property, prev)
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val out = ArrayBuffer[Span]()
    var frontier = Seq(s)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(children)
      out ++= next
      frontier = next
    }
    out.toSeq
  }

  def writeJsonl(path: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"run_id":${Json.str(s.runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${Stats.selfTime(s.startNs, s.endNs,
          children(s).map(c => (c.startNs, c.endNs)))}}""" + "\n"
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Property = "pipebench.span"
}

/** Per-job Spark cost, attributed to a benchmark span. */
final class JobRec(val id: Int, val submitNs: Long, val spanProp: Long,
    val desc: String, val stageIds: Seq[Int]) {
  var endNs: Long = -1L
  var span: Long = 0L
  var stagesRun = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Benchmark-owned SparkListener: jobs, stages and tasks, keyed to the
  * span whose id the submitting thread carried. Active only while `on`.
  */
final class JobLedger extends SparkListener {
  @volatile var on = false
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = new JobRec(e.jobId, Clock.fromEpochMs(e.time),
      prop(Tracer.Property).flatMap(_.toLongOption).getOrElse(0L),
      prop("spark.job.description").getOrElse(""), e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = Clock.fromEpochMs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (info != null && info.finishTime > 0)
          j.schedMs += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  /** Attribute every recorded job to a span: the span it carried when
    * that span was open at submission, otherwise (jobs from pooled threads,
    * such as the store's concurrent staging chains) the innermost span
    * open at its submission time.
    */
  def attribute(spans: Seq[Span]): Seq[JobRec] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def open(s: Span, t: Long) = s.startNs - 1000000L <= t && t <= s.endNs + 1000000L
    jobs.values.foreach { j =>
      j.span = byId.get(j.spanProp).filter(open(_, j.submitNs)).map(_.id).getOrElse {
        val containing = spans.filter(open(_, j.submitNs))
        if (containing.isEmpty) 0L else containing.maxBy(_.startNs).id
      }
    }
    jobs.values.toSeq
  }
}

/** Stream progress, read through a benchmark-registered listener. */
final class StreamLedger extends StreamingQueryListener {
  import StreamLedger.Progress
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def drainAll(): Seq[Progress] = {
    val out = ArrayBuffer[Progress]()
    var p = progress.poll()
    while (p != null) { out += p; p = progress.poll() }
    out.toSeq
  }
}

object StreamLedger {
  final case class Progress(batchId: Long, startMs: Long, inputRows: Long,
      durations: Map[String, Long])
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}
