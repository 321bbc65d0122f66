package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals

/** One timed call into a layer. `op` is shared by every span of one
  * request, batch or query; `parent` is 0 for an operation's outermost
  * span. Times are `System.nanoTime` readings. */
final case class Span(
    id: Long, parent: Long, op: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span by the listener. */
final class Work {
  var jobs, stages, tasks = 0L
  var jobMs, taskMs, waitMs = 0L
  var shuffleRecords, shuffleBytes, spillBytes, inputRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobMs += o.jobMs; taskMs += o.taskMs; waitMs += o.waitMs
    shuffleRecords += o.shuffleRecords; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputRecords += o.inputRecords
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** Span recorder around the benchmark's calls into the program's layers.
  *
  * Spans are recorded only inside an operation opened with
  * `op(traced = true)` on a tracer built with `enabled = true`; otherwise
  * `span` runs its body and nothing else, so untraced runs pay one
  * thread-local read per call. While a span is open its id rides on the
  * thread's Spark local properties, so every job the call starts — and
  * every stage, task and SQL execution of that job — is attributed to it
  * by [[Tracer.Probe]]. Spans stay in memory until [[writeJson]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val active = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  val probe: Option[Probe] =
    if (enabled) { val p = new Probe; sc.addSparkListener(p); Some(p) } else None

  /** Runs one operation; its spans are kept iff the tracer is enabled
    * and `traced`. Returns the body's value. */
  def op[T](traced: Boolean)(body: => T): T = {
    val (wasActive, wasOp) = (active.get, currentOp.get)
    active.set(enabled && traced)
    currentOp.set(ids.incrementAndGet())
    try body finally { active.set(wasActive); currentOp.set(wasOp) }
  }

  /** True inside a traced operation. */
  def recording: Boolean = active.get

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active.get) body
    else {
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      val id = ids.incrementAndGet()
      stack.set(id :: outer)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
        done.add(Span(id, parent, currentOp.get, layer, name, t0, t1))
      }
    }

  /** Every finished span, once queued listener events are delivered. */
  def spans(): Seq[Span] = {
    Internals.drainListenerBus(sc)
    done.asScala.toSeq.sortBy(_.startNs)
  }

  /** Spark work attributed to span `id` (zero if none). */
  def work(id: Long): Work = probe.map(_.workOf(id)).getOrElse(new Work)

  /** Span file: one JSON object per span with its attributed work, then
    * the run's info record. */
  def writeJson(path: java.nio.file.Path, info: String): Unit = {
    val ss = spans()
    val sb = new StringBuilder("{\"spans\":[\n")
    ss.zipWithIndex.foreach { case (s, i) =>
      val w = work(s.id)
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s, ss)},"jobs":${w.jobs},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},"shuffle_records":${w.shuffleRecords},""" +
        s""""analysis_ms":${w.analysisMs},"optimization_ms":${w.optimizationMs},"planning_ms":${w.planningMs}}"""
      if (i < ss.size - 1) sb ++= ",\n"
    }
    sb ++= s"\n],\n\"info\":$info}\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val ExecutionIdKey = "spark.sql.execution.id"

  /** Seconds of `s` not covered by its direct children. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** SparkListener that attributes jobs, stages, tasks, task time and
    * wait, shuffle, spill, input records and Catalyst phase times
    * to the span that started the job. Spark delivers events on one
    * thread; reads happen after a bus drain, under the same lock. */
  final class Probe extends SparkListener {
    private val bySpan = mutable.HashMap.empty[Long, Work]
    private val jobSpan = mutable.HashMap.empty[Int, Long]
    private val jobStartMs = mutable.HashMap.empty[Int, Long]
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
    private val executionSpan = mutable.HashMap.empty[Long, Long]

    private def w(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

    def workOf(span: Long): Work = synchronized {
      val out = new Work
      bySpan.get(span).foreach(out += _)
      out
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).foreach { s =>
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = s)
        w(s).jobs += 1
        props.flatMap(p => Option(p.getProperty(ExecutionIdKey))).foreach { x =>
          executionSpan.getOrElseUpdate(x.toLong, s)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        w(s).jobMs += e.time - jobStartMs.remove(e.jobId).getOrElse(e.time)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      stageSubmitMs(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(w(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val k = w(s)
        k.tasks += 1
        stageSubmitMs.get(e.stageId).foreach(t => k.waitMs += math.max(0L, e.taskInfo.launchTime - t))
        Option(e.taskMetrics).foreach { m =>
          k.taskMs += m.executorRunTime
          k.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          k.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized {
        for (s <- executionSpan.remove(end.executionId); qe <- Internals.queryExecution(end)) {
          val k = w(s)
          val phases = qe.tracker.phases
          k.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
          k.optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
          k.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
        }
      }
      case _ =>
    }
  }
}
