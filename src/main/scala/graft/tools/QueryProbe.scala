package graft.tools

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftQuery, GraftSession, Registry}
import graft.ops.SessionMemo

/** The per-query measurement probe: one SparkListener on the session's
  * context plus the query's own `QueryExecution`, read around exactly
  * Bench's timed region (`build`, then `queryExecution.toRdd.count()`).
  * [[run]] returns one immutable [[QueryProbe.Record]] per run; Bench
  * and the [[QueryProbe.main]] CLI both emit it.
  *
  * Shuffle records are the PLAN'S OWN work measure — immune to box
  * contention and cache prestate, so a plan regression shows as a
  * records jump even when wall-clock is noisy (and a wall-clock phantom
  * shows flat records).
  *
  * Jobs are attributed to the build or the execute phase by a
  * thread-local property of the calling thread that every job-start
  * event carries (Spark copies local properties into the threads it
  * starts for a query), not by timestamps.
  *
  * Listener delivery is ASYNC: [[run]] drains before resetting the
  * counters (or stale events leak into the window) and again before
  * reading them (or the window's tail tasks are missed). private[spark]
  * compiles to public bytecode, so plain reflection reaches
  * LiveListenerBus.waitUntilEmpty; if a Spark upgrade moves the API the
  * sleep fallback bounds the race but cannot GUARANTEE the tail landed —
  * so a fallback drain is loud on stderr and latches [[drainFellBack]],
  * which every record carries as `drain`: an under-counted ledger must
  * never be indistinguishable from a clean one. */
final class QueryProbe private (spark: SparkSession) {
  import QueryProbe._

  private val sc = spark.sparkContext
  private val buildJobs, execJobs, stages, tasks, taskMs = new LongAdder
  private val recW, bytW, memSpill, diskSpill, inRec = new LongAdder
  @volatile private var fellBack = false

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(PhaseKey)).orNull match {
        case "build" => buildJobs.increment()
        case "exec" => execJobs.increment()
        case _ =>
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.add(m.executorRunTime)
        recW.add(m.shuffleWriteMetrics.recordsWritten)
        bytW.add(m.shuffleWriteMetrics.bytesWritten)
        memSpill.add(m.memoryBytesSpilled)
        diskSpill.add(m.diskBytesSpilled)
        inRec.add(m.inputMetrics.recordsRead)
      }
    }
  })

  /** Block until every queued listener event is delivered (reflective
    * LiveListenerBus.waitUntilEmpty; loud 2s-sleep fallback). */
  private def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case NonFatal(e) =>
      fellBack = true
      System.err.println("[ledger] WARN: listenerBus drain reflection " +
        s"failed (${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}); " +
        "falling back to a 2s sleep — readings may UNDER-COUNT tail " +
        "TaskEnd events")
      Thread.sleep(2000)
    }

  /** True once ANY drain took the sleep fallback — every count is then a
    * lower bound, not exact, and is labeled as such. */
  def drainFellBack: Boolean = fellBack

  /** Runs `q` once on `dir`: its `benchPrep` outside the window (a
    * failure is logged and the timed build then pays for the fixture
    * itself), then the timed build and execute. A failing build or
    * execute propagates. */
  def run(q: GraftQuery, dir: String): Record = {
    q.benchPrep.foreach(p => attempt(s"${q.name} prep")(p(spark, dir)))
    drain()
    Seq(buildJobs, execJobs, stages, tasks, taskMs, recW, bytW, memSpill, diskSpill, inRec)
      .foreach(_.reset())
    val memoBefore = SessionMemo.stats
    sc.setLocalProperty(PhaseKey, "build")
    val t0 = System.nanoTime()
    val (qe, t1, rows) =
      try {
        val qe = q.build(spark, dir).queryExecution
        sc.setLocalProperty(PhaseKey, "exec")
        val t1 = System.nanoTime()
        // the physical plan as planned: df.count() would let the
        // optimizer drop sorts/projections above the agg
        (qe, t1, qe.toRdd.count())
      } finally sc.setLocalProperty(PhaseKey, null)
    val t2 = System.nanoTime()
    drain()
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(-1L)
    val memo = SessionMemo.stats.collect {
      case (k, s) if !memoBefore.get(k).contains(s) =>
        k -> (s - memoBefore.getOrElse(k, SessionMemo.Stats(0, 0, 0)))
    }
    Record(
      name = q.name, rows = rows, startNs = t0,
      sec = (t2 - t0) / 1e9, buildSec = (t1 - t0) / 1e9, execSec = (t2 - t1) / 1e9,
      analysisMs = phaseMs("analysis"), optimizationMs = phaseMs("optimization"),
      planningMs = phaseMs("planning"),
      buildJobs = buildJobs.sum, execJobs = execJobs.sum,
      stages = stages.sum, tasks = tasks.sum, taskSec = taskMs.sum / 1e3,
      shuffleRecords = recW.sum, shuffleBytes = bytW.sum,
      memSpill = memSpill.sum, diskSpill = diskSpill.sum, inputRecords = inRec.sum,
      observed = qe.observedMetrics.map { case (n, row) =>
        n -> row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap
      },
      memo = memo,
      drain = if (fellBack) "fallback" else "clean")
  }
}

object QueryProbe {

  /** Local property naming the phase a job belongs to. */
  private val PhaseKey = "graft.probe.phase"

  /** One run of one query. Seconds are wall-clock; the
    * Catalyst phases are -1 when the query's tracker never entered them;
    * task seconds are summed executor run time; `observed` holds the
    * query's `Dataset.observe` metrics (the dedup pipelines'
    * `ngram_df_cap` / `lsh_bucket_cap` / `simhash_bucket_cap` drop
    * counters); `memo` holds the [[SessionMemo]] keys the run built or
    * read, with this run's builds, hits and build seconds. `startNs` is
    * the `System.nanoTime` reading at the start of the timed region, for
    * offsets inside this JVM; it is not printed. */
  final case class Record(
      name: String, rows: Long, startNs: Long,
      sec: Double, buildSec: Double, execSec: Double,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      buildJobs: Long, execJobs: Long, stages: Long, tasks: Long, taskSec: Double,
      shuffleRecords: Long, shuffleBytes: Long,
      memSpill: Long, diskSpill: Long, inputRecords: Long,
      observed: Map[String, Map[String, Any]],
      memo: Map[String, SessionMemo.Stats],
      drain: String) {

    def json: String = {
      val obs = observed.toSeq.sortBy(_._1).map { case (n, kv) =>
        "\"" + n + "\":" + kv.toSeq.sortBy(_._1)
          .map { case (f, v) => "\"" + f + "\":" + jsonValue(v) }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      s"""{"name":"$name","rows":$rows,"sec":$sec,"build_s":$buildSec,"exec_s":$execSec,""" +
        s""""analysis_ms":$analysisMs,"optimization_ms":$optimizationMs,"planning_ms":$planningMs,""" +
        s""""build_jobs":$buildJobs,"exec_jobs":$execJobs,"stages":$stages,"tasks":$tasks,"task_s":$taskSec,""" +
        s""""shuffle_records":$shuffleRecords,"shuffle_bytes":$shuffleBytes,""" +
        s""""mem_spill":$memSpill,"disk_spill":$diskSpill,"input_records":$inputRecords,""" +
        s""""observed":$obs,"memo":${memoJson(memo)},"drain":"$drain"}"""
    }
  }

  def attach(spark: SparkSession): QueryProbe = new QueryProbe(spark)

  /** Per memo key: builds, hits and build seconds. */
  private[graft] def memoJson(stats: Map[String, SessionMemo.Stats]): String =
    stats.toSeq.sortBy(_._1)
      .map { case (k, st) =>
        s""""$k":{"builds":${st.builds},"hits":${st.hits},"build_s":${st.buildSeconds}}"""
      }
      .mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case n: java.lang.Number if n.doubleValue.isNaN || n.doubleValue.isInfinite => "null"
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }

  /** Class and message of a failure; `getMessage` alone is null for an
    * NPE, which would hide exactly the root cause a log line exists to
    * surface. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"

  /** Runs an untimed step (fixture prep, warm-up); a failure is logged,
    * never silent, and the caller goes on. */
  private[graft] def attempt(what: String)(body: => Any): Unit =
    try { body; () }
    catch { case NonFatal(e) => System.err.println(s"[probe] '$what' failed: ${describe(e)}") }

  /** Runs `queries` `reps` times each after Bench's warm-ups and writes,
    * through `out`: one [[Record]] JSON line per successful rep, one
    * min-per-name line per query, and a Bench-shaped total line (`value`
    * sums the per-name minimums; a name with no successful rep reads -1
    * and counts in `failed`) with a serial canary measured at the start
    * and end of the sweep. */
  private[graft] def sweep(spark: SparkSession, dir: String, reps: Int,
      queries: Seq[GraftQuery], out: String => Unit): Unit = {
    val probe = attach(spark)
    Bench.warmUp(spark, dir)
    Bench.canarySec() // JIT warm, untimed
    val canaryStart = Bench.canarySec()
    val samples = queries.map { q =>
      q.name -> (1 to reps).flatMap { _ =>
        try { val r = probe.run(q, dir); out(r.json); Some(r.sec) }
        catch { case NonFatal(e) =>
          System.err.println(s"[probe] ${q.name} failed: ${describe(e)}"); None
        }
      }
    }
    val canaryEnd = Bench.canarySec()
    val mins = samples.map { case (n, ss) =>
      val min = if (ss.nonEmpty) ss.min else -1.0
      out(f"[probe] $n%-40s min=$min%8.3f  all=${ss.map(s => f"$s%.3f").mkString(",")}")
      n -> min
    }
    val qs = mins.map { case (n, s) => "\"" + n + "\":" + s }.mkString("{", ",", "}")
    out(s"""{"metric":"total","value":${mins.map(_._2).filter(_ >= 0).sum},"unit":"sec",""" +
      s""""failed":${mins.count(_._2 < 0)},"canary":{"start":$canaryStart,"end":$canaryEnd},""" +
      s""""queries":$qs,"sf":"$dir"}""")
  }

  /** Prints each query's physical plan through `out`. `initial` is the
    * formatted plan as first planned, to check pushdown, pruning,
    * broadcast and codegen before trusting a number; `final` runs the
    * query once and prints the plan adaptive execution left (reused
    * exchanges, broadcast demotion, skew splits and coalesced reads show
    * only after execution), with its row count and wall seconds. */
  private[graft] def plans(spark: SparkSession, dir: String, which: String,
      queries: Seq[GraftQuery], out: String => Unit): Unit =
    queries.foreach { q =>
      out(s"\n========== ${q.name} ==========")
      val df = q.build(spark, dir)
      if (which == "initial") out(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      else {
        val t0 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        out(f"rows=$rows  wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
        out(df.queryExecution.executedPlan.toString)
      }
    }

  /** The measuring CLI:
    * `runMain graft.tools.QueryProbe <sfDir> [reps] [name,...|all]`
    * (defaults: Bench's rep count, every registry entry). Two sweeps at
    * different scale factors feed `tools/scale_ratios.py`.
    *
    * With `--plan=initial` or `--plan=final` first, it prints plans
    * instead ([[plans]]):
    * `runMain graft.tools.QueryProbe --plan=initial|final <sfDir> [name,...|all]`
    * (default: the headline queries). */
  def main(args: Array[String]): Unit = {
    val plan = args.headOption.collect { case a if a.startsWith("--plan=") => a.stripPrefix("--plan=") }
    val rest = if (plan.isDefined) args.tail else args
    require(plan.forall(Set("initial", "final")) && rest.length >= 1 && rest.length <= (if (plan.isDefined) 2 else 3),
      "usage: QueryProbe <sfDir> [reps] [name,...|all] | QueryProbe --plan=initial|final <sfDir> [name,...|all]")
    val dir = rest(0)
    def named(arg: Option[String], default: Seq[GraftQuery]) =
      arg.filter(_ != "all").fold(default)(_.split(",").toSeq.map(Registry.byName))
    val spark = GraftSession.get("graft-query-probe")
    try plan match {
      case Some(which) => plans(spark, dir, which, named(rest.lift(1), Registry.all.filter(_.headline)), println)
      case None => sweep(spark, dir, rest.lift(1).fold(Bench.Reps)(_.toInt), named(rest.lift(2), Registry.all), println)
    } finally spark.stop()
  }
}
