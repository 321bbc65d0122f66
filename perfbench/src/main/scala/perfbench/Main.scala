package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   perfbench.Main --workload <weather_etl|weather_serve|registry_headlines>
  *                  --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *
  * Prints an info line (workload shape, failures, box-noise readings) and,
  * last, one JSON result line: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  * A traced run also writes its spans to `<work>/../trace-<workload>-<seed>.json`. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_pass_s" -> "s", "p50_ms" -> "ms", "tail_ms" -> "ms",
    "work_per_s" -> "1/s", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.busy_s" -> "s", "ingest.self_s" -> "s", "ingest.obs" -> "count", "ingest.jobs" -> "count",
    "warehouse.daily_busy_s" -> "s", "warehouse.agg_busy_s" -> "s", "warehouse.self_s" -> "s",
    "warehouse.files_written" -> "count", "warehouse.bytes_written" -> "B",
    "warehouse.bytes_per_obs" -> "B", "warehouse.rows_scanned_per_obs" -> "ratio",
    "serving.hit_ms_p50" -> "ms", "serving.miss_ms_p50" -> "ms", "serving.self_s" -> "s",
    "serving.jobs_per_request" -> "ratio", "serving.refresh_s" -> "s",
    "serving.hits" -> "count", "serving.misses" -> "count", "serving.hit_ratio" -> "ratio",
    "build.s" -> "s", "build.self_s" -> "s", "build.jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "catalyst.self_s" -> "s",
    "exec.s" -> "s", "exec.self_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.shuffle_records" -> "count", "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.input_records" -> "count",
    "memo.cold_s" -> "s", "memo.persisted_rdds_end" -> "count", "memo.persisted_bytes_end" -> "B",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "setup.session_s" -> "s", "setup.fixture_s" -> "s", "setup.index_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Path.of(req("work")), Path.of(req("data")), m.get("dump").map(Path.of(_)))
  }

  /** Per-layer metrics every workload derives from its spans. */
  private def spanLayer(tracer: Tracer): Map[String, Double] = {
    val spans = tracer.spans()
    val works = spans.map(s => s -> tracer.work(s.id)).toMap
    def of(layer: String) = spans.filter(_.layer == layer)
    def busy(ss: Seq[Span]) = ss.map(_.seconds).sum
    def jobs(ss: Seq[Span]) = ss.map(works(_).jobs).sum.toDouble
    def self(layer: String) = of(layer).map(Tracer.selfSeconds(_, spans)).sum
    val all = new Work
    works.values.foreach(all += _)
    val daily = Set("toDailyWeather", "incrementalDailyWeather", "writeDailyWeather")
    Map(
      "ingest.busy_s" -> busy(of("ingest")), "ingest.self_s" -> self("ingest"),
      "ingest.jobs" -> jobs(of("ingest")),
      "warehouse.daily_busy_s" -> busy(of("warehouse").filter(s => daily(s.name))),
      "warehouse.agg_busy_s" -> busy(of("warehouse").filterNot(s => daily(s.name))),
      "warehouse.self_s" -> self("warehouse"),
      "serving.self_s" -> self("serving"),
      "build.s" -> busy(of("build")), "build.self_s" -> self("build"), "build.jobs" -> jobs(of("build")),
      "catalyst.analysis_ms" -> all.analysisMs.toDouble,
      "catalyst.optimization_ms" -> all.optimizationMs.toDouble,
      "catalyst.planning_ms" -> all.planningMs.toDouble,
      "catalyst.self_s" -> self("catalyst"),
      "exec.s" -> all.jobMs / 1000.0, "exec.self_s" -> self("exec"),
      "exec.jobs" -> all.jobs.toDouble, "exec.stages" -> all.stages.toDouble,
      "exec.tasks" -> all.tasks.toDouble, "exec.task_s" -> all.taskMs / 1000.0,
      "exec.task_wait_s" -> all.waitMs / 1000.0,
      "exec.shuffle_records" -> all.shuffleRecords.toDouble,
      "exec.shuffle_bytes" -> all.shuffleBytes.toDouble,
      "exec.spill_bytes" -> all.spillBytes.toDouble,
      "exec.input_records" -> all.inputRecords.toDouble,
      "trace.spans" -> spans.size.toDouble)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = graft.GraftSession.get("perfbench")
    val sessionS = Box.sinceJvmStart()
    // untimed once each, so the start readings are of compiled code and a
    // running executor, like the end ones
    Box.canarySec(); Box.wideCanarySec(spark)
    val (canary0, wide0, load0) = (Box.canarySec(), Box.wideCanarySec(spark), Box.loadAvg())

    val tracer = new Tracer(spark, o.trace)
    val checks = new Checks
    val run: (SparkSession, Tracer, Opts, Checks) => Outcome = o.workload match {
      case "weather_etl" => Workloads.etl
      case "weather_serve" => Workloads.serve
      case "registry_headlines" => Workloads.registry
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = run(spark, tracer, o, checks)

    val (canary1, wide1, load1) = (Box.canarySec(), Box.wideCanarySec(spark), Box.loadAvg())
    val sc = spark.sparkContext
    val persistedRdds = sc.getPersistentRDDs.size.toDouble
    val persistedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble

    val tail = Stats.pct(out.latMs, out.tailPct)
    val errorRatio = checks.failedCount.toDouble / math.max(1L, checks.attemptedCount)
    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val v = Map(
          "setup_s" -> (sessionS + Stats.median(out.setupRepsS)),
          "first_pass_s" -> out.coldS,
          "p50_ms" -> Stats.median(out.latMs),
          "tail_ms" -> tail,
          "work_per_s" -> out.work / out.loopS,
          "rss_peak_mb" -> Box.rssPeakMb())
        EndToEnd.map { case (k, u) => (k, u, v(k)) }
      } else {
        val v = spanLayer(tracer) ++ out.layer ++ Map(
          "memo.persisted_rdds_end" -> persistedRdds,
          "memo.persisted_bytes_end" -> persistedBytes,
          "jvm.gc_s" -> Box.gcSeconds(), "jvm.heap_peak_mb" -> Box.heapPeakMb(),
          "setup.session_s" -> sessionS, "setup.fixture_s" -> out.fixtureS, "setup.index_s" -> out.indexS,
          "trace.overhead_ratio" -> out.overheadRatio)
        PerLayer.map { case (k, u) => (k, u, v.getOrElse(k, 0.0)) }
      }

    val info = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "cpus" -> sc.defaultParallelism.toString,
      "samples" -> out.latMs.size.toString, "tail_pct" -> Json.num(out.tailPct),
      "setup_reps_s" -> out.setupRepsS.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionS), "gc_s" -> Json.num(Box.gcSeconds()),
      "error_ratio" -> Json.num(errorRatio),
      "errors" -> checks.errors.map(Json.str).mkString("[", ",", "]"),
      "workload_summary" -> out.summary))
    val box = Json.obj(Seq(
      "canary" -> Json.obj(Seq("start" -> Json.num(canary0), "end" -> Json.num(canary1),
        "wide_start" -> Json.num(wide0), "wide_end" -> Json.num(wide1),
        "load_start" -> Json.str(load0), "load_end" -> Json.str(load1)))))
    if (o.trace) {
      val file = o.work.getParent.resolve(s"trace-${o.workload}-${o.seed}.json")
      tracer.writeJson(file, info)
      System.err.println(s"[perfbench] spans written to $file")
    }
    println(Json.obj(Seq("info" -> info, "box" -> box)))
    val ms = metrics.map { case (k, u, v) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    println(Json.obj(Seq(
      "correct" -> (checks.failedCount == 0).toString,
      "attempted" -> checks.attemptedCount.toString,
      "failed" -> checks.failedCount.toString,
      "metrics" -> Json.obj(ms))))
    spark.stop()
  }
}
