package graft

import graft.tools.QueryProbe

/** Benchmark entry point (driver-run per round → BENCH_r{N}.json).
  * Times each headline query end-to-end (plan + execute + reduce) on
  * SPARK_GRAFT_SF_DIR, after one untimed warmup of the smallest query to
  * absorb JVM/classloading costs. Each headline is timed `Reps` times and
  * the MINIMUM is recorded: a single-shot timer lets one GC pause or a
  * loaded box fabricate a multi-× "regression" in the round record
  * (BENCH_r05 recorded 5-7× the true warm cost for two unchanged
  * queries); min-of-N measures the code, not the machine's worst moment,
  * and stays comparable round-over-round. Prints ONE JSON line. */
object Bench {
  private[graft] val Reps = 3

  /** A mid-run canary pair (serial + wide) fires before every
    * CanaryEvery-th headline — ~4-5 readings across a 35-headline
    * suite, each a fixed ~0.4 s single-thread spin plus ~0.5 s of
    * all-cores work (≈4 s total overhead for minute-level contention
    * localization that can see BOTH contention shapes). */
  private val CanaryEvery = 8

  /** Fixed-work CPU canary: a single-threaded deterministic xorshift
    * spin, timed at suite start and end. The work is constant, so the
    * reading depends ONLY on how much CPU the box actually gives one
    * thread — a loaded machine is self-evident from the artifact
    * (canary ≫ its idle-box baseline, or end ≫ start) instead of
    * masquerading as a multi-× query regression. Three driver rounds in
    * a row recorded phantom regressions (r8 j11/bm25, r9 paragraph,
    * r10 decontaminate 17.5 s vs a judge-measured 1.02 s) that each
    * cost a round of attention; min-of-3 inside one busy window cannot
    * defeat SUSTAINED contention, but a canary exposes it. */
  private[graft] def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    // data-dependent side effect so the JIT cannot elide the loop
    if (x == 42L) System.err.println("canary collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-shape PARALLEL canary: the serial spin fanned across all 32
    * partitions plus a token shuffle+reduce. The serial probe proved
    * BLIND in the exact scenario it exists for — a co-tenant stealing
    * only the SPARE cores leaves a 1-thread probe untouched while
    * 32-way-parallel queries inflate 2-8× (BENCH_r13: flat 0.42-0.47
    * canaries beside a phantom 12.36 s pagerank that read 1.46 s
    * idle — the sixth consecutive contention-phantom round). This probe
    * demands the same resource the queries do (every core at once), so
    * its idle-box reading ≈ the serial one (~0.5 s) and a contended run
    * self-adjudicates: wide ≫ serial ⇒ the box, not the code. Work is
    * deterministic and constant; per-partition seeds only decorrelate
    * the lanes. */
  private def wideCanarySec(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    val x = spark.sparkContext.parallelize(0 until 32, 32)
      .map { p =>
        var x = 0x9E3779B97F4A7C15L + p
        var i = 0
        while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        (p % 4, x)
      }
      .reduceByKey(_ ^ _).map(_._2).reduce(_ ^ _)
    if (x == 42L) System.err.println("wide canary collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** 1/5/15-minute load averages — the box's own confession, snapshotted
    * at the same points as the canaries (a 32-core box running this
    * suite alone sits near 32; a co-tenant shows as a sustained
    * excess). Best-effort: absent /proc (non-Linux) yields "". */
  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")
    // per-headline shuffle records/bytes ride beside the seconds: the
    // canary program adjudicates whether the BOX was noisy, the work
    // ledger adjudicates whether the PLAN changed — a regression that
    // hides inside healthy wall-clock (or a phantom that inflates it)
    // shows in the records column, which box contention cannot move
    val probe = QueryProbe.attach(spark)

    val headline = Registry.all.filter(_.headline)
    warmUp(spark, sfDir)

    canarySec() // JIT warm — untimed, like the query warmups
    wideCanarySec(spark) // scheduler/JIT warm for the parallel probe
    val canaryStart = canarySec()
    val wideStart = wideCanarySec(spark)
    val loadStart = loadAvg()
    // the endpoint canary pair cannot see MID-run contention (round 11:
    // the builder's own 38.4 s vs 32.2 s back-to-back runs both showed
    // idle endpoints); a canary between every CanaryEvery-th headline
    // plus a wall-clock start offset per rep lets a reader LOCALIZE the
    // contention window from the artifact alone
    val suiteT0 = System.nanoTime()
    def sinceStart(): Double = (System.nanoTime() - suiteT0) / 1e9
    val midCanaries =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Double, String)]
    val results = headline.zipWithIndex.map { case (q, qi) =>
      if (qi > 0 && qi % CanaryEvery == 0)
        midCanaries += ((qi, sinceStart(), canarySec(), wideCanarySec(spark), loadAvg()))
      // only SUCCESSFUL reps become samples: a fast-failing rep would
      // otherwise win the min and record a bogus "speedup" where the
      // honest reading is breakage. A query with zero successes records
      // -1 (unmistakably a failure marker) and is excluded from total.
      val samples = (1 to Reps).flatMap { _ =>
        // per-rep fixture setup (e.g. re-fragment the compaction lake)
        // runs OUTSIDE the timer and the work window: the recorded
        // number is the operator's cost, not its fixture's write cost
        try {
          val r = probe.run(q, sfDir)
          Some(((r.startNs - suiteT0) / 1e9, r))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${QueryProbe.describe(e)}")
          None
        }
      }
      q.name -> samples
    }
    val canaryEnd = canarySec()
    val wideEnd = wideCanarySec(spark)
    val loadEnd = loadAvg()
    val mins = results.map { case (k, ss) =>
      k -> (if (ss.nonEmpty) ss.map(_._2.sec).min else -1.0)
    }
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-headline plan work: min across successful reps (the plan is
    // deterministic, so reps agree; min discards any stray listener
    // event a rep absorbed). -1 marks a fully-failed headline, like sec.
    val recJson = results
      .map { case (k, ss) =>
        "\"" + k + "\":" + (if (ss.nonEmpty) ss.map(_._2.shuffleRecords).min else -1L)
      }
      .mkString("{", ",", "}")
    val bytJson = results
      .map { case (k, ss) =>
        "\"" + k + "\":" + (if (ss.nonEmpty) ss.map(_._2.shuffleBytes).min else -1L)
      }
      .mkString("{", ",", "}")
    // raw per-rep samples ride along so a reader can tell a code
    // regression (all reps slow, canary normal) from box contention
    // (spread-out reps and/or an elevated canary) without re-running
    val samplesJson = results
      .map { case (k, ss) => "\"" + k + "\":[" + ss.map(_._2.sec).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // per-rep wall-clock start offsets (seconds since suite start),
    // index-aligned with samples; with the mid canaries these bound
    // WHEN a contention window opened and closed
    val offsetsJson = results
      .map { case (k, ss) => "\"" + k + "\":[" + ss.map(_._1).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val midJson = midCanaries
      .map { case (i, at, s, w, l) =>
        s"""{"before_query":$i,"at_sec":$at,"sec":$s,"wide_sec":$w,"load":"$l"}"""
      }
      .mkString("[", ",", "]")
    // per memo key across warmups and reps: the first consumer's build
    // seconds and how many later reads it served
    val memoJson = QueryProbe.memoJson(graft.ops.SessionMemo.stats)
    // the layer split of each headline's fastest rep; forensics only
    // (the compact line below must survive log-tail truncation)
    val probeJson = results
      .collect { case (k, ss) if ss.nonEmpty => "\"" + k + "\":" + ss.minBy(_._2.sec)._2.json }
      .mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum
    // failed count rides in the record: a broken headline drops out of
    // the total, which would otherwise read as a round-over-round
    // "speedup" — failed>0 marks the total as incomparable
    val failed = mins.count(_._2 < 0)
    // TWO lines, bulky-first: the driver's artifact pipeline stores only
    // the LOG TAIL, and round 12's capture kept the trailing `offsets`
    // map but cut the `canary`/`samples` sections printed earlier in the
    // single line — discarding exactly the forensic fields added to make
    // phantom contention self-adjudicating (BENCH_r12.json "parsed":
    // null, fifth phantom round running). The forensics line (per-rep
    // samples + wall-clock offsets) goes FIRST and deliberately carries
    // no "metric" key, so any first-line-with-"metric" parser skips it;
    // the canonical compact line (total + canaries + per-query mins +
    // per-query shuffle records/bytes, ~4 KB) goes LAST so any
    // suffix-truncated capture retains it whole and it parses
    // standalone.
    println(s"""{"forensics":{"samples":$samplesJson,"offsets":$offsetsJson},"probe":$probeJson,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"canary":{"start":$canaryStart,"end":$canaryEnd,"wide_start":$wideStart,"wide_end":$wideEnd,"load_start":"$loadStart","load_end":"$loadEnd","mid":$midJson},"queries":$qs,"shuffle_records":$recJson,"shuffle_bytes":$bytJson,"drain":"${if (probe.drainFellBack) "fallback" else "clean"}","memo":$memoJson,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The untimed warm-ups Bench and the [[QueryProbe]] CLI run before
    * timing anything. They are untimed but NEVER silent: a failed
    * index/layout build pushes the one-time write into the first timed
    * rep (min-of-3 mostly masks it; a persistent failure yields -1 with
    * the root cause hidden), so each failure is logged. */
  private[graft] def warmUp(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    // small full pipeline (codegen + classloading)
    QueryProbe.attempt("d4_count")(Registry.byName("d4_count").build(spark, dir).count())
    // build the materialized kNN index untimed: x_sim_knn_indexed measures
    // the probe-many regime (the write-once cost is the point of the shape)
    QueryProbe.attempt("knn_index")(graft.ops.SimilarityOps.ensureKnnIndex(spark, dir))
    // ditto for the lexical index: x_retrieval_bm25_indexed measures the
    // probe-many regime against the pre-built term-sorted statistics
    QueryProbe.attempt("lex_index")(graft.ops.RetrievalOps.ensureLexIndex(spark, dir))
    // and the PQ index: x_sim_topk_pq_indexed measures ADC probing, not
    // codebook training (paid once at build time)
    QueryProbe.attempt("pq_index")(graft.ops.PqOps.ensurePqIndex(spark, dir))
    // and the binary-code index: x_sim_topk_hamming_indexed measures the
    // 8-byte-per-vector probe scan, not the sign-packing pass
    QueryProbe.attempt("bin_index")(graft.ops.SimilarityOps.ensureBinaryIndex(spark, dir))
    // and the co-bucketed join twins: j11_bucket_join measures the
    // shuffle-free recurring join, not the one-time bucketed write
    QueryProbe.attempt("bucketed_tables")(graft.ops.JoinOps.ensureBucketedTables(spark, dir))
  }
}
