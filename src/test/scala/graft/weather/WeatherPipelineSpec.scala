package graft.weather

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden end-to-end of the weather pipeline (FIXTURES.md §1):
  * Open-Meteo JSON fixture → explode/enrich → daily_weather → monthly_agg
  * → serving, asserting the reference's exact semantics at each hop. */
class WeatherPipelineSpec extends SparkSpec {

  private lazy val fixture =
    OpenMeteoIngest.readRaw(spark, getClass.getResource("/openmeteo_sample.json").getPath)

  private lazy val observations = OpenMeteoIngest.explodeHourly(fixture)

  test("F2/F3/F4: zip-explode with null coercion and °F derivation") {
    val rows = observations.orderBy("timestamp").collect()
    assert(rows.length == 5)
    val r0 = rows(0) // 8.4°C fully populated
    assert(r0.getAs[String]("timestamp") == "2025-12-01T00:00")
    assert(r0.getAs[Double]("temperatureC") == 8.4)
    assert(math.abs(r0.getAs[Double]("temperatureF") - 47.12) < 1e-9)
    val r1 = rows(1) // null temp → null C AND F; null precip/gust → 0
    assert(r1.isNullAt(r1.fieldIndex("temperatureC")))
    assert(r1.isNullAt(r1.fieldIndex("temperatureF")))
    assert(r1.getAs[Double]("rainfallMm") == 0.0)
    assert(r1.getAs[Double]("windGustMps") == 0.0)
    assert(r1.getAs[Double]("humidityPercent") == 83.0)
    val r2 = rows(2) // null humidity/windSpeed stay null
    assert(r2.isNullAt(r2.fieldIndex("humidityPercent")))
    assert(r2.isNullAt(r2.fieldIndex("windSpeedMps")))
    assert(r2.getAs[Double]("rainfallMm") == 1.2)
  }

  private lazy val enriched = OpenMeteoIngest.enrich(
    observations,
    sourceTimestamp = "2026-01-02T00:00:00.000Z",
    apiRequestId = None,
    etlBatchId = "etl-test-1")

  test("F5: location/metadata struct construction") {
    val r = enriched.limit(1).collect()(0)
    val loc = r.getAs[Row]("location")
    assert(loc.getAs[String]("city") == "Stockton" && loc.getAs[String]("state") == "CA")
    val meta = r.getAs[Row]("metadata")
    assert(meta.getAs[String]("author") == Model.Author)
    assert(meta.isNullAt(meta.fieldIndex("api_request_id")))
  }

  private val loadTime = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")

  test("E2-E6: daily_weather load — author filter, renames, defaults") {
    // a foreign-author row must be filtered out (etlToClickHouse.js:74)
    val foreign = enriched.withColumn("metadata",
      struct(
        col("metadata.source_timestamp"), col("metadata.source_database"),
        col("metadata.data_quality"), col("metadata.api_request_id"),
        col("metadata.etl_batch_id"), lit("someone else").as("author")))
    val daily = Warehouse.toDailyWeather(enriched.union(foreign), loadTime)
    assert(daily.count() == 5) // foreign rows dropped
    val r = daily.orderBy("date", "temperatureC").collect()
    assert(r.forall(_.getAs[String]("api_request_id") == "")) // ?? "" default
    assert(r.forall(_.getAs[String]("load_mode") == "incremental"))
    // timestamp.slice(0,10) date semantics
    assert(r.map(_.getAs[java.sql.Date]("date").toString).distinct.sorted.toSeq ==
      Seq("2025-12-01", "2025-12-31", "2026-01-01"))
  }

  test("A1: monthly aggregate matches hand-computed avg/sum/count") {
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val agg = Warehouse.monthlyAgg(daily, loadTime).collect()
    assert(agg.length == 2) // Dec 2025 + Jan 2026
    val dec = agg.find(_.getAs[java.sql.Timestamp]("month").toString.startsWith("2025-12")).get
    // Dec rows: temps 8.4, null, 7.9, 6.0 → avg of (8.4,7.9,6.0); Float32 storage
    assert(math.abs(dec.getAs[Float]("avg_temp_c") - ((8.4 + 7.9 + 6.0) / 3)) < 1e-6)
    assert(math.abs(dec.getAs[Float]("total_rain_mm") - 1.6) < 1e-6)
    assert(dec.getAs[Int]("rows_loaded") == 4) // count(*) includes the null-temp row
    val jan = agg.find(_.getAs[java.sql.Timestamp]("month").toString.startsWith("2026-01")).get
    assert(jan.getAs[Int]("rows_loaded") == 1)
  }

  test("A6/idempotence: re-running the aggregation does not duplicate months") {
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val out = tempDir("monthly_agg")
    Warehouse.writeMonthlyAgg(Warehouse.monthlyAgg(daily, loadTime), out)
    Warehouse.writeMonthlyAgg(Warehouse.monthlyAgg(daily, loadTime), out)
    assert(spark.read.parquet(out).count() == 2) // overwrite, not append-dup
  }

  test("S1-S5: serving cache hit/miss + staleness boundaries (0.2/0.6)") {
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val agg = Warehouse.monthlyAgg(daily, loadTime)
    var nowMs = 0L
    val cache = new ServingCache(spark, () => agg, ttlSec = 1000L, clock = () => nowMs)

    // miss before any refresh → warehouse path, always out-of-sync (monthly.js:103)
    val cold = cache.monthly("Stockton")
    assert(cold.source == "warehouse" && cold.syncStatus == "out-of-sync" && cold.count == 2)

    cache.refreshNow()
    // reference thresholds are on REMAINING ttl: full ≥600s left, partial ≥200s, else out-of-sync
    val cases = Seq(
      (0L, "full"), (399L, "full"), (401L, "partial"),
      (799L, "partial"), (801L, "out-of-sync"), (999L, "out-of-sync"))
    for ((elapsed, expected) <- cases) {
      nowMs = elapsed * 1000L
      val got = cache.monthly("Stockton")
      assert(got.source == "cache", s"elapsed=$elapsed")
      assert(got.syncStatus == expected, s"elapsed=$elapsed got=${got.syncStatus}")
    }
    // past TTL → warehouse fallback
    nowMs = 1001 * 1000L
    assert(cache.monthly("Stockton").source == "warehouse")

    // C6 introspection
    nowMs = 100 * 1000L
    val st = cache.status
    assert(st.cacheValid && st.ttlSeconds == 900L && st.ttlMinutes == 15L && st.dataCount == 2)

    // unknown city → empty result, count 0 (S5)
    assert(cache.monthly("Nowhere").count == 0)
  }

  test("refresh while serving: every cache read carries the rows of the refresh its ttl names") {
    // refresh k publishes a monthly_agg stamped with its own load time at
    // logical time k·StepMs; a reader at tick T that is served from the
    // cache with ttl t was served the refresh stamped T - (TtlSec - t)·1000
    val TtlSec = 1000L
    val StepMs = 10000L
    val Refreshes = 12
    val daily = Warehouse.toDailyWeather(enriched, loadTime).cache()
    def loadTimeOf(k: Int) = new java.sql.Timestamp(loadTime.getTime + k * 60000L)
    @volatile var version = 0
    val tick = ThreadLocal.withInitial[java.lang.Long](() => 0L)
    val cache = new ServingCache(spark, () => Warehouse.monthlyAgg(daily, loadTimeOf(version)),
      ttlSec = TtlSec, clock = () => tick.get)
    cache.refreshNow()
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val readers = (1 to 3).map { i =>
      val t = new Thread(() => {
        val now = (Refreshes + i) * StepMs
        tick.set(now)
        while (!done) {
          val r = cache.monthly("Stockton")
          val rows = r.data.collect()
          reads.incrementAndGet()
          if (r.source != "cache") failures.add(s"${r.source} read at tick $now")
          else {
            val stamp = now - (TtlSec - r.ttlSeconds) * 1000L
            val want = loadTimeOf((stamp / StepMs).toInt)
            val got = rows.map(_.getAs[java.sql.Timestamp]("warehouse_load_time")).toSet
            if (rows.length != 2 || r.count != 2 || got != Set(want))
              failures.add(s"ttl ${r.ttlSeconds} names refresh at $stamp (rows of $want), served $got")
          }
        }
      })
      t.start(); t
    }
    try {
      for (k <- 1 to Refreshes) {
        version = k
        tick.set(k * StepMs)
        cache.refreshNow()
      }
    } finally {
      done = true
      readers.foreach(_.join())
      daily.unpersist()
    }
    assert(reads.get > 0)
    assert(failures.isEmpty, failures.toArray.take(5).mkString("; "))
    assert(cache.status.dataVersion == s"v${Refreshes * StepMs}")
  }

  test("incremental load: high-watermark bounds each run to new batches") {
    val t1 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val batch2 = OpenMeteoIngest.enrich(
      observations, sourceTimestamp = "2026-01-03T00:00:00.000Z",
      apiRequestId = None, etlBatchId = "etl-test-2")
    val all = enriched.union(batch2)

    val (first, wm1) = Warehouse.incrementalDailyWeather(all, None, t1)
    assert(first.count() == 10) // both batches on a cold start
    val (second, wm2) = Warehouse.incrementalDailyWeather(all, Some(wm1), t1)
    assert(second.count() == 0) // nothing newer than the watermark
    assert(wm2 == wm1)
    val batch3 = OpenMeteoIngest.enrich(
      observations, sourceTimestamp = "2026-01-04T00:00:00.000Z",
      apiRequestId = None, etlBatchId = "etl-test-3")
    val (third, wm3) = Warehouse.incrementalDailyWeather(all.union(batch3), Some(wm1), t1)
    assert(third.count() == 5) // only the new batch
    assert(wm3.after(wm1))
  }

  test("serving envelope carries the reference's response keys") {
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val agg = Warehouse.monthlyAgg(daily, loadTime)
    val cache = new ServingCache(spark, () => agg, ttlSec = 1000L, clock = () => 0L)
    cache.refreshNow()
    val env = cache.monthly("Stockton").toJsonEnvelope
    Seq("\"data\":[", "\"source\":\"cache\"", "\"cache_status\":\"active\"",
        "\"sync_status\":\"full\"", "\"ttl_seconds\":1000", "\"count\":2",
        "\"avg_temp_c\"").foreach(k => assert(env.contains(k), s"missing $k in $env"))
  }

  /** A stored monthly_agg, read once: Stockton's months out of order and
    * one month with no temperature (null avg_temp_c), plus a second city. */
  private lazy val storedAgg = {
    def ts(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val load = ts("2026-01-02T00:00:00Z")
    val rows = Seq(
      Row("Stockton", ts("2026-01-01T00:00:00Z"), null, 0.5f, load, 1),
      Row("Lodi", ts("2025-12-01T00:00:00Z"), 6.0f, 0.0f, load, 3),
      Row("Stockton", ts("2025-12-01T00:00:00Z"), 7.5f, 1.25f, load, 4))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "city STRING, month TIMESTAMP, avg_temp_c FLOAT, total_rain_mm FLOAT, " +
        "warehouse_load_time TIMESTAMP, rows_loaded INT")
    val dir = tempDir("served_agg")
    Warehouse.writeMonthlyAgg(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), dir)
    spark.read.parquet(dir)
  }

  /** Spark jobs started while `body` runs, with the listener bus drained
    * before and after so no other window's events are counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try { body; drain(); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("a refresh and a warehouse miss start one Spark job; a hit and status start none") {
    val stored = storedAgg // written and read before any window opens
    var nowMs = 0L
    val cache = new ServingCache(spark, () => stored, ttlSec = 1000L, clock = () => nowMs)
    assert(jobsDuring(cache.refreshNow()) == 1)
    assert(jobsDuring {
      val hit = cache.monthly("Stockton")
      assert(hit.source == "cache" && hit.count == 2)
      hit.toJsonEnvelope
      assert(cache.status.dataCount == 3)
    } == 0)
    nowMs = 1001 * 1000L
    assert(jobsDuring {
      val miss = cache.monthly("Stockton")
      assert(miss.source == "warehouse" && miss.count == 2)
      miss.toJsonEnvelope
    } == 1)
  }

  test("publishing monthly_agg from a daily store read once starts at most 2 Spark jobs") {
    val dir = tempDir("publish_daily")
    Warehouse.writeDailyWeather(Warehouse.toDailyWeather(enriched, loadTime), dir)
    val daily = spark.read.parquet(dir) // schema inferred before the window opens
    val out = tempDir("publish_monthly")
    assert(jobsDuring(Warehouse.writeMonthlyAgg(Warehouse.monthlyAgg(daily, loadTime), out)) <= 2)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("an unknown city served from a valid cache is empty and starts no Spark job") {
    val cache = new ServingCache(spark, () => storedAgg, ttlSec = 1000L, clock = () => 0L)
    cache.refreshNow()
    assert(jobsDuring {
      val r = cache.monthly("Nowhere")
      assert(r.source == "cache" && r.count == 0)
      assert(r.toJsonEnvelope.startsWith("""{"data":[],"source":"cache""""))
    } == 0)
  }

  test("hit and miss render the same rows byte for byte, nulls omitted, in month order") {
    var nowMs = 0L
    val cache = new ServingCache(spark, () => storedAgg, ttlSec = 1000L, clock = () => nowMs)
    cache.refreshNow()
    val hit = cache.monthly("Stockton")
    nowMs = 1001 * 1000L
    val miss = cache.monthly("Stockton")
    val rows =
      """[{"month":"2025-12-01T00:00:00.000Z","avg_temp_c":7.5,"total_rain_mm":1.25,"city":"Stockton",""" +
        """"warehouse_load_time":"2026-01-02T00:00:00.000Z"},""" +
        """{"month":"2026-01-01T00:00:00.000Z","total_rain_mm":0.5,"city":"Stockton",""" +
        """"warehouse_load_time":"2026-01-02T00:00:00.000Z"}]"""
    assert(hit.toJsonEnvelope == s"""{"data":$rows,"source":"cache","cache_status":"active",""" +
      """"sync_status":"full","ttl_seconds":1000,"count":2}""")
    assert(miss.toJsonEnvelope == s"""{"data":$rows,"source":"warehouse","cache_status":"miss",""" +
      """"sync_status":"out-of-sync","ttl_seconds":0,"count":2}""")
    // the lazy data frames hold the rows the envelopes render
    Seq(hit, miss).foreach(r => assert(r.data.toJSON.collect().mkString("[", ",", "]") == rows))
  }

  test("serving counters: hits, misses and stale hits over the S1-S5 boundary sequence") {
    val agg = Warehouse.monthlyAgg(Warehouse.toDailyWeather(enriched, loadTime), loadTime)
    var nowMs = 0L
    val cache = new ServingCache(spark, () => agg, ttlSec = 1000L, clock = () => nowMs)
    cache.monthly("Stockton") // miss: no refresh yet
    cache.refreshNow()
    for (elapsed <- Seq(0L, 399L, 401L, 799L, 801L, 999L)) { // full x2, partial x2, out-of-sync x2
      nowMs = elapsed * 1000L
      cache.monthly("Stockton")
    }
    nowMs = 1001 * 1000L
    cache.monthly("Stockton") // miss: expired
    nowMs = 100 * 1000L
    val st = cache.status
    cache.monthly("Nowhere") // full hit on an unknown city
    val end = cache.status
    assert((st.hits, st.misses, st.stale) == ((6L, 2L, 4L)))
    assert((end.hits, end.misses, end.stale) == ((7L, 2L, 4L)))
  }

  test("E7 layout: month partitioning prunes the fact scan") {
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val dir = tempDir("daily_weather")
    Warehouse.writeDailyWeather(daily, dir)
    // partition dirs exist per month
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("year_month="))
    assert(parts.toSet == Set("year_month=202512", "year_month=202601"))
    // a month filter becomes a PartitionFilter, not a data filter
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val q = spark.read.parquet(dir).filter(col("year_month") === "202512")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year_month"), plan)
    assert(q.count() == 4)
  }

  test("E7/A6 fidelity bindings: write-path roundtrips preserve the in-memory result") {
    // E7: the partitioned+sorted store read back carries exactly the
    // in-memory fact rows, plus a year_month that is the date's label
    val wb = WeatherFidelity.dailyWeatherWriteback(spark, Sf0001)
    val inMem = WeatherFidelity.dailyWeather(spark, Sf0001)
    assert(wb.count() == inMem.count())
    assert(wb.filter(col("year_month") =!= date_format(col("date"), "yyyyMM"))
      .count() == 0)
    // the roundtrip loses no values: anti-join on the total key + one
    // value column in each direction is empty
    val k = Seq("etl_batch_id", "city", "temperatureC")
    assert(wb.select(k.map(col): _*).exceptAll(inMem.select(k.map(col): _*)).count() == 0)
    // A6: written twice, the store equals the single aggregate
    val ma = WeatherFidelity.monthlyAggRewritten(spark, Sf0001).collect()
    val once = WeatherFidelity.monthlyAgg(spark, Sf0001).collect()
    assert(ma.toSeq == once.toSeq)
  }

  test("F1: fetch executes the HTTP GET end-to-end against a loopback server") {
    // loopback HttpServer serving the canned archive body at the same
    // path/query shape as the real API — zero egress, real client code
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/openmeteo_sample.json").getPath)))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/archive", (ex: com.sun.net.httpserver.HttpExchange) => {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      // the production URL with only the host swapped for the loopback
      val url = OpenMeteoIngest
        .buildUrl(startDate = "2025-12-01", endDate = "2025-12-01")
        .replace("https://archive-api.open-meteo.com", s"http://127.0.0.1:$port")
      val staged = OpenMeteoIngest.fetch(url, tempDir("f1_staging"))
      val rows = OpenMeteoIngest.explodeHourly(
        OpenMeteoIngest.readRaw(spark, staged)).collect()
      assert(rows.length == 5, "fetched body must flow through the full explode path")
    } finally server.stop(0)
  }

  test("D1-D5: diagnostics over catalog state") {
    Warehouse.bootstrap(spark)
    spark.sql(s"DROP TABLE IF EXISTS ${Model.MonthlyAggTable}") // clean slate across sbt runs
    val checks0 = Diagnostics.run(spark)
    assert(checks0.map(_.name) == Seq("connection", "database_exists", "table_exists"))
    assert(!checks0.last.ok) // table not registered yet → early return

    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    Warehouse.monthlyAgg(daily, loadTime).write.mode("overwrite")
      .saveAsTable(Model.MonthlyAggTable)
    val checks = Diagnostics.run(spark)
    assert(checks.length == 5 && checks.forall(_.ok))
  }
}
