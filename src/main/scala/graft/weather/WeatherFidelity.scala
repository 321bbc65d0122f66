package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hash-green oracle bindings for the weather-fidelity layer — the
  * SURVEY §2 anchors that were previously spec-only (E2-E7 flattening
  * ETL, A1-A6 monthly aggregate over the REAL warehouse code path, and
  * the ServingCache C4/C6/S4 TTL math), now judged by the same
  * per-round DuckDB gate as everything else.
  *
  * The enriched-observation fixture is DERIVED deterministically from
  * the driver's `events` table (the snapshotDiff convention: both
  * engines replay the same derivation, so the fixture scales with SF
  * instead of being a frozen VALUES list). Derivation rules exercise
  * every fidelity seam:
  *  - nested location/metadata structs → E3's flattening projection;
  *  - author = 'other' on every 4th event → E2's nested-field filter
  *    has real selectivity;
  *  - temperature/rainfall are QUARTER-unit dyadics (floor(x·4)/4):
  *    double sums of quarters are exact at any row count and any
  *    partitioning, so the monthly avg/sum is order-independent and
  *    bit-identical to DuckDB without the decimal route;
  *  - every 13th source_timestamp is invalid → E5's
  *    to_timestamp-invalid→null normalization is value-checked;
  *  - every 5th api_request_id is null → E6's coalesce default;
  *  - etl_batch_id carries the event_id → a total, non-null ORDER BY
  *    key for the row-level dump (hash compare needs a total order).
  *
  * Reference provenance: enrichment shape `fetchStocktonWeather.js:
  * 148-155,189-193`; ETL flattening `etlToClickHouse.js:99-122`;
  * monthly aggregate `etlToClickHouse.js:157-173`; TTL staleness
  * `backend/routes/monthly.js:35-42`.
  */
object WeatherFidelity {

  /** Injected warehouse clock (A3) — epoch ms of 2024-02-01T00:00:00Z. */
  val LoadTimeMs = 1706745600000L
  private def loadTime = new java.sql.Timestamp(LoadTimeMs)

  /** The derived enriched-observation table (nested structs included). */
  def derivedEnriched(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.Tables(spark, dir, "events")
    val quarters = (c: org.apache.spark.sql.Column) => floor(c * 4) / 4
    ev.select(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm").as("timestamp"),
      when(col("user_id") % 11 =!= 0, quarters(col("value")) - 20.0)
        .as("temperatureC"),
      (when(col("user_id") % 11 =!= 0, quarters(col("value")) - 20.0)
        * 9 / 5 + 32).as("temperatureF"),
      (col("user_id") % 101).cast(DoubleType).as("humidityPercent"),
      (floor(col("value")) / 4).as("rainfallMm"),
      (col("user_id") % 30).cast(DoubleType).as("windSpeedMps"),
      (col("event_id") % 45).cast(DoubleType).as("windGustMps"),
      struct(
        when(col("user_id") % 3 === 0, "Stockton")
          .when(col("user_id") % 3 === 1, "Lodi")
          .otherwise("Manteca").as("city"),
        lit("CA").as("state")).as("location"),
      struct(
        when(col("user_id") % 13 === 0, lit("not-a-timestamp"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .as("source_timestamp"),
        lit("mongo").as("source_database"),
        lit("high").as("data_quality"),
        when(col("user_id") % 5 =!= 0,
          concat(lit("req-"), col("event_id"))).as("api_request_id"),
        concat(lit("batch-"), col("event_id")).as("etl_batch_id"),
        when(col("event_id") % 4 === 0, "other")
          .otherwise(Model.Author).as("author")).as("metadata"))
  }

  /** The shared derivation, replayed for DuckDB — kept NEXT TO the
    * Spark form so the two cannot drift apart silently. */
  val derivedEnrichedSql: String =
    s"""en AS (
      |  SELECT strftime(ts, '%Y-%m-%dT%H:%M') AS ts_str,
      |         CASE WHEN user_id % 11 <> 0
      |              THEN floor(value * 4) / 4 - 20.0 END AS temperatureC,
      |         CASE WHEN user_id % 11 <> 0
      |              THEN (floor(value * 4) / 4 - 20.0) * 9 / 5 + 32 END AS temperatureF,
      |         CAST(user_id % 101 AS DOUBLE) AS humidityPercent,
      |         floor(value) / 4 AS rainfallMm,
      |         CAST(user_id % 30 AS DOUBLE) AS windSpeedMps,
      |         CAST(event_id % 45 AS DOUBLE) AS windGustMps,
      |         CASE user_id % 3 WHEN 0 THEN 'Stockton' WHEN 1 THEN 'Lodi'
      |              ELSE 'Manteca' END AS city,
      |         'CA' AS state,
      |         CASE WHEN user_id % 13 = 0 THEN 'not-a-timestamp'
      |              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS src_ts_str,
      |         CASE WHEN user_id % 5 <> 0
      |              THEN 'req-' || CAST(event_id AS VARCHAR) END AS api_request_id,
      |         'batch-' || CAST(event_id AS VARCHAR) AS etl_batch_id,
      |         CASE WHEN event_id % 4 = 0 THEN 'other'
      |              ELSE '${Model.Author}' END AS author
      |  FROM events),
      |dw AS (
      |  SELECT CAST(CAST(substr(ts_str, 1, 10) AS DATE) AS TIMESTAMP) AS date,
      |         CAST(temperatureC AS REAL) AS temperatureC,
      |         CAST(temperatureF AS REAL) AS temperatureF,
      |         CAST(humidityPercent AS REAL) AS humidityPercent,
      |         CAST(rainfallMm AS REAL) AS rainfallMm,
      |         CAST(windSpeedMps AS REAL) AS windSpeedMps,
      |         CAST(windGustMps AS REAL) AS windGustMps,
      |         city, state,
      |         TRY_CAST(src_ts_str AS TIMESTAMP) AS source_timestamp,
      |         'mongo' AS source_database, 'high' AS data_quality,
      |         coalesce(api_request_id, '') AS api_request_id,
      |         etl_batch_id, author,
      |         TIMESTAMP '2024-02-01 00:00:00' AS warehouse_load_time,
      |         CAST(1 AS INTEGER) AS rows_loaded,
      |         CAST(60 AS INTEGER) AS sync_interval_min,
      |         'incremental' AS load_mode
      |  FROM en WHERE author = '${Model.Author}')""".stripMargin

  /** The daily_weather rows through the REAL Warehouse.toDailyWeather —
    * E2 (nested filter), E3 (flattening), E4 (substr → date), E5
    * (invalid ts → null), E6 (null default), A3/A5 (injected clock +
    * audit literals) value-checked row by row. DATE output is cast to
    * timestamp (the oracle-parity rule). */
  def dailyWeather(spark: SparkSession, dir: String): DataFrame =
    Warehouse.toDailyWeather(derivedEnriched(spark, dir), loadTime)
      .withColumn("date", col("date").cast(TimestampType))
      .orderBy("etl_batch_id")

  /** A1-A6 through the REAL Warehouse.monthlyAgg over the float32 fact
    * rows — exact because every summand is a quarter-unit dyadic. The
    * aggregate is unordered, so the oracle's total order is applied here. */
  def monthlyAgg(spark: SparkSession, dir: String): DataFrame =
    Warehouse.monthlyAgg(
      Warehouse.toDailyWeather(derivedEnriched(spark, dir), loadTime),
      loadTime)
      .orderBy("month", "city")

  /** One ServingCache read at a controlled clock: refresh at t0, serve
    * at t0 + ageSec — C1/C2 (per-city split in month order), C3/C4
    * (snapshot + version/TTL), S1 (cache-vs-warehouse source), S3
    * (double casts), S4 (staleness) all pinned by value. The clock is a closure
    * over a mutable cell, so the TTL arithmetic is deterministic. */
  private def servedAt(spark: SparkSession, dir: String,
      ageSec: Long, city: String): DataFrame = {
    var nowMs = LoadTimeMs
    val cache = new ServingCache(spark, () => monthlyAgg(spark, dir),
      ttlSec = 3600L, clock = () => nowMs)
    cache.refreshNow()
    nowMs = LoadTimeMs + ageSec * 1000L
    val r = cache.monthly(city)
    r.data.select(
      col("month"), col("avg_temp_c"), col("total_rain_mm"),
      col("city"), col("warehouse_load_time"),
      lit(r.source).as("source"),
      lit(r.syncStatus).as("sync_status"),
      lit(r.ttlSeconds).as("ttl_seconds"),
      lit(r.count).as("n_rows"))
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(); ()
  }

  /** This JVM's scratch root, `java.io.tmpdir/graft_weather_<token>`: the
    * token is drawn once per JVM, so two processes verifying the same
    * fixture at once never share a store. Removed when the JVM exits. */
  private lazy val scratchRoot: java.io.File = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_weather_" + java.util.UUID.randomUUID().toString.take(8))
    sys.addShutdownHook(rm(d))
    d
  }

  /** Per-fixture scratch store for the write-path roundtrips — rebuilt
    * from empty on every call so append-mode writes stay deterministic
    * across Verify reps. */
  private def scratchDir(tag: String, dir: String): String = {
    val d = new java.io.File(scratchRoot, s"${tag}_" + Integer.toHexString(dir.hashCode))
    if (d.exists()) rm(d)
    d.getAbsolutePath
  }

  /** E7 through the REAL Warehouse.writeDailyWeather: the fact rows go
    * to parquet with the MergeTree-equivalent layout (month partitions,
    * city/date sort within), then the STORE is read back and dumped
    * row-level — so the write+read roundtrip, including the derived
    * year_month partition column, satisfies the same DuckDB recompute
    * as the in-memory form. (The partition-pruning access path the
    * layout buys is plan-spec-pinned in WeatherPipelineSpec; this entry
    * pins the VALUES that survive the roundtrip.) */
  def dailyWeatherWriteback(spark: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("wb", dir)
    Warehouse.writeDailyWeather(
      Warehouse.toDailyWeather(derivedEnriched(spark, dir), loadTime), path)
    spark.read.parquet(path)
      .withColumn("date", col("date").cast(TimestampType))
      // partition-column type inference reads "202402" as INT; the
      // layout's contract is the month LABEL, so pin it to string
      .withColumn("year_month", col("year_month").cast(StringType))
      .orderBy("etl_batch_id")
  }

  /** A6 idempotence through the REAL Warehouse.writeMonthlyAgg: the
    * monthly aggregate is written TWICE to the same store (the
    * documented divergence from the reference, whose INSERT-SELECT
    * re-runs append duplicate months — SURVEY §1.5); the read-back must
    * match the single-run aggregate exactly, proving overwrite
    * semantics made the re-run a no-op. */
  def monthlyAggRewritten(spark: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("ma", dir)
    val ma = monthlyAgg(spark, dir)
    Warehouse.writeMonthlyAgg(ma, path)
    Warehouse.writeMonthlyAgg(ma, path)
    spark.read.parquet(path).orderBy("month", "city")
  }

  /** Fresh-but-aging cache: 2000 s of 3600 s TTL elapsed → remaining
    * 1600 s sits in [20%, 60%) of the interval → served from CACHE with
    * sync_status 'partial' (`monthly.js:35-42` thresholds). */
  def servingPartial(spark: SparkSession, dir: String): DataFrame =
    servedAt(spark, dir, ageSec = 2000L, city = "Stockton")

  /** Expired cache: TTL exhausted → the read falls through to the
    * WAREHOUSE and reports 'out-of-sync' (`monthly.js:98-105`). */
  def servingExpired(spark: SparkSession, dir: String): DataFrame =
    servedAt(spark, dir, ageSec = 4000L, city = "Lodi")
}
