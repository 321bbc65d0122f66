package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse stage — SURVEY.md §2 E1-E8 + A1-A6 (`etlToClickHouse.js`).
  *
  * The ClickHouse MergeTree layout (`PARTITION BY toYYYYMM(date)
  * ORDER BY (city, date)`, `etlToClickHouse.js:53-55`) maps to parquet
  * `partitionBy(year_month)` + `sortWithinPartitions(city, date)`: month
  * partitions prune date-range scans, the within-partition sort gives
  * clustered page-stat skipping on city — the same two access-path
  * properties, Spark-native. At 100 TB the month partitioning also bounds
  * every incremental load to touched partitions only.
  */
object Warehouse {

  /** E1 — catalog bootstrap (`etlToClickHouse.js:17-60`). */
  def bootstrap(spark: SparkSession): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${Model.WarehouseDb}")

  /** E2-E6 — enriched → fact rows (`etlToClickHouse.js:74-122`):
    * nested-field author filter (pushed to the parquet scan), flattening
    * projection with renames, `timestamp.slice(0,10)` date, timestamp
    * normalization (invalid → null via `try_to_timestamp`), null-safe
    * api_request_id default, audit columns.
    *
    * @param loadTime injectable clock (the reference's `nowCH`) so tests
    *                 and reruns are deterministic.
    */
  def toDailyWeather(
      enriched: DataFrame,
      loadTime: java.sql.Timestamp,
      author: String = Model.Author): DataFrame =
    enriched
      .filter(col("metadata.author") === author)
      .select(
        to_date(substring(col("timestamp"), 1, 10)).as("date"),
        col("temperatureC").cast(FloatType),
        col("temperatureF").cast(FloatType),
        col("humidityPercent").cast(FloatType),
        col("rainfallMm").cast(FloatType),
        col("windSpeedMps").cast(FloatType),
        col("windGustMps").cast(FloatType),
        col("location.city").as("city"),
        col("location.state").as("state"),
        // invalid → null (the reference's toCHDateTime contract,
        // `etlToClickHouse.js:82-97`); under ANSI mode (Spark 4
        // default) plain to_timestamp THROWS on malformed input, so
        // the null-tolerant form must be explicit
        try_to_timestamp(col("metadata.source_timestamp")).as("source_timestamp"),
        col("metadata.source_database").as("source_database"),
        col("metadata.data_quality").as("data_quality"),
        coalesce(col("metadata.api_request_id"), lit("")).as("api_request_id"),
        col("metadata.etl_batch_id").as("etl_batch_id"),
        col("metadata.author").as("author"),
        lit(loadTime).as("warehouse_load_time"),
        lit(1).as("rows_loaded"),
        lit(60).as("sync_interval_min"),
        lit("incremental").as("load_mode"))

  /** E7 — fact append with the MergeTree-equivalent layout. */
  def writeDailyWeather(df: DataFrame, path: String): Unit =
    df.withColumn("year_month", date_format(col("date"), "yyyyMM"))
      .repartition(col("year_month"))
      .sortWithinPartitions("city", "date")
      .write.mode("append")
      .partitionBy("year_month")
      .parquet(path)

  /** A1-A6 — THE core analytical query (`etlToClickHouse.js:157-173`):
    * city × month, avg temp, total rain, count, audit literals.
    * Unordered; readers sort: the reference's `ORDER BY` sets no stored
    * order either, because the MergeTree key orders `monthly_agg`
    * (SURVEY.md §1.5) and every reader sorts for itself. The one
    * definition serves batch and stream alike (`RefreshStream` runs it
    * on a streaming frame).
    * Divergence (documented, SURVEY.md §1.5): the reference INSERT-SELECTs
    * with no dedup so re-runs append duplicate months; this engine pairs
    * the same query result with overwrite semantics (writeMonthlyAgg),
    * keeping first-run results identical and re-runs idempotent. */
  def monthlyAgg(daily: DataFrame, loadTime: java.sql.Timestamp): DataFrame =
    daily
      .groupBy(col("city"), date_trunc("month", col("date")).as("month"))
      .agg(
        avg(col("temperatureC")).cast(FloatType).as("avg_temp_c"),
        sum(col("rainfallMm")).cast(FloatType).as("total_rain_mm"),
        count(lit(1)).cast(IntegerType).as("rows_loaded"))
      .select(
        col("city"), col("month"), col("avg_temp_c"), col("total_rain_mm"),
        lit(loadTime).as("warehouse_load_time"),
        col("rows_loaded"),
        lit("incremental").as("load_mode"),
        lit(0).as("sync_interval_min"))

  /** A6 with idempotent semantics: overwrites the whole store. */
  def writeMonthlyAgg(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** TRUE incremental load — the semantics the reference *claims*
    * (`load_mode='incremental'`, `etlToClickHouse.js:121`) but does not
    * implement (its author-filter find re-reads everything every run,
    * SURVEY.md §4). A high-watermark on the enrichment timestamp bounds
    * each run to new batches; at 100 TB this is the difference between
    * scanning one ingest slice and scanning the table. Returns the rows
    * to append and the new watermark. */
  def incrementalDailyWeather(
      enriched: DataFrame,
      highWatermark: Option[java.sql.Timestamp],
      loadTime: java.sql.Timestamp,
      author: String = Model.Author): (DataFrame, java.sql.Timestamp) = {
    val fresh = highWatermark match {
      case Some(wm) => enriched.filter(try_to_timestamp(col("metadata.source_timestamp")) > lit(wm))
      case None => enriched
    }
    val rows = toDailyWeather(fresh, loadTime, author)
    val newWm = fresh.agg(max(try_to_timestamp(col("metadata.source_timestamp")))).collect()(0)
    (rows, Option(newWm.getTimestamp(0)).orElse(highWatermark).getOrElse(loadTime))
  }
}
