package graft.weather

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.SessionMemo

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

  /** What a bare, non-streaming parquet scan reads: the scan's canonical
    * plan plus the sorted (path, length, mtime) of every file in the
    * listing the scan already made. Two scans with equal versions read the
    * same rows. */
  final case class StoreVersion(plan: LogicalPlan, files: Seq[(String, Long, Long)]) {
    override def toString: String = f"store#$hashCode%08x"
  }

  /** The version of `df` if it is a bare, non-streaming scan of a file
    * listing; None for anything derived by a query and for streams.
    * Reading it starts no Spark job and makes no filesystem call. */
  def storeVersion(df: DataFrame): Option[StoreVersion] = df.queryExecution.analyzed match {
    case scan: LogicalRelation if !scan.isStreaming => scan.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case listing: InMemoryFileIndex =>
          val files = listing.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          Some(StoreVersion(scan.canonicalized, files.sorted.toSeq))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def local(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** One daily version's lazy aggregate; its rows are collected the first
    * time they are asked for. */
  private final class Sighting(agg: DataFrame) {
    private lazy val rows = agg.collect()

    /** The rows as a driver-local frame stamped with `loadTime`. */
    def at(loadTime: java.sql.Timestamp): DataFrame = {
      val i = agg.schema.fieldIndex("warehouse_load_time")
      local(agg.sparkSession, rows.map(r => Row.fromSeq(r.toSeq.updated(i, loadTime))), agg.schema)
    }
  }

  /** A1-A6 — THE core analytical query (`etlToClickHouse.js:157-173`):
    * city × month, avg temp, total rain, count, audit literals.
    * Unordered; readers sort: the reference's `ORDER BY` sets no stored
    * order either, because the MergeTree key orders `monthly_agg`
    * (SURVEY.md §1.5) and every reader sorts for itself. The one
    * definition serves batch and stream alike (`RefreshStream` runs it
    * on a streaming frame).
    *
    * Second-sight rule: when `daily` is a bare parquet scan, its
    * [[storeVersion]] is remembered (one per session). The first
    * aggregate of a version is the lazy query; the second collects that
    * query once (at most |cities|×|months| rows); it and every later call
    * of the same version return a driver-local frame of those rows stamped
    * with the caller's `loadTime`. A batch pipeline, which aggregates each
    * daily version once, keeps its lazy plan; a publisher that re-publishes
    * an unchanged store stops re-scanning it. Any other input (a derived
    * frame, a stream) is always the lazy query.
    *
    * Divergence (documented, SURVEY.md §1.5): the reference INSERT-SELECTs
    * with no dedup so re-runs append duplicate months; this engine pairs
    * the same query result with overwrite semantics (writeMonthlyAgg),
    * keeping first-run results identical and re-runs idempotent. */
  def monthlyAgg(daily: DataFrame, loadTime: java.sql.Timestamp): DataFrame = {
    val agg = daily
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
    storeVersion(daily).fold(agg) { version =>
      var first = false
      val seen = SessionMemo.latest(daily.sparkSession, "warehouse.monthlyAgg", version) {
        first = true
        new Sighting(agg)
      }
      if (first) agg else seen.at(loadTime)
    }
  }

  /** Rows [[writeMonthlyAgg]] wrote, with the schema a read of the store has. */
  private final case class Published(schema: StructType, rows: Array[Row])

  /** Per-path write locks, striped so the set stays bounded. */
  private val writeLocks = Array.fill(16)(new Object)

  /** A6 with idempotent semantics: overwrites the whole store.
    *
    * A driver-local frame (what [[monthlyAgg]] returns from its second
    * sight on) is written as one file; then, under the same per-path lock,
    * the store's data files are listed (a Hadoop FS listing, no Spark job)
    * and (store version → rows, schema) is remembered, one per session,
    * for [[published]]. It is remembered only if every listed file's mtime
    * lies inside this write's own window, so files another writer put
    * there are never taken for these rows. Any other frame is written as
    * the lazy query it is. */
  def writeMonthlyAgg(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val qualified = new Path(path)
    val key = qualified.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(qualified).toString
    writeLocks(Math.floorMod(key.hashCode, writeLocks.length)).synchronized {
      df.queryExecution.logical match {
        case _: LocalRelation =>
          // filesystems keep mtimes at up to whole-second granularity
          val from = System.currentTimeMillis() / 1000 * 1000
          df.coalesce(1).write.mode("overwrite").parquet(path)
          val stored = spark.read.schema(df.schema).parquet(path)
          val until = System.currentTimeMillis()
          storeVersion(stored)
            .filter(_.files.forall { case (_, _, mtime) => mtime >= from && mtime <= until })
            .foreach(v => SessionMemo.latest(spark, "warehouse.published", v)(Published(stored.schema, df.collect())))
        case _ =>
          df.write.mode("overwrite").parquet(path)
      }
    }
  }

  /** The rows of `source` as a driver-local frame, with no Spark job, when
    * `source` is a bare scan of the store version [[writeMonthlyAgg]] last
    * remembered in this session; None otherwise (the caller queries). */
  def published(source: DataFrame): Option[DataFrame] =
    storeVersion(source)
      .flatMap(v => SessionMemo.get[Published](source.sparkSession, "warehouse.published", v))
      .map(p => local(source.sparkSession, p.rows, p.schema))

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
