package graft.streaming

import graft.weather.Warehouse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming refresh — the reference's manual re-run + 5-minute dashboard
  * poll (SURVEY.md §2 U3/C7) as a Structured Streaming job.
  *
  * enriched parquet dir (append-only) → `Warehouse.monthlyAgg` over
  * `Warehouse.toDailyWeather` (the batch operator, run on the streaming
  * frame) → foreachBatch overwrite of the serving table.
  * `Trigger.AvailableNow` gives the reference's "sync now" semantics
  * (process everything, stop); `Trigger.ProcessingTime` gives the 5-minute
  * cadence. The `complete` output mode keeps every group in the
  * aggregation state, so the state holds one row per (city, month): it
  * grows with months of history, not with observations.
  */
object RefreshStream {

  /** Build the streaming monthly aggregate over an enriched-layer
    * directory (same schema as OpenMeteoIngest.enrich output). Its
    * `warehouse_load_time` is the time the stream was built; [[start]]
    * restamps it per micro-batch. */
  def monthlyAggStream(spark: SparkSession, enrichedPath: String): DataFrame = {
    val schema = spark.read.parquet(enrichedPath).schema
    val stream = spark.readStream.schema(schema).parquet(enrichedPath)
    val loadTime = new java.sql.Timestamp(System.currentTimeMillis())
    Warehouse.monthlyAgg(Warehouse.toDailyWeather(stream, loadTime), loadTime)
  }

  /** Run one refresh pass (AvailableNow) or a cadence (ProcessingTime),
    * overwriting the serving parquet each micro-batch — the idempotent
    * twin of the reference's cache rebuild. */
  def start(
      spark: SparkSession,
      enrichedPath: String,
      servingPath: String,
      checkpointPath: String,
      cadence: Option[String] = None): StreamingQuery = {
    val trigger = cadence.map(Trigger.ProcessingTime(_)).getOrElse(Trigger.AvailableNow())
    monthlyAggStream(spark, enrichedPath).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.withColumn("warehouse_load_time", current_timestamp())
          .write.mode("overwrite").parquet(servingPath)
      }
      .start()
  }
}
