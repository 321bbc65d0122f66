package graft.streaming

import graft.SparkSpec
import graft.weather.{OpenMeteoIngest, Warehouse}
import org.apache.spark.sql.functions._

/** Streaming refresh: enriched dir → Warehouse.monthlyAgg on the stream →
  * foreachBatch-overwritten serving table; asserts the streaming result
  * equals the batch Warehouse.monthlyAgg on the same input. */
class RefreshStreamSpec extends SparkSpec {

  test("AvailableNow refresh materializes the monthly aggregate") {
    val fixture = OpenMeteoIngest.readRaw(
      spark, getClass.getResource("/openmeteo_sample.json").getPath)
    val enriched = OpenMeteoIngest.enrich(
      OpenMeteoIngest.explodeHourly(fixture),
      sourceTimestamp = "2026-01-02T00:00:00.000Z",
      apiRequestId = None, etlBatchId = "etl-stream-1")
    // a foreign-author copy must be filtered out, as the batch path does (E2)
    val foreign = enriched.withColumn("metadata",
      struct(
        col("metadata.source_timestamp"), col("metadata.source_database"),
        col("metadata.data_quality"), col("metadata.api_request_id"),
        col("metadata.etl_batch_id"), lit("someone else").as("author")))
    val input = enriched.union(foreign)

    val enrichedDir = tempDir("enriched_stream")
    val servingDir = tempDir("serving_stream") + "/out"
    val ckptDir = tempDir("ckpt_stream")
    input.write.mode("overwrite").parquet(enrichedDir)

    val q = RefreshStream.start(spark, enrichedDir, servingDir, ckptDir)
    q.awaitTermination(120000L)

    val loadTime = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val served = spark.read.parquet(servingDir).drop("warehouse_load_time")
    val batch = Warehouse.monthlyAgg(Warehouse.toDailyWeather(input, loadTime), loadTime)
      .drop("warehouse_load_time")
    // same columns, same types (a parquet read-back is all nullable), same rows
    def typed(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(typed(served) == typed(batch))
    val got = served.orderBy("month", "city").collect()
    assert(got.toSeq == batch.orderBy("month", "city").collect().toSeq)
    assert(got.length == 2)
    // incremental append → re-trigger updates the serving table idempotently
    enriched.limit(0).write.mode("append").parquet(enrichedDir)
    val q2 = RefreshStream.start(spark, enrichedDir, servingDir, ckptDir)
    q2.awaitTermination(120000L)
    assert(spark.read.parquet(servingDir).count() == got.length)
  }
}
