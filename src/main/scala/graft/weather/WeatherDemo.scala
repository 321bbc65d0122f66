package graft.weather

import graft.GraftSession

/** Executable example of the weather engine's public surface: fixture
  * JSON → ingest → warehouse → monthly aggregate → cached serving read.
  * Run: sbt "runMain graft.weather.WeatherDemo [fixture.json]" */
object WeatherDemo {
  def main(args: Array[String]): Unit = {
    val fixture = args.headOption.getOrElse("src/test/resources/openmeteo_sample.json")
    val spark = GraftSession.get("weather-demo")

    val raw = OpenMeteoIngest.readRaw(spark, fixture)
    val enriched = OpenMeteoIngest.enrich(
      OpenMeteoIngest.explodeHourly(raw),
      sourceTimestamp = "2026-01-02T00:00:00.000Z",
      apiRequestId = None, etlBatchId = "etl-demo")
    val loadTime = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val daily = Warehouse.toDailyWeather(enriched, loadTime)
    val agg = Warehouse.monthlyAgg(daily, loadTime)
    println("=== monthly_agg ===")
    agg.orderBy("month", "city").show(truncate = false)

    val cache = new ServingCache(spark, () => agg, ttlSec = 3600)
    cache.refreshNow()
    val res = cache.monthly(Model.City)
    println(s"=== serve source=${res.source} status=${res.syncStatus} ttl=${res.ttlSeconds}s count=${res.count} ===")
    res.data.show(truncate = false)
    println("fetch URL: " + OpenMeteoIngest.buildUrl(startDate = "2025-12-01", endDate = "2025-12-02"))
    println("unknown-city count: " + cache.monthly("Fresno").count)
    val st = cache.status
    println(s"=== cache ${st.dataVersion} rows=${st.dataCount} hits=${st.hits} misses=${st.misses} stale=${st.stale} ===")
    spark.stop()
  }
}
