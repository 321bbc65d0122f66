package graft.weather

/** Canonical constants of the weather engine — SURVEY.md §1: the
  * reference's location and metadata stamp, and the catalog names. Every
  * layer is a DataFrame; the enriched schema is built by
  * `OpenMeteoIngest.enrich`, the warehouse schemas by `Warehouse`.
  */
object Model {

  /** Reference constants (`fetchStocktonWeather.js:10-13`, `:148-155`). */
  val City = "Stockton"
  val State = "CA"
  val Latitude = 37.9575
  val Longitude = -121.2925
  val Author = "Mannu, Darshana, Shradhha, Thai Khoa"
  val SourceDatabase = "open-meteo.com/archive"
  val DataQuality = "as-provided"

  /** Catalog layout: the reference's Mongo/ClickHouse/Redis hops collapse
    * into one layered catalog (SURVEY.md §7). */
  val WarehouseDb = "weather_dw"
  val DailyWeatherTable = s"$WarehouseDb.daily_weather"
  val MonthlyAggTable = s"$WarehouseDb.monthly_agg"
}
