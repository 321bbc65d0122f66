package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.weather.{OpenMeteoIngest, ServingCache, Warehouse}

/** Logical clock handed to `ServingCache`: each operation sets the tick
  * its thread reads, so the cache's TTL arithmetic is a function of the
  * request counter, not of wall time. */
object LogicalClock {
  private val tick = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  def set(ms: Long): Unit = tick.set(ms)
  def now(): Long = tick.get
}

/** The weather pipeline under test: staged Open-Meteo JSON → enriched
  * store → `daily_weather` → `monthly_agg` → serving cache, rooted at
  * `root`. Every call into the program goes through a tracer span. */
final class Lake(spark: SparkSession, root: Path, tracer: Tracer, val ttlSec: Long) {
  private val enriched = root.resolve("enriched").toString
  private val daily = root.resolve("daily_weather").toString
  private val monthlyPath = root.resolve("monthly_agg").toString
  /** The `monthly_agg` store the serving cache reads; see [[publishMonthly]]. */
  @volatile private var servedPath = monthlyPath
  val staging: Path = root.resolve("staging")
  val loadTime: Timestamp = Lake.loadTimeOf(0)
  private var watermark: Option[Timestamp] = None
  /** Data files and bytes the warehouse writes put on disk in traced
    * operations. */
  var filesWritten, bytesWritten = 0L

  val cache = new ServingCache(spark, () => spark.read.parquet(servedPath), ttlSec, () => LogicalClock.now())

  /** Source timestamp of batch `n` (0 = backfill); strictly increasing. */
  def sourceTs(n: Int): String = loadTime.toLocalDateTime.plusMinutes(n.toLong).toString.replace('T', ' ') + ":00"

  def ingest(staged: Path, city: String, batch: Int): Unit = {
    val raw = tracer.span("ingest", "readRaw")(OpenMeteoIngest.readRaw(spark, staged.toString))
    val obs = tracer.span("ingest", "explodeHourly")(OpenMeteoIngest.explodeHourly(raw))
    val enr = tracer.span("ingest", "enrich")(OpenMeteoIngest.enrich(obs, city, "CA",
      sourceTs(batch), Some(s"req-$batch"), s"batch-$batch"))
    tracer.span("ingest", "writeEnriched")(OpenMeteoIngest.writeEnriched(enr, enriched))
  }

  /** Full load of everything ingested so far (the backfill path). */
  def loadAll(): Unit = {
    val rows = tracer.span("warehouse", "toDailyWeather")(
      Warehouse.toDailyWeather(spark.read.parquet(enriched), loadTime))
    written(daily, overwrite = false)(
      tracer.span("warehouse", "writeDailyWeather")(Warehouse.writeDailyWeather(rows, daily)))
    watermark = Some(Timestamp.valueOf(sourceTs(0)))
    aggregate()
  }

  /** Watermarked load of the rows ingested since the last load. */
  def loadIncremental(): Unit = {
    val (rows, wm) = tracer.span("warehouse", "incrementalDailyWeather")(
      Warehouse.incrementalDailyWeather(spark.read.parquet(enriched), watermark, loadTime))
    written(daily, overwrite = false)(
      tracer.span("warehouse", "writeDailyWeather")(Warehouse.writeDailyWeather(rows, daily)))
    watermark = Some(wm)
    aggregate()
  }

  private def aggregate(): Unit = {
    val agg = tracer.span("warehouse", "monthlyAgg")(Warehouse.monthlyAgg(spark.read.parquet(daily), loadTime))
    written(monthlyPath, overwrite = true)(
      tracer.span("warehouse", "writeMonthlyAgg")(Warehouse.writeMonthlyAgg(agg, monthlyPath)))
  }

  private def written(path: String, overwrite: Boolean)(body: => Unit): Unit =
    if (!tracer.recording) body
    else {
      val (f0, b0) = if (overwrite) (0L, 0L) else Lake.dataFiles(Path.of(path))
      body
      val (f1, b1) = Lake.dataFiles(Path.of(path))
      filesWritten += f1 - f0
      bytesWritten += b1 - b0
    }

  /** Rebuilds `monthly_agg` from `daily_weather` into a store of its own,
    * stamped with load time `Lake.loadTimeOf(version)`, and points the
    * serving cache's source at it. Earlier stores stay on disk, so a read
    * planned against one still finds its files, and every served row
    * names the version it came from. */
  def publishMonthly(version: Long): Unit = {
    val path = root.resolve(s"monthly_agg_v$version").toString
    val agg = tracer.span("warehouse", "monthlyAgg")(
      Warehouse.monthlyAgg(spark.read.parquet(daily), Lake.loadTimeOf(version)))
    tracer.span("warehouse", "writeMonthlyAgg")(Warehouse.writeMonthlyAgg(agg, path))
    servedPath = path
  }

  def refresh(tick: Long): Unit = {
    LogicalClock.set(tick)
    tracer.span("serving", "refreshNow")(cache.refreshNow())
  }

  /** One `GET /api/monthly` at logical time `tick`: (source, sync status,
    * ttl seconds, envelope). */
  def serve(city: String, tick: Long): (String, String, Long, String) = {
    LogicalClock.set(tick)
    val r = tracer.span("serving", "monthly")(cache.monthly(city))
    val env = tracer.span("serving", "toJsonEnvelope")(r.toJsonEnvelope)
    (r.source, r.syncStatus, r.ttlSeconds, env)
  }

  def status(): graft.weather.Serving.CacheStatus = tracer.span("serving", "status")(cache.status)

  /** Bytes on disk of the enriched, daily and monthly stores. */
  def bytesOnDisk(): Long =
    Seq(enriched, daily, monthlyPath).map(p => Lake.dataFiles(Path.of(p))._2).sum

  /** The served `monthly_agg`, as comparable tuples. */
  def storedMonthly(): Seq[(String, String, Option[Double], Double, Long)] =
    spark.read.parquet(servedPath).collect().toSeq.map { r =>
      (r.getAs[String]("city"), r.getAs[Timestamp]("month").toLocalDateTime.toLocalDate.toString.take(7),
        Option(r.getAs[java.lang.Float]("avg_temp_c")).map(_.toDouble),
        r.getAs[Float]("total_rain_mm").toDouble, r.getAs[Int]("rows_loaded").toLong)
    }.sorted
}

object Lake {
  private val base = java.time.LocalDateTime.of(2025, 1, 1, 0, 0)

  /** Warehouse load time of `monthly_agg` version `v`: `v` minutes after
    * the backfill's (version 0). */
  def loadTimeOf(v: Long): Timestamp = Timestamp.valueOf(base.plusMinutes(v))

  /** The version a served `warehouse_load_time` (ISO-8601 with offset, as
    * `toJSON` writes it) names, if it names one. */
  def versionOf(served: String): Option[Long] =
    scala.util.Try(java.time.OffsetDateTime.parse(served).toLocalDateTime).toOption
      .map(t => java.time.Duration.between(base, t))
      .filter(d => !d.isNegative && d.toSeconds % 60 == 0 && d.getNano == 0)
      .map(_.toMinutes)

  /** (count, bytes) of the parquet data files under `p`. */
  def dataFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val sizes = s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .map(Files.size).toSeq
        (sizes.size.toLong, sizes.sum)
      } finally s.close()
    }
}
