package graft.weather

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Serving stage — SURVEY.md §2 C1-C7, S1-S7, D1-D5
  * (`clickhouseToRedis.js`, `backend/routes/monthly.js`,
  * `backend/routes/cache.js`, `backend/routes/diagnostics.js`).
  *
  * The Redis TTL cache becomes a persisted DataFrame + freshness
  * metadata: a hit is an InMemoryTableScan, a miss re-plans against the
  * warehouse, and staleness is a pure function of stored timestamps —
  * one code path instead of the reference's two.
  */
object Serving {

  /** S4 — staleness classification (`monthly.js:35-42`): remaining TTL
    * under 20% of the refresh interval → out-of-sync, under 60% →
    * partial, else full. Exposed as a column so it can run distributed
    * or per-payload. */
  def syncStatus(ttlSeconds: Column, refreshIntervalSec: Column): Column =
    when(ttlSeconds < refreshIntervalSec * 0.2, "out-of-sync")
      .when(ttlSeconds < refreshIntervalSec * 0.6, "partial")
      .otherwise("full")

  final case class CacheStatus(
      cacheValid: Boolean, ttlSeconds: Long, ttlMinutes: Long,
      dataCount: Long, cacheTimestamp: java.sql.Timestamp, dataVersion: String)

  /** One refresh's materialized frame, stamp and version. */
  private[weather] final case class Snapshot(
      frame: Option[DataFrame], stampMs: Long, version: String)

  final case class MonthlyResult(
      data: DataFrame, source: String, syncStatus: String,
      ttlSeconds: Long, count: Long) {

    /** The `GET /api/monthly` response envelope
      * (`backend/routes/monthly.js:44-52,98-105`): data rows + source /
      * cache_status / sync_status / ttl_seconds / count. */
    def toJsonEnvelope: String = {
      val rows = data.toJSON.collect().mkString("[", ",", "]")
      val cacheStatus = if (source == "cache") "active" else "miss"
      s"""{"data":$rows,"source":"$source","cache_status":"$cacheStatus",""" +
        s""""sync_status":"$syncStatus","ttl_seconds":$ttlSeconds,"count":$count}"""
    }
  }
}

/** The cache-or-warehouse read path. `refresh()` = the reference's
  * `clickhouseToRedis.js` materialization (C1-C5); `monthly(city)` = the
  * `GET /api/monthly` route (S1-S5); `status` = `cache.js` introspection
  * (C6); `refreshNow()` = the `POST /sync-now` trigger (C7).
  *
  * @param ttlSec cache TTL (the reference's REDIS_TTL_SEC, default 3600)
  * @param clock  injectable for deterministic staleness tests
  */
final class ServingCache(
    spark: SparkSession,
    monthlyAggSource: () => DataFrame,
    ttlSec: Long = 3600L,
    clock: () => Long = () => System.currentTimeMillis()) {

  import Serving._

  /** What the last refresh published, in ONE reference: a reader sees a
    * frame with the stamp and version of the refresh that built it,
    * never a mix of two. */
  @volatile private var snapshot = Snapshot(None, 0L, "v0")

  /** C1-C4: scan + (city, month) sort + persist + version stamp.
    * The reference scans all cities then filters client-side
    * (`clickhouseToRedis.js:55`); here the city filter in `monthly()` is
    * pushed below this sort by Catalyst — same results, one scan less.
    * The new frame is materialized before it is published, and the old
    * one is released only after, so readers never hit a released frame.
    * The exception is a source that re-plans to the old frame's plan (an
    * overwrite in place): the CacheManager keeps one entry per plan, so
    * the old entry must go first or the persist below would adopt its
    * rows. */
  def refreshNow(): Unit = synchronized {
    val now = clock()
    val old = snapshot.frame
    val df = monthlyAggSource().orderBy("city", "month")
    val samePlan = old.exists(_.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
    if (samePlan) old.foreach(_.unpersist())
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize eagerly, like the reference's sync job
    snapshot = Snapshot(Some(df), now, s"v$now")
    if (!samePlan) old.foreach(_.unpersist())
  }

  private def ttlRemaining(s: Snapshot): Long =
    math.max(0L, ttlSec - (clock() - s.stampMs) / 1000L)

  /** S1-S5: cache-first monthly read for one city; falls through to the
    * warehouse when the cache is absent/expired (`monthly.js:16-105`). */
  def monthly(city: String): MonthlyResult = {
    val s = snapshot
    val ttl = ttlRemaining(s)
    val (frame, source) = s.frame match {
      case Some(df) if ttl > 0 => (df, "cache")
      case _ => (monthlyAggSource(), "warehouse")
    }
    val data = frame
      .filter(col("city") === city)
      .select(
        col("month"),
        col("avg_temp_c").cast("double").as("avg_temp_c"),
        col("total_rain_mm").cast("double").as("total_rain_mm"),
        col("city"), col("warehouse_load_time"))
      .orderBy("month")
    val status =
      if (source == "warehouse") "out-of-sync" // reference: CH fallback is always out-of-sync
      else if (ttl < ttlSec * 0.2) "out-of-sync"
      else if (ttl < ttlSec * 0.6) "partial"
      else "full"
    MonthlyResult(data, source, status, ttl, data.count())
  }

  /** C6 — cache introspection (`cache.js:9-64`). */
  def status: CacheStatus = {
    val s = snapshot
    val ttl = ttlRemaining(s)
    CacheStatus(
      cacheValid = s.frame.isDefined && ttl > 0,
      ttlSeconds = ttl,
      ttlMinutes = ttl / 60,
      dataCount = s.frame.map(_.count()).getOrElse(0L),
      cacheTimestamp = new java.sql.Timestamp(s.stampMs),
      dataVersion = s.version)
  }
}

/** D1-D5 — diagnostics (`backend/routes/diagnostics.js`), over
  * SparkSession state instead of three client connections. Early-returns
  * on first failure like the reference (`diagnostics.js:25,45,71`). */
object Diagnostics {

  final case class Check(name: String, ok: Boolean, detail: String)

  def run(spark: SparkSession, db: String = Model.WarehouseDb,
      table: String = "monthly_agg", city: String = Model.City): Seq[Check] = {
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]

    val live = try { spark.sql("SELECT 1").collect().head.getInt(0) == 1 }
    catch { case _: Throwable => false }
    checks += Check("connection", live, "SELECT 1")
    if (!live) return checks.toSeq

    val dbOk = spark.catalog.databaseExists(db)
    checks += Check("database_exists", dbOk, db)
    if (!dbOk) return checks.toSeq

    val tblOk = spark.catalog.tableExists(s"$db.$table")
    checks += Check("table_exists", tblOk, s"$db.$table")
    if (!tblOk) return checks.toSeq

    val cnt = spark.table(s"$db.$table").count()
    checks += Check("row_count", cnt > 0, cnt.toString)

    val sample = spark.table(s"$db.$table").filter(col("city") === city).limit(1).count()
    checks += Check("sample_row", sample == 1, s"city=$city")
    checks.toSeq
  }
}
