package graft.weather

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Serving stage — SURVEY.md §2 C1-C7, S1-S7, D1-D5
  * (`clickhouseToRedis.js`, `backend/routes/monthly.js`,
  * `backend/routes/cache.js`, `backend/routes/diagnostics.js`).
  *
  * The Redis TTL cache becomes an immutable per-city snapshot of the
  * served rows, each pre-rendered as JSON at refresh like the
  * reference's payload: a hit is a map lookup plus TTL arithmetic and
  * starts no Spark job, a miss runs one Spark query against the
  * warehouse, and both render rows through the same projection.
  */
object Serving {

  final case class CacheStatus(
      cacheValid: Boolean, ttlSeconds: Long, ttlMinutes: Long,
      dataCount: Long, cacheTimestamp: java.sql.Timestamp, dataVersion: String,
      hits: Long, misses: Long, stale: Long)

  /** Served rows in month order, with each row's JSON. */
  private[weather] type Rendered = (Array[Row], Array[String])

  /** One refresh's rows per city, their schema, stamp and version. */
  private[weather] final case class Snapshot(
      byCity: Map[String, Rendered], schema: StructType, stampMs: Long, version: String)

  /** S3 — the served columns (`monthly.js:20-31`): the aggregates as
    * doubles, so the JSON numbers are the reference's. */
  private val Served = Seq(
    col("month"),
    col("avg_temp_c").cast("double").as("avg_temp_c"),
    col("total_rain_mm").cast("double").as("total_rain_mm"),
    col("city"), col("warehouse_load_time"))

  /** One Spark query (one job over a stored source): `source`'s rows in
    * the served columns, each with its `to_json` rendering. Returns the
    * served schema and the rows in month order (nulls first, as `orderBy`
    * sorts); the sort runs here, on at most |cities|×|months| rows, so
    * the query needs no exchange. Rows are positional: month is field 0
    * and city field 3 of [[Served]]. */
  private[weather] def render(source: DataFrame): (StructType, Seq[(Row, String)]) = {
    val served = source.select(Served: _*)
    val rows = served.select(col("*"), to_json(struct(served.columns.map(col): _*))).collect()
    val rendered = rows.toSeq.map(r => (Row.fromSeq(r.toSeq.init), r.getString(r.length - 1)))
    (served.schema, rendered.sortBy(r => Option(r._1.getTimestamp(0)).map(_.getTime)))
  }

  /** Rendered rows as the parallel arrays a snapshot holds. */
  private[weather] def split(rows: Seq[(Row, String)]): Rendered = {
    val (data, json) = rows.unzip
    (data.toArray, json.toArray)
  }

  /** One `GET /api/monthly` answer. `data` is a local relation over the
    * served rows, built on first use: a read that only renders the
    * envelope does no Catalyst work. */
  final class MonthlyResult private[weather] (
      spark: SparkSession, schema: StructType, rendered: Rendered,
      val source: String, val syncStatus: String, val ttlSeconds: Long) {

    lazy val data: DataFrame = spark.createDataFrame(java.util.Arrays.asList(rendered._1: _*), schema)

    val count: Long = rendered._1.length.toLong

    /** The `GET /api/monthly` response envelope
      * (`backend/routes/monthly.js:44-52,98-105`): data rows + source /
      * cache_status / sync_status / ttl_seconds / count. */
    def toJsonEnvelope: String = {
      val rows = rendered._2.mkString("[", ",", "]")
      val cacheStatus = if (source == "cache") "active" else "miss"
      s"""{"data":$rows,"source":"$source","cache_status":"$cacheStatus",""" +
        s""""sync_status":"$syncStatus","ttl_seconds":$ttlSeconds,"count":$count}"""
    }
  }
}

/** The cache-or-warehouse read path. `refreshNow()` = the reference's
  * `clickhouseToRedis.js` materialization (C1-C5) and its
  * `POST /sync-now` trigger (C7); `monthly(city)` = the
  * `GET /api/monthly` route (S1-S5); `status` = `cache.js` introspection
  * (C6).
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

  /** What the last refresh published, in ONE reference: a reader sees
    * rows with the stamp and version of the refresh that built them,
    * never a mix of two. */
  @volatile private var snapshot: Option[Snapshot] = None

  private val hits, misses, stale = new LongAdder

  /** C1-C4: one scan of the source, rendered per city and stamped. The
    * reference scans all cities and splits them client-side
    * (`clickhouseToRedis.js:55`); so does this. */
  def refreshNow(): Unit = synchronized {
    val now = clock()
    val (schema, rendered) = render(monthlyAggSource())
    val byCity = rendered.groupBy(_._1.getString(3)).map { case (city, rs) => city -> split(rs) }
    snapshot = Some(Snapshot(byCity, schema, now, s"v$now"))
  }

  private def ttlRemaining(s: Option[Snapshot]): Long =
    math.max(0L, ttlSec - (clock() - s.fold(0L)(_.stampMs)) / 1000L)

  /** S4 — staleness (`monthly.js:35-42`): a warehouse read is always
    * out-of-sync (`monthly.js:103`); a cache read is out-of-sync under
    * 20% of the TTL left, partial under 60%, else full. */
  private def syncStatusOf(source: String, ttl: Long): String =
    if (source == "warehouse" || ttl < ttlSec * 0.2) "out-of-sync"
    else if (ttl < ttlSec * 0.6) "partial"
    else "full"

  /** S1-S5: cache-first monthly read for one city; falls through to the
    * warehouse when the cache is absent/expired (`monthly.js:16-105`). */
  def monthly(city: String): MonthlyResult = {
    val s = snapshot
    val ttl = ttlRemaining(s)
    val (schema, rendered, source) = s match {
      case Some(snap) if ttl > 0 =>
        hits.increment()
        (snap.schema, snap.byCity.getOrElse(city, (Array.empty[Row], Array.empty[String])), "cache")
      case _ =>
        misses.increment()
        val (schema, rs) = render(monthlyAggSource().filter(col("city") === city))
        (schema, split(rs), "warehouse")
    }
    val status = syncStatusOf(source, ttl)
    if (source == "cache" && status != "full") stale.increment()
    new MonthlyResult(spark, schema, rendered, source, status, ttl)
  }

  /** C6 — cache introspection (`cache.js:9-64`) plus the hit, miss and
    * stale-hit counters. */
  def status: CacheStatus = {
    val s = snapshot
    val ttl = ttlRemaining(s)
    CacheStatus(
      cacheValid = s.isDefined && ttl > 0,
      ttlSeconds = ttl,
      ttlMinutes = ttl / 60,
      dataCount = s.fold(0L)(_.byCity.valuesIterator.map(_._1.length.toLong).sum),
      cacheTimestamp = new java.sql.Timestamp(s.fold(0L)(_.stampMs)),
      dataVersion = s.fold("v0")(_.version),
      hits = hits.sum, misses = misses.sum, stale = stale.sum)
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

    val (live, detail) =
      try (spark.sql("SELECT 1").collect().head.getInt(0) == 1, "SELECT 1")
      catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}") }
    checks += Check("connection", live, detail)
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
