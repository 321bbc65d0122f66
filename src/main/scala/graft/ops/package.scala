package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the operator library.
  *
  * Determinism policy (the DuckDB-oracle hash gate compares exact values):
  *  - Floating-point aggregation is routed through `DecimalType` casts:
  *    decimal sums are exact and order-independent, so Spark's
  *    partial/final hash aggregation over any partitioning produces the
  *    same bits as DuckDB's single-threaded sum. The final result is cast
  *    back to double so output schemas stay `double` in both engines.
  *  - Every oracled query ends in a total ORDER BY over non-null keys.
  *  - Per-row double arithmetic (a*b+c …) is IEEE-754 and engine-identical,
  *    so projections may stay in double; only multi-row reductions need the
  *    decimal route.
  */
package object ops {

  /** Input columns in the test tables carry at most 2 decimal digits
    * (prices, discounts, metric values), so DECIMAL(18,2) is lossless. */
  val Dec2: DecimalType = DecimalType(18, 2)

  def dec2(c: Column): Column = c.cast(Dec2)

  /** Exact, order-independent sum of a 2-decimal column, returned as double. */
  def sumExact(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact average: exact decimal sum divided (in double) by the non-null
    * count — bit-identical in Spark and DuckDB. */
  def avgExact(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(c)

  /** TPC-H revenue term `extendedprice * (1 - discount)` computed entirely
    * in decimal (both operands are 2-decimal) — exact product, exact sum. */
  def revenueExact(price: Column, discount: Column): Column =
    sum(dec2(price) * (lit(BigDecimal(1)).cast(Dec2) - dec2(discount))).cast(DoubleType)

  /** THE stamped-index path rule, shared by every materialized-index
    * producer (kNN signatures, lexical BM25 statistics, MinHash posting
    * rows, incremental-index snapshots) AND by the vacuum pass that
    * reconstructs the "current" name — one definition so a format tweak
    * cannot desynchronize producers from retention. The stamp is the
    * source file's (size, mtime): regenerated data can never silently
    * serve a stale snapshot. */
  def stampedIndexDir(prefix: String, dir: String, srcName: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9.]+", "_")
    val src = new java.io.File(s"$dir/$srcName")
    s"${System.getProperty("java.io.tmpdir")}/$prefix${tag}_${src.length()}_${src.lastModified()}"
  }
}

package ops {

  /** Parquet table loader for the driver's test data layout
    * (`$dir/<name>.parquet`, see TESTDATA.md). At 100 TB these would be
    * partitioned/bucketed catalog tables; the loader is the single seam
    * where that swap happens. */
  object Tables {
    val all: Seq[String] = Seq(
      "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")

    /** Opt-in cross-query input cache. Verify evaluates 100+ registry
      * entries against the same ten tables in one session — persisting
      * each table on first touch turns per-entry file scans into
      * in-memory columnar reads. Off by default (specs assert on
      * FileScan plan shapes; Bench times the real scan path). */
    @volatile private var cacheInputs = false
    def enableInputCache(): Unit = { cacheInputs = true }

    /** Turn the cache off and release the session memos that hold the
      * persisted tables (spec hygiene — plan-shape tests assert on
      * FileScan nodes). */
    def disableInputCache(): Unit = {
      cacheInputs = false
      SessionMemo.releaseAll()
    }

    def apply(spark: SparkSession, dir: String, name: String): DataFrame =
      if (cacheInputs)
        SessionMemo(spark, "table", (dir, name))(load(spark, dir, name)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else load(spark, dir, name)

    private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // Every timestamp column must land as session-TZ TimestampType
      // regardless of how the parquet writer annotated it — the storage
      // annotation is the producer's choice, not ours, and a 100 TB lake
      // changes it under you (round 8: regenerated testdata flipped
      // events.ts to TIMESTAMP_NTZ and broke every watermark and
      // unix_micros consumer). Two observed variants:
      //  - TIMESTAMP(NANOS) + spark.sql.legacy.parquet.nanosAsLong →
      //    nanos-since-epoch LongType (events.ts only); truncate to
      //    micros — exactly what DuckDB's µs-internal TIMESTAMP does on
      //    read.
      //  - isAdjustedToUTC=false → TIMESTAMP_NTZ; the session is pinned
      //    UTC, so casting to TimestampType is lossless and
      //    oracle-neutral.
      val nanosFixed =
        if (name == "events" && df.schema("ts").dataType == LongType)
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else df
      nanosFixed.schema.fields.collect {
        case f if f.dataType == TimestampNTZType => f.name
      }.foldLeft(nanosFixed) { (d, c) =>
        d.withColumn(c, col(c).cast(TimestampType))
      }
    }

    /** Loader for CPU-heavy narrow pipelines (hash kernels, dot products).
      * The test tables are single-row-group parquet files, so a plain scan
      * is ONE task and everything narrow above it runs on one core;
      * a round-robin repartition (bytes are tiny relative to the compute)
      * spreads the kernel work across the cluster. On a many-file
      * production table the scan is already parallel and this exchange is
      * a no-op cost AQE can absorb. */
    def parallel(spark: SparkSession, dir: String, name: String): DataFrame =
      apply(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)
  }
}
