package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one registry query to `$outDir/$name`. On failure, writes the
    * one-row `__graft_error` marker parquet in its place (so the driver
    * records a red row, never an absence) and returns the message. */
  private[graft] def dumpOne(
      spark: org.apache.spark.sql.SparkSession, name: String,
      fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String, outDir: String): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case NonFatal(e) =>
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      System.err.println(s"[verify] $name failed: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("__graft_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(m) =>
        System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
      }
      Some(msg)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated name filter for local dry-runs;
    // it filters the dumps and oracle_sql.json alike (two args → full
    // registry)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.get("graft-verify")
    // one Verify pass evaluates the whole registry against the same input
    // tables — cache them once instead of re-scanning per entry (the
    // x_dedup/x_text families each re-read `documents`)
    graft.ops.Tables.enableInputCache()
    new java.io.File(outDir).mkdirs()
    // A registered query must NEVER disappear silently: a throwing query
    // still writes a one-row parquet whose single `__graft_error` column
    // carries the exception — the driver's compare then records a red
    // row (schema mismatch) instead of omitting the entry, and the
    // _errors.json sidecar gives the full story in one place.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
        dumpOne(spark, name, fn, sfDir, outDir).foreach(errors(name) = _)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.iterator
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
