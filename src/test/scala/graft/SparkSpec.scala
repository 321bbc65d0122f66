package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one SparkSession across suites (getOrCreate),
  * temp dirs per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.get("graft-test")

  val Sf0001 = "/root/testdata/sf0.001"

  /** Ids of the RDDs currently persisted in the shared context. */
  def persistentRddIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
