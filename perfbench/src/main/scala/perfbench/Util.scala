package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def str(s: String): String = "\"" + esc(s) + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile (`q` in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.size - 1) * q / 100.0
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Readings of the machine and the JVM that go beside the metrics. */
object Box {
  /** Fixed single-thread xorshift spin: its time depends only on how much
    * CPU the machine gives one thread (the same canary `graft.Bench`
    * records). */
  def canarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("canary collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same spin on every core at once, through Spark. */
  def wideCanarySec(spark: SparkSession): Double = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    val x = spark.sparkContext.parallelize(0 until n, n).map { p =>
      var x = 0x9E3779B97F4A7C15L + p
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }.reduce(_ ^ _)
    if (x == 42L) System.err.println("wide canary collision")
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: java.io.IOException => "" }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: java.io.IOException => Double.NaN }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
