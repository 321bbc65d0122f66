package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

/** Seeded Open-Meteo archive generator.
  *
  * Emits the response shape `OpenMeteoIngest.openMeteoSchema` reads (a
  * struct of parallel hourly arrays) with JSON nulls at seeded positions,
  * and keeps the `monthly_agg` the program should compute from it, in
  * plain Scala. Every temperature and rainfall value is a multiple of
  * 1/4, so float and double sums over them are exact in any order and
  * the comparison with the program's output is equality.
  *
  * A value depends only on (seed, city, hour, field), so backfill and
  * incremental batches of the same hours agree however they are cut. */
final class OpenMeteoGen(seed: Long, val cities: Seq[String], val firstDay: LocalDate) {

  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(city: Int, hour: Long, field: Int): Long =
    mix(mix(mix(seed) ^ city) ^ (hour * 8 + field)) >>> 1

  /** One hourly reading; `None` is a JSON null. */
  private def value(city: Int, hour: Long, field: Int): Option[Double] = {
    val h = draw(city, hour, field)
    val nullEvery = Array(40, 50, 30, 45, 25)(field)
    if (h % nullEvery == 0) None
    else Some(field match {
      case 0 => ((h / 64) % 201 - 40) / 4.0 // temperature_2m: -10 .. 40 °C
      case 1 => ((h / 64) % 101).toDouble // relative_humidity_2m
      case 2 => if ((h / 64) % 5 != 0) 0.0 else ((h / 320) % 40) / 4.0 // precipitation
      case 3 => ((h / 64) % 60) / 4.0 // wind_speed_10m
      case _ => ((h / 64) % 100) / 4.0 // wind_gusts_10m
    })
  }

  private val truth = mutable.TreeMap.empty[(String, String), Acc]

  final class Acc { var tempSum, rainSum = 0.0; var tempN, rows = 0L }

  /** Writes the archive response for `city` over days [from, until) to
    * `file` and folds its hours into the expected aggregate. Returns the
    * number of hourly observations. */
  def writeResponse(city: Int, from: Int, until: Int, file: Path): Int = {
    val days = (from until until).map(d => firstDay.plusDays(d.toLong))
    val hours = days.flatMap(d => (0 until 24).map(h => (d, h)))
    val cols = Array.fill(5)(new StringBuilder)
    val time = new StringBuilder
    hours.zipWithIndex.foreach { case ((d, h), i) =>
      val hour = d.toEpochDay * 24 + h
      if (i > 0) { time += ','; cols.foreach(_ += ',') }
      time ++= "\"" + d.toString + f"T$h%02d:00" + "\""
      val vs = (0 until 5).map(f => value(city, hour, f))
      vs.zip(cols).foreach { case (v, sb) => sb ++= v.map(_.toString).getOrElse("null") }
      val acc = truth.getOrElseUpdate((cities(city), d.toString.take(7)), new Acc)
      acc.rows += 1
      vs(0).foreach { t => acc.tempSum += t; acc.tempN += 1 }
      acc.rainSum += vs(2).getOrElse(0.0)
    }
    val names = Seq("temperature_2m", "relative_humidity_2m", "precipitation",
      "wind_speed_10m", "wind_gusts_10m")
    val hourly = (("time", time) +: names.zip(cols))
      .map { case (n, sb) => s""""$n":[$sb]""" }.mkString("{", ",", "}")
    val body = s"""{"latitude":${37.9 + city * 0.1},"longitude":${-121.3 + city * 0.1},""" +
      s""""timezone":"America/Los_Angeles","hourly":$hourly}"""
    Files.createDirectories(file.getParent)
    Files.write(file, body.getBytes(StandardCharsets.UTF_8))
    hours.size
  }

  /** Expected served rows for `city`, in month order: (month, avg, rain). */
  def expected(city: String): Seq[(String, Option[Double], Double)] =
    expectedAll.collect { case (c, m, avg, rain, _) if c == city => (m, avg, rain) }

  /** Expected `monthly_agg` rows in (city, month) order: (city, month
    * "yyyy-MM", avg_temp_c, total_rain_mm, rows_loaded), the floats the
    * program stores widened to double as the response renders them. */
  def expectedAll: Seq[(String, String, Option[Double], Double, Long)] =
    truth.iterator.map { case ((c, m), a) =>
      (c, m, if (a.tempN == 0) None else Some((a.tempSum / a.tempN).toFloat.toDouble),
        a.rainSum.toFloat.toDouble, a.rows)
    }.toSeq
}
