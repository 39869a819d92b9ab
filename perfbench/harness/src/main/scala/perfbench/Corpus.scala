package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded raw OpenWeatherMap corpus in the FIXTURES.md A1 shape: hourly
  * observations per city, one JSON-lines file per day, with injected
  * outliers, null leaves, corrupt lines and records missing a required
  * key. The same seed writes the same bytes.
  */
object Corpus {

  val cities: Seq[(String, String)] = Seq(
    "New York" -> "US", "London" -> "GB", "Tokyo" -> "JP", "Sydney" -> "AU", "Berlin" -> "DE",
    "Paris" -> "FR", "Madrid" -> "ES", "Rome" -> "IT", "Cairo" -> "EG", "Lagos" -> "NG",
    "Mumbai" -> "IN", "Beijing" -> "CN", "Seoul" -> "KR", "Lima" -> "PE", "Toronto" -> "CA",
    "Mexico City" -> "MX", "Moscow" -> "RU", "Istanbul" -> "TR", "Jakarta" -> "ID", "Nairobi" -> "KE")

  private val conditions = Seq(
    "Clear" -> "clear sky", "Clouds" -> "broken clouds", "Rain" -> "light rain",
    "Snow" -> "light snow", "Mist" -> "mist", "Thunderstorm" -> "thunderstorm")

  /** What was written: every line, and the ones that pass the required-keys filter. */
  final case class Written(lines: Long, valid: Long, corrupt: Long, missingKey: Long,
                           outliers: Long, nulls: Long)

  val epoch0: Long = 1735689600L // 2025-01-01T00:00:00Z

  def write(dir: Path, seed: Long, nCities: Int, days: Int): Written = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    var lines, valid, corrupt, missing, outliers, nulls = 0L
    (0 until days).foreach { d =>
      val out = new StringBuilder
      for (h <- 0 until 24; (city, cc) <- cities.take(nCities)) {
        val dt = epoch0 + d * 86400L + h * 3600L
        val u = rnd.nextDouble()
        lines += 1
        if (u < 0.01) {
          corrupt += 1
          out ++= s"""{"dt": $dt, "city_name": "$city", "main": {"temp": """ + "\n"
        } else {
          val base = 12.0 + 10.0 * math.sin((d * 24 + h) / 24.0 / 58.0) + rnd.nextDouble() * 6.0
          var temp = f2(base)
          var humidity = f2(40.0 + rnd.nextDouble() * 50.0)
          var wind = f2(rnd.nextDouble() * 12.0)
          val (cond, desc) = conditions(rnd.nextInt(conditions.size))
          var dtField = s""""dt": $dt, """
          if (u < 0.03) { outliers += 1; if (rnd.nextBoolean()) temp = "999.0" else humidity = "-50.0" }
          else if (u < 0.05) {
            nulls += 1
            rnd.nextInt(3) match {
              case 0 => temp = "null"
              case 1 => wind = "null"
              case _ => dtField = "" // the ISO extraction time stands in
            }
          }
          val iso = java.time.Instant.ofEpochSecond(dt).toString.stripSuffix("Z")
          val main = s""""main": {"temp": $temp, "feels_like": ${f2(base - 1.5)}, "temp_min": ${f2(base - 2)}, "temp_max": ${f2(base + 2)}, "pressure": ${1000 + rnd.nextInt(30)}, "humidity": $humidity}"""
          val windF = s""""wind": {"speed": $wind, "deg": ${rnd.nextInt(360)}}"""
          val weather = s""""weather": [{"main": "$cond", "description": "$desc"}]"""
          val parts = mutable3(main, windF, weather)
          if (u >= 0.05 && u < 0.06) { missing += 1; parts.remove(rnd.nextInt(parts.size)) }
          else valid += 1
          out ++= s"""{$dtField"extraction_timestamp": "$iso", "city_name": "$city", "country_code": "$cc", ${parts.mkString(", ")}}""" + "\n"
        }
      }
      Files.write(dir.resolve(f"owm_$d%03d.json"), out.toString.getBytes(StandardCharsets.UTF_8))
    }
    Written(lines, valid, corrupt, missing, outliers, nulls)
  }

  private def mutable3(a: String, b: String, c: String) = scala.collection.mutable.ArrayBuffer(a, b, c)

  private def f2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
}
