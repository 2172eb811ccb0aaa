package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.WeatherModel

/** Deterministic OpenWeatherMap document generator with its own
  * last-writer-wins model of the weather table.
  *
  * Every input property the pipeline branches on is planted at a fixed
  * share (see [[Shares]]): exact duplicate documents inside a batch,
  * re-extractions of stored keys with changed values, late readings for
  * earlier dates, out-of-range temperature or humidity, missing optional
  * subtrees and missing required paths. The model applies each batch the
  * way the pipeline specifies it (reject documents with a missing required
  * path, drop out-of-range rows, then keep per key the row with the newest
  * extraction clock, incoming winning ties), so the final table and every
  * day's quality report have an exact expectation.
  *
  * Within-batch duplicates are byte-identical copies: the pipeline orders
  * duplicates by extraction clock only, and every document of one batch
  * shares that clock, so differing duplicates would have no defined winner.
  */
object WeatherDocs {

  /** Shares of planted properties; a share applies per generated base
    * reading, except `lateReading` and `reextraction`, which add documents
    * at that share of the batch's base readings.
    */
  final case class Shares(
      duplicate: Double = 0.02,
      reextraction: Double = 0.03,
      lateReading: Double = 0.03,
      outOfRange: Double = 0.01,
      missingOptional: Double = 0.10,
      missingRequired: Double = 0.01)

  val regions: IndexedSeq[String] = WeatherModel.regions.map(_._1).toIndexedSeq
  private val conditions = IndexedSeq(
    "Clear" -> "clear sky", "Clouds" -> "few clouds",
    "Clouds" -> "broken clouds", "Rain" -> "light rain",
    "Rain" -> "moderate rain", "Thunderstorm" -> "thunderstorm")
  private val requiredPaths = IndexedSeq(
    "main.temp", "main.humidity", "main.pressure", "wind", "clouds.all",
    "weather[0]", "sys.sunrise", "dt")

  /** One OWM observation. `missing` names a dropped required path. */
  final case class Reading(
      region: String, dt: Long, temp: Double, feelsLike: Double,
      tempMin: Double, tempMax: Double, pressure: Long, humidity: Long,
      visibility: Option[Long], windSpeed: Option[Double], windDeg: Long,
      clouds: Long, weather: Int, rain1h: Option[Double],
      rain3h: Option[Double], sunrise: Long, sunset: Long,
      missing: Option[String]) {
    def key: (String, Long) = (region, dt)
    def valid: Boolean =
      temp >= -5 && temp <= 50 && humidity >= 0 && humidity <= 100
  }

  /** A row of the expected table: the reading plus its extraction clock. */
  final case class Stored(r: Reading, extractedAt: Long)

  /** What the quality stage must report for one check date. */
  final case class Quality(regionCount: Long, minTemp: Option[Double],
      maxTemp: Option[Double])

  def dayOf(epochSec: Long): Long = Math.floorDiv(epochSec, 86400L)

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  final class Generator(seed: Long, shares: Shares) {
    private val rnd = new SplittableRandom(seed)
    private def chance(p: Double): Boolean = rnd.nextDouble() < p

    /** A uniform offset in [0, range) seconds. */
    def jitter(range: Long): Long = rnd.nextLong(range)

    def reading(region: String, dt: Long): Reading = {
      val temp = r2(8 + rnd.nextDouble() * 24)
      val optional = chance(shares.missingOptional)
      val whichOptional = rnd.nextInt(3)
      val rainy = rnd.nextInt(3) == 0
      val day = dayOf(dt) * 86400L
      Reading(region, dt, temp, r2(temp + rnd.nextDouble() * 2 - 1),
        r2(temp - rnd.nextDouble() * 3), r2(temp + rnd.nextDouble() * 3),
        1000 + rnd.nextInt(30), 20 + rnd.nextInt(80),
        if (optional && whichOptional == 0) None
        else Some(5000L + rnd.nextInt(5001)),
        if (optional && whichOptional == 1) None
        else Some(r2(rnd.nextDouble() * 12)),
        rnd.nextInt(360), rnd.nextInt(101), rnd.nextInt(conditions.size),
        if ((optional && whichOptional == 2) || !rainy) None
        else Some(r2(rnd.nextDouble() * 30)),
        if ((optional && whichOptional == 2) || !rainy) None
        else Some(r2(rnd.nextDouble() * 60)),
        day + 3 * 3600 + rnd.nextInt(1200), day + 15 * 3600 + rnd.nextInt(1200),
        None)
    }

    /** Apply the per-reading plants: out-of-range values, missing paths. */
    def plant(r: Reading): Reading =
      if (chance(shares.missingRequired))
        r.copy(missing = Some(requiredPaths(rnd.nextInt(requiredPaths.size))))
      else if (chance(shares.outOfRange)) {
        if (rnd.nextBoolean()) r.copy(temp = r2(51 + rnd.nextDouble() * 20))
        else r.copy(humidity = 101 + rnd.nextInt(50))
      } else r

    /** Same key, changed values: a re-extraction of a stored reading. */
    def reextract(old: Reading): Reading = {
      val fresh = reading(old.region, old.dt)
      fresh.copy(sunrise = old.sunrise, sunset = old.sunset)
    }

    /** A batch of base readings plus plants. `stored` offers the keys a
      * re-extraction may target; `lateFrom`/`lateTo` bound the epoch
      * seconds of late readings (earlier dates than the base readings);
      * `taken` holds every key generated so far, so late readings are new
      * keys. Base keys must be new as well.
      */
    def batch(base: Seq[(String, Long)], stored: IndexedSeq[Reading],
        lateFrom: Long, lateTo: Long, taken: mutable.Set[(String, Long)])
        : Vector[Reading] = {
      val out = Vector.newBuilder[Reading]
      taken ++= base
      base.foreach { case (region, dt) =>
        val r = plant(reading(region, dt))
        out += r
        if (chance(shares.duplicate)) out += r
      }
      val extra = base.size
      def count(p: Double): Int = {
        val exact = extra * p
        exact.toInt + (if (chance(exact - exact.toInt)) 1 else 0)
      }
      // one re-extraction per key and batch: two differing documents for
      // one key under one extraction clock would have no defined winner
      val targets = mutable.LinkedHashSet.empty[Reading]
      if (stored.nonEmpty) (0 until count(shares.reextraction)).foreach { _ =>
        targets += stored(rnd.nextInt(stored.size))
      }
      targets.foreach(old => out += reextract(old))
      if (lateTo > lateFrom) (0 until count(shares.lateReading)).foreach { _ =>
        var key: (String, Long) = null
        while (key == null || taken(key)) {
          key = (regions(rnd.nextInt(regions.size)),
            lateFrom + rnd.nextLong(lateTo - lateFrom))
        }
        taken += key
        out += reading(key._1, key._2)
      }
      out.result()
    }
  }

  /** Last-writer-wins model of the table the pipeline maintains. */
  final class Model {
    val rows = mutable.HashMap.empty[(String, Long), Stored]

    /** Apply one batch extracted at `extractedAt` (epoch seconds). */
    def apply(batch: Seq[Reading], extractedAt: Long): Unit =
      batch.iterator.filter(r => r.missing.isEmpty && r.valid).foreach { r =>
        val prev = rows.get(r.key)
        if (prev.forall(_.extractedAt <= extractedAt))
          rows(r.key) = Stored(r, extractedAt)
      }

    def quality(day: Long): Quality = {
      val onDay = rows.valuesIterator.filter(s => dayOf(s.r.dt) == day)
        .map(_.r).toVector
      Quality(onDay.map(_.region).distinct.size.toLong,
        if (onDay.isEmpty) None else Some(onDay.map(_.temp).min),
        if (onDay.isEmpty) None else Some(onDay.map(_.temp).max))
    }

    def storedReadings: IndexedSeq[Reading] =
      rows.valuesIterator.map(_.r).toIndexedSeq
        .sortBy(r => (r.region, r.dt))

    /** Order-insensitive fingerprint; see [[Fingerprint]]. */
    def fingerprint: Long = rows.valuesIterator.map { s =>
      val r = s.r
      Fingerprint.row(r.region, r.dt * 1000000L, r.temp, r.humidity,
        r.pressure, r.visibility, r.windSpeed, s.extractedAt * 1000000L,
        r.rain1h.getOrElse(0.0), r.rain3h.getOrElse(0.0))
    }.sum
  }

  /** Write a batch as JSON lines, dropping the planted missing paths. */
  def writeJson(path: Path, batch: Seq[Reading]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try batch.foreach { r => w.write(json(r)); w.write('\n') }
    finally w.close()
  }

  def json(r: Reading): String = {
    val miss = r.missing.getOrElse("")
    val sb = new StringBuilder(320)
    def field(name: String, v: String, first: Boolean = false): Unit = {
      if (!first) sb.append(',')
      sb.append('"').append(name).append("\":").append(v)
    }
    sb.append('{')
    field("region", "\"" + r.region + "\"", first = true)
    if (miss != "dt") field("dt", r.dt.toString)
    r.visibility.foreach(v => field("visibility", v.toString))
    val main = Seq(
      Option.when(miss != "main.temp")("\"temp\":" + r.temp),
      Some("\"feels_like\":" + r.feelsLike),
      Some("\"temp_min\":" + r.tempMin),
      Some("\"temp_max\":" + r.tempMax),
      Option.when(miss != "main.pressure")("\"pressure\":" + r.pressure),
      Option.when(miss != "main.humidity")("\"humidity\":" + r.humidity))
    field("main", main.flatten.mkString("{", ",", "}"))
    if (miss != "wind")
      field("wind", (r.windSpeed.map(v => "\"speed\":" + v).toSeq :+
        ("\"deg\":" + r.windDeg)).mkString("{", ",", "}"))
    field("clouds",
      if (miss == "clouds.all") "{}" else "{\"all\":" + r.clouds + "}")
    val (wm, wd) = conditions(r.weather)
    field("weather",
      if (miss == "weather[0]") "[]"
      else "[{\"main\":\"" + wm + "\",\"description\":\"" + wd + "\"}]")
    if (r.rain1h.isDefined || r.rain3h.isDefined)
      field("rain", (r.rain1h.map(v => "\"1h\":" + v).toSeq ++
        r.rain3h.map(v => "\"3h\":" + v)).mkString("{", ",", "}"))
    field("sys",
      (Option.when(miss != "sys.sunrise")("\"sunrise\":" + r.sunrise).toSeq :+
        ("\"sunset\":" + r.sunset)).mkString("{", ",", "}"))
    sb.append('}').toString
  }
}

/** Row hash summed over a table: equal multisets of rows give equal sums
  * whatever the row order or file layout.
  */
object Fingerprint {
  def row(region: String, tsMicros: Long, temp: Double, humidity: Long,
      pressure: Long, visibility: Option[Long], windSpeed: Option[Double],
      extractedMicros: Long, rain1h: Double, rain3h: Double): Long = {
    val s = s"$region|$tsMicros|$temp|$humidity|$pressure|" +
      s"${visibility.getOrElse("null")}|${windSpeed.getOrElse("null")}|" +
      s"$extractedMicros|$rain1h|$rain3h"
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7a11)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}
