package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of USGS FDSN event CSVs (`whole_month_*` and
  * `all_day_*`, 22 columns, header row), with the ground truth the
  * warehouse must reach known by construction.
  *
  * Every generated event has a distinct UTC second and a distinct
  * (latitude, longitude) pair, and all dates fall between the spring and
  * autumn clock changes of Europe/Bucharest, so the warehouse's event key
  * (sha1 of the local wall-clock time and the raw coordinates) is distinct
  * per event. A file mixes: accepted events of every activity type, planted
  * DQ rejects (each reject trigger), non-earthquakes that fail the numeric
  * bounds but are accepted, unparseable numerics, short rows, `''` and
  * `'0'` fields, the place formats of the place parser, re-reports of
  * already-warehoused events (delta files) and, now and then, a network or
  * region the warehouse has not seen (dimension extension).
  */
final class Usgs(seed: Long, states: Seq[(String, String)]) {

  import Usgs._

  private val rnd = new SplittableRandom(seed)
  private var nextDay = 0 // day index of the next generated date
  private var newDims = 0 // counter behind brand-new network / region names

  /** Accepted events warehoused so far, by type (the `totalsByType` truth). */
  val typeCounts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  /** Lines of accepted events, for re-reports in later delta files. */
  private val reportable = mutable.ArrayBuffer.empty[String]

  /** Forget everything warehoused: the state after a truncate-reload. */
  def resetWarehouse(): Unit = { typeCounts.clear(); reportable.clear() }

  /** A full-load file of `n` events spread over `days` new dates. The
    * warehouse truth is replaced by this file's accepted events.
    */
  def wholeMonth(dir: Path, n: Int, days: Int): File = {
    resetWarehouse()
    val first = nextDay
    nextDay += days
    val name = f"whole_month_${dateOf(first).getYear}%04d${dateOf(first).getMonthValue}%02d.csv"
    val f = write(dir, name, (0 until days).flatMap { d =>
      val k = n / days + (if (d < n % days) 1 else 0)
      dayEvents(first + d, k, reports = 0, newDim = false)
    })
    f
  }

  /** A delta file for the next date: `n` new events plus `reportShare` of
    * `n` re-reports of warehoused events; `newDim` plants one new network
    * and one new region.
    */
  def allDay(dir: Path, n: Int, reportShare: Double, newDim: Boolean): File = {
    val day = nextDay
    nextDay += 1
    val d = dateOf(day)
    val name = f"all_day_${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d-120000.csv"
    write(dir, name, dayEvents(day, n, (n * reportShare).toInt, newDim))
  }

  private def write(dir: Path, name: String, lines: Seq[Line]): File = {
    val sb = new java.lang.StringBuilder(lines.size * 200)
    sb.append(Header).append('\n')
    lines.foreach(l => sb.append(l.text).append('\n'))
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val p = dir.resolve(name)
    Files.write(p, bytes)
    File(p, lines.size.toLong, bytes.length.toLong, lines.count(_.added), typeCounts.toMap)
  }

  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))

  private val Pow10 = Array(1L, 10L, 100L, 1000L, 10000L)

  /** A uniform number in [lo, hi) written with `digits` decimals. */
  private def num(lo: Double, hi: Double, digits: Int): String = {
    val scaled = math.round((lo + rnd.nextDouble() * (hi - lo)) * Pow10(digits))
    val a = math.abs(scaled)
    val frac = (a % Pow10(digits)).toString
    (if (scaled < 0) "-" else "") + (a / Pow10(digits)) + "." + ("0" * (digits - frac.length)) + frac
  }

  private def place(newRegion: Option[String]): String = newRegion match {
    case Some(r) => s"${rnd.nextInt(90) + 5}km NE of $r, Chile"
    case None =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => val (_, ab) = pick(states.toIndexedSeq)
          s"${rnd.nextInt(90) + 5}km SSW of ${pick(Towns)}, $ab"
        case 3 | 4 => val (st, _) = pick(states.toIndexedSeq)
          s"${rnd.nextInt(90) + 5}km N of ${pick(Towns)}, $st"
        case 5 | 6 => s"${rnd.nextInt(190) + 10} km SW of ${pick(Towns)}, ${pick(Countries)}"
        case 7 => s"${pick(Regions)} region"
        case 8 => s"${pick(Islands)}, ${pick(Islands)} Islands"
        case _ => ""
      }
  }

  /** One date's events: `n` new ones (with their planted defects) and
    * `reports` re-reports of warehoused events, shuffled together.
    */
  private def dayEvents(day: Int, n: Int, reports: Int, newDim: Boolean): Seq[Line] = {
    val date = dateOf(day)
    val base = date.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val slot = 86400 / math.max(n, 1)
    val newNet = if (newDim) { newDims += 1; Some(f"x$newDims%03d") } else None
    val newRegion = if (newDim) Some(s"Newplace$newDims") else None
    val prior = reportable.size // re-reports come from earlier files only
    val fresh = (0 until n).map { i =>
      val t = java.time.Instant.ofEpochSecond(base + i.toLong * slot + rnd.nextInt(slot))
      val time = t.toString.stripSuffix("Z") + ".000Z"
      val typ = {
        val u = rnd.nextDouble()
        TypeWeights.find(_._2 > u).map(_._1).getOrElse("earthquake")
      }
      // one in 8 events of a new-dimension date carries the new values
      val useNew = newDim && (i % 8 == 0)
      val net = if (useNew) newNet.get else pick(Nets)
      val defect = rnd.nextInt(100)
      var depth = num(1.5, 650, 2)
      var mag = num(1.0, 7.9, 2)
      var depthErr = num(0.1, 20, 1)
      var magErr = num(0.01, 0.4, 3)
      var accepted = true
      var short = false
      defect match {
        case 0 => depth = "0.5"; accepted = typ != "earthquake"
        case 1 => magErr = "0.9"; accepted = typ != "earthquake"
        case 2 => depthErr = "40"; accepted = typ != "earthquake"
        case 3 => mag = "0.6"; accepted = typ != "earthquake"
        case 4 => depth = "0"; accepted = typ != "earthquake" // '0' → NULL → 0
        case 5 if i % 4 == 0 => depth = "n/a"; accepted = false // unparseable: dropped
        case 6 => short = true
        case _ =>
      }
      val cols = Array(
        time, num(-60, 70, 4), num(-179.9, 179.9, 4), depth, mag, pick(MagTypes),
        if (defect == 7) "0" else rnd.nextInt(120).toString,
        rnd.nextInt(300).toString, num(0, 5, 3), num(0, 1.5, 2), net,
        s"$net${day}n$i", time, quote(place(if (useNew) newRegion else None)), typ,
        if (defect == 8) "" else num(0.1, 12, 2), depthErr, magErr,
        if (defect == 9) "0" else rnd.nextInt(80).toString,
        if (rnd.nextBoolean()) "reviewed" else "automatic", net, net)
      val text = (if (short) cols.dropRight(2) else cols).mkString(",")
      if (accepted) { typeCounts(typ) += 1; reportable += text }
      Line(text, accepted)
    }
    val again = if (prior == 0) Nil else (0 until reports).map { _ =>
      // the same event (same time and coordinates, so the same key) with a
      // newer `updated` stamp and a reviewed status
      val cols = reportable(rnd.nextInt(prior)).split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1)
      cols(12) = java.time.Instant.ofEpochSecond(base + 86399).toString
      if (cols.length > 19) cols(19) = "reviewed"
      Line(cols.mkString(","), added = false)
    }
    shuffle(fresh ++ again)
  }

  private def shuffle(xs: Seq[Line]): Seq[Line] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}

object Usgs {

  val Header: String = "time,latitude,longitude,depth,mag,magType,nst,gap,dmin,rms,net,id," +
    "updated,place,type,horizontalError,depthError,magError,magNst,status," +
    "locationSource,magSource"

  /** A generated file: its path, data lines, bytes, accepted new events,
    * and the warehouse's accepted events by type once it is loaded (files
    * load in the order they were generated).
    */
  final case class File(path: Path, lines: Long, bytes: Long, added: Int,
      typeCounts: Map[String, Long]) {
    def distinct: Long = typeCounts.values.sum
  }

  private final case class Line(text: String, added: Boolean)

  /** Activity types with cumulative weights: earthquakes dominate. The
    * weights are an assumption; every type occurs, so every row of
    * `totalsByType` and the type dimension are exercised.
    */
  private val TypeWeights: Seq[(String, Double)] = Seq(
    "earthquake" -> 0.86, "quarry blast" -> 0.90, "explosion" -> 0.93,
    "ice quake" -> 0.95, "landslide" -> 0.97, "sonic boom" -> 0.985,
    "volcanic eruption" -> 1.0)
  private val Nets = Vector("us", "ak", "nc", "ci", "uw", "hv", "nn", "pr")
  private val MagTypes = Vector("ml", "md", "mb", "mww", "mwr")
  private val Towns = Vector("Idyllwild", "Anchorage", "Ridgecrest", "Parkfield",
    "Hawthorne", "Petrolia", "Pahala", "Tofino", "Ocotillo", "Valdez")
  private val Countries = Vector("Canada", "Japan", "Mexico", "Peru", "Chile",
    "Indonesia", "Greece", "Turkey", "Philippines", "Tonga")
  private val Regions = Vector("South Sandwich Islands", "Mid-Atlantic Ridge",
    "Kuril Islands", "Banda Sea", "Fiji")
  private val Islands = Vector("Fiji", "Kermadec", "Solomon", "Aleutian")

  private def quote(s: String): String = "\"" + s + "\""

  /** Dates run from 1 April through 17 October of successive years: inside
    * Bucharest's summer time, so local wall-clock times never repeat.
    */
  def dateOf(day: Int): LocalDate =
    LocalDate.of(2024 + day / 200, 4, 1).plusDays((day % 200).toLong)

  /** The 50-state lookup's (State, Abbreviation) rows. */
  def readStates(csv: Path): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(csv, StandardCharsets.UTF_8).asScala.toSeq.drop(1)
      .map(_.split(",", -1)).filter(_.length >= 2).map(a => (a(0).trim, a(1).trim))
  }
}
