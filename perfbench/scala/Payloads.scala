package perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

/** Seeded DC-like payloads for the daily-ingest workload: ArcGIS violation
  * features and VisualCrossing weather days for consecutive dates.
  *
  * Every day draws from its own generator keyed on (seed, day index), so
  * a day's rows do not depend on how many days were asked for, and the
  * same seed renders byte-identical response bodies.
  *
  * Edge rows (FIXTURES.md sections 1-2) planted on fixed days so every run
  * ingests them: string, `NaN`, zero and non-numeric fines, rows with a
  * null ISSUE_DATE (served by the API but never inside a day's range),
  * lower-case attribute keys, null and "N" accident flags, rows re-delivered
  * from the previous day under the same OBJECTID, a day of exactly 2,000
  * rows (one full page), an empty weather `days: []`, weather days with
  * `precip: 0` plus "Rain showers", null precip and null conditions, and a
  * revised weather day served on replay.
  */
final class Payloads(val seed: Long, val start: LocalDate) {
  import Payloads._

  /** One ArcGIS feature; `issueMs` None is the null-ISSUE_DATE edge row. */
  final case class Violation(
      objectId: Long, issueMs: Option[Long], agency: String,
      accident: Option[String], location: String, code: String,
      desc: String, fine: FineValue, totalPaid: Double,
      lat: Double, lon: Double, lowerKeys: Boolean)

  final case class Weather(
      date: LocalDate, tempmax: Double, tempmin: Double, temp: Double,
      precip: Option[Double], humidity: Double, windspeed: Double,
      conditions: Option[String])

  private def rng(dayIndex: Int, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + dayIndex * 7919L + salt)

  def date(dayIndex: Int): LocalDate = start.plusDays(dayIndex.toLong)
  def dayIndex(d: LocalDate): Int = (d.toEpochDay - start.toEpochDay).toInt
  def dayStartMs(dayIndex: Int): Long =
    date(dayIndex).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** Rows served for a day (before the pushed range is applied). */
  def rowCount(dayIndex: Int): Int =
    if (dayIndex == ExactPageDay) PageSize
    else MinRows + rng(dayIndex, 1).nextInt(MaxRows - MinRows + 1)

  private val violationCache = scala.collection.mutable.Map.empty[Int, Vector[Violation]]

  /** A day's rows; a day re-delivers rows of the previous one, so days are
    * built in order. Server threads call this concurrently.
    */
  def violations(dayIndex: Int): Vector[Violation] =
    if (dayIndex < 0) Vector.empty
    else violationCache.synchronized {
      violationCache.getOrElseUpdate(dayIndex, makeViolations(dayIndex))
    }

  private def makeViolations(i: Int): Vector[Violation] = {
    val r = rng(i, 2)
    val n = rowCount(i)
    val day0 = dayStartMs(i)
    val previous = if (i > 0) violations(i - 1).filter(_.issueMs.isDefined) else Vector.empty
    (0 until n).toVector.map { j =>
      val redelivered = previous.nonEmpty && j % RedeliverEvery == RedeliverEvery - 1
      val objectId =
        if (redelivered) previous(r.nextInt(previous.size)).objectId
        else i.toLong * 100000L + j
      val nullDate = j == n - 1 && i % 2 == 0
      val fine: FineValue = j % 97 match {
        case 0 => FineText("100.0")
        case 1 => FineText("NaN")
        case 2 => FineText("not-a-number")
        case 3 => FineNumber(0)
        case _ => FineNumber(Fines(r.nextInt(Fines.size)))
      }
      Violation(
        objectId = objectId,
        issueMs = if (nullDate) None else Some(day0 + r.nextLong(DayMs)),
        agency = Agencies(r.nextInt(Agencies.size)),
        accident = r.nextInt(10) match {
          case 0 => None
          case 1 => Some("Y")
          case _ => Some("N")
        },
        location = s"${100 * (1 + r.nextInt(40))} BLK ${Streets(r.nextInt(Streets.size))}",
        code = f"T${100 + r.nextInt(80)}%d",
        desc = Descs(r.nextInt(Descs.size)),
        fine = fine,
        totalPaid = if (r.nextInt(3) == 0) 0.0 else Fines(r.nextInt(Fines.size)).toDouble,
        lat = 38.80 + r.nextInt(200000) / 1e6,
        lon = -77.12 + r.nextInt(200000) / 1e6,
        lowerKeys = j % 53 == 7)
    }
  }

  /** The weather day as first published; None is the empty `days: []`. */
  def weather(dayIndex: Int): Option[Weather] =
    if (dayIndex == EmptyWeatherDay) None
    else {
      val r = rng(dayIndex, 3)
      val tmin = 5.0 + r.nextInt(150) / 10.0
      val tmax = tmin + 2.0 + r.nextInt(120) / 10.0
      val edge = dayIndex % 5
      Some(Weather(date(dayIndex), tmax, tmin, (tmin + tmax) / 2,
        precip = if (edge == 1) None else if (edge == 2) Some(0.0)
          else Some(r.nextInt(4) match { case 0 => r.nextInt(300) / 100.0; case _ => 0.0 }),
        humidity = 40.0 + r.nextInt(500) / 10.0,
        windspeed = r.nextInt(300) / 10.0,
        conditions = edge match {
          case 2 => Some("Rain showers")
          case 3 => None
          case _ => Some(Conditions(r.nextInt(Conditions.size)))
        }))
    }

  /** The revised publication of a weather day (served on replay). */
  def revisedWeather(dayIndex: Int): Weather = {
    val w = weather(dayIndex).getOrElse(Weather(date(dayIndex), 20, 10, 15,
      Some(0.0), 60, 5, Some("Clear")))
    w.copy(tempmax = w.tempmax + 1.5, precip = Some(1.25), conditions = Some("Rain"))
  }

  /** Rows an `ISSUE_DATE >= lo AND ISSUE_DATE < hi` query sees among the
    * days published so far (indices up to `lastDay`), in served order;
    * None is the unfiltered `where=1=1`, which also serves the rows whose
    * ISSUE_DATE is null.
    */
  def query(range: Option[(Long, Long)], lastDay: Int): Vector[Violation] = {
    val all = (0 to lastDay).toVector
    range match {
      case None => all.flatMap(violations)
      case Some((lo, hi)) =>
        all.filter(i => dayStartMs(i) < hi && dayStartMs(i + 1) > lo)
          .flatMap(violations)
          .filter(v => v.issueMs.exists(t => t >= lo && t < hi))
    }
  }

  /** ArcGIS `{"features":[{"attributes":{...}}]}` body for rows. */
  def featuresBody(rows: Seq[Violation]): Array[Byte] = {
    val root = Json.objectNode()
    val arr = root.putArray("features")
    rows.foreach(v => arr.addObject().set[ObjectNode]("attributes", attributes(v)))
    Json.mapper.writeValueAsBytes(root)
  }

  private def attributes(v: Violation): ObjectNode = {
    val a = Json.objectNode()
    def k(name: String) = if (v.lowerKeys) name.toLowerCase else name
    a.put(k("OBJECTID"), v.objectId)
    v.issueMs match {
      case Some(ms) => a.put(k("ISSUE_DATE"), ms)
      case None => a.putNull(k("ISSUE_DATE"))
    }
    a.put(k("ISSUING_AGENCY_NAME"), v.agency)
    v.accident match {
      case Some(x) => a.put(k("ACCIDENT_INDICATOR"), x)
      case None => a.putNull(k("ACCIDENT_INDICATOR"))
    }
    a.put(k("LOCATION"), v.location)
    a.put(k("VIOLATION_CODE"), v.code)
    a.put(k("VIOLATION_PROCESS_DESC"), v.desc)
    v.fine match {
      case FineText(s) => a.put(k("FINE_AMOUNT"), s)
      case FineNumber(n) => a.put(k("FINE_AMOUNT"), n)
    }
    a.put(k("TOTAL_PAID"), v.totalPaid)
    a.put(k("LATITUDE"), v.lat)
    a.put(k("LONGITUDE"), v.lon)
    a
  }

  /** VisualCrossing timeline body for the days [first, last]. */
  def daysBody(days: Seq[Weather]): Array[Byte] = {
    val root = Json.objectNode()
    root.put("resolvedAddress", "Washington, DC, United States")
    val arr = root.putArray("days")
    days.foreach { w =>
      val d = arr.addObject()
      d.put("datetime", w.date.toString)
      d.put("tempmax", w.tempmax)
      d.put("tempmin", w.tempmin)
      d.put("temp", w.temp)
      w.precip match { case Some(p) => d.put("precip", p); case None => d.putNull("precip") }
      d.put("humidity", w.humidity)
      d.put("windspeed", w.windspeed)
      w.conditions match { case Some(c) => d.put("conditions", c); case None => d.putNull("conditions") }
    }
    Json.mapper.writeValueAsBytes(root)
  }
}

object Payloads {
  val PageSize = 2000
  val MinRows = 3000
  val MaxRows = 4600
  val DayMs: Long = 86400000L
  /** Planted edges: these days always fall inside the untimed warm-up. */
  val ExactPageDay = 1
  val EmptyWeatherDay = 0
  val RedeliverEvery = 89

  sealed trait FineValue
  final case class FineText(s: String) extends FineValue
  final case class FineNumber(n: Int) extends FineValue

  private val Agencies = Vector("METROPOLITAN POLICE DEPARTMENT",
    "DEPARTMENT OF PUBLIC WORKS", "DC DEPARTMENT OF TRANSPORTATION",
    "US PARK POLICE", "PROTECTIVE SERVICES DIVISION")
  private val Streets = Vector("NEW YORK AVE NE", "K ST NW", "PENNSYLVANIA AVE SE",
    "RHODE ISLAND AVE NE", "16TH ST NW", "MARTIN LUTHER KING JR AVE SE")
  private val Descs = Vector("SPEED 11-15 MPH OVER THE SPEED LIMIT",
    "SPEED UP TO TEN MPH OVER THE LIMIT", "SPEED 1-10 MPH OVER THE SPEED LIMIT",
    "FAIL TO STOP PER REGULATIONS FACING RED SIGNAL",
    "PARKED IN A BUS ZONE", "NO STANDING ANYTIME")
  private val Fines = Vector(50, 100, 150, 200, 300)
  private val Conditions = Vector("Clear", "Partially cloudy", "Overcast",
    "Rain, Partially cloudy", "Snow")
}

object Json {
  val mapper = new ObjectMapper()
  def objectNode(): ObjectNode = JsonNodeFactory.instance.objectNode()
}
