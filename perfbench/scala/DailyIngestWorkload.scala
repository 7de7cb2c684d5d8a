package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.etl.{Incremental, IncrementalRunner, RefQueries, Sinks}

/** `daily_ingest`: the reference's daily Lambda loop against the loopback
  * [[ApiEmulator]], through the production `mode=http` fetchers
  * (`HttpArcGisFetcher`, `HttpVcFetcher`) and DSv2 sources.
  *
  * Each simulated day is one operation: one `IncrementalRunner.runDaily`
  * call (weather upsert, then violations insert-ignore into the
  * month-partitioned lake), then one rotating `RefQueries` query (Qa...Qh)
  * over the lake just written, so a sink change that speeds writes but
  * slows lake reads moves the day's latency. Both halves are also timed on
  * their own. After every [[CompactEvery]]th day the violations lake is
  * compacted. The first [[WarmupDays]] days run untimed and carry the
  * planted edge days (the exact 2,000-row page, the empty weather day);
  * the number of timed days is fixed by `--seconds`. The run ends by
  * replaying one day with a revised weather publication, then checks the
  * lake against the generator.
  */
object DailyIngestWorkload extends Workload {
  val primary = "day"
  val Start: LocalDate = LocalDate.of(2024, 9, 24)
  val WarmupDays = 6
  val CompactEvery = 3
  /** Timed days per second of `--seconds` (6 at 10 s). */
  val DaysPerSecond = 0.6
  val ReplayDay: Int = Payloads.ExactPageDay

  private val LakeQueries: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "qa" -> ((v, _) => RefQueries.qa(v)),
    "qb" -> ((v, _) => RefQueries.qb(v)),
    "qc" -> ((v, _) => RefQueries.qc(v)),
    "qd" -> ((v, w) => RefQueries.qd(v, w)),
    "qe" -> ((_, w) => RefQueries.qe(w)),
    "qf" -> ((v, _) => RefQueries.qf(v)),
    "qg" -> ((v, _) => RefQueries.qg(v)),
    "qh" -> ((v, w) => RefQueries.qh(v, w)))

  def run(ctx: Ctx): Unit = {
    val payloads = new Payloads(ctx.seed, Start)
    val emulator = new ApiEmulator(payloads, ctx.cores)
    try new Run(ctx, payloads, emulator).go()
    finally emulator.stop()
  }

  private final class Run(ctx: Ctx, payloads: Payloads, emulator: ApiEmulator) {
    private val spark = ctx.spark
    private val base = s"${ctx.work}/lake"
    private val vPath = IncrementalRunner.violationsPath(base)
    private val wPath = IncrementalRunner.weatherPath(base)
    private val fetchWeather = IncrementalRunner.fetchWeatherViaSource(spark, Map(
      "mode" -> "http", "url" -> emulator.vcUrl, "location" -> "Washington,DC",
      "key" -> "perfbench")) _
    private val fetchViolations = IncrementalRunner.fetchViolationsViaSource(spark, Map(
      "mode" -> "http", "url" -> emulator.arcgisUrl, "layer" -> "0")) _

    private var days = 0
    private var requests = Vector.empty[ApiEmulator.Request]
    private var neededRequests = 0
    private var bytesWritten = 0L
    private var buildMs = 0.0
    private val timedDays = ctx.cyclesFor(DaysPerSecond, min = CompactEvery)

    def go(): Unit = {
      (0 until WarmupDays).foreach(_ => ingest("warmup_day"))
      for (timed <- 1 to timedDays) ctx.cycle {
        ctx.op("day", payloads.date(days).toString) {
          val loaded = ingest("ingest_day")
          val (name, query) = LakeQueries((days - 1) % LakeQueries.size)
          val read = ctx.op("lake_query", name) {
            val v = spark.read.parquet(vPath)
            val w = spark.read.parquet(wPath)
            val t0 = System.nanoTime()
            val df = ctx.call(s"RefQueries.$name")(query(v, w))
            buildMs += (System.nanoTime() - t0) / 1e6
            ctx.call("fold")(Fold(df))._1 > 0
          }
          loaded && read
        }
        if (timed % CompactEvery == 0) {
          val before = listing()
          ctx.op("compact", "violations") {
            ctx.call("Sinks.compact")(Sinks.compact(spark, vPath, partitioned = true))
            true
          }
          bytesWritten += written(before, listing())
        }
      }
      report()
      verify()
    }

    /** One `runDaily` call that must load exactly the next day. */
    private def ingest(kind: String): Boolean = {
      val d = payloads.date(days)
      emulator.publishThrough(days)
      emulator.drainLog()
      val before = listing()
      val ok = ctx.op(kind, d.toString) {
        val r = ctx.call("IncrementalRunner.runDaily")(IncrementalRunner.runDaily(
          spark, base, fetchWeather, fetchViolations, today = d.plusDays(1),
          weatherColdStart = Start, violationsColdStart = Start))
        r.weather.loaded == Seq(d) && r.violations.loaded == Seq(d) &&
          r.weather.failed.isEmpty && r.violations.failed.isEmpty
      }
      bytesWritten += written(before, listing())
      requests ++= emulator.drainLog()
      neededRequests += ApiEmulator.neededPerDay(payloads.query(Some(dayRange(days)), days).size)
      days += 1
      ok
    }

    private def dayRange(i: Int): (Long, Long) = (payloads.dayStartMs(i), payloads.dayStartMs(i + 1))

    private def listing(): Map[Path, (Long, Long)] = {
      val root = Paths.get(base)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
        }.toMap
        finally s.close()
      }
    }

    /** Bytes of files that are new or rewritten between two listings. */
    private def written(before: Map[Path, (Long, Long)], after: Map[Path, (Long, Long)]): Long =
      after.collect { case (p, st) if !before.get(p).contains(st) => st._1 }.sum

    private def report(): Unit = {
      val perDay = 1.0 / days
      val split = ApiEmulator.byEndpoint(requests)
      val files = listing()
      val lakeBytes = files.values.map(_._1).sum
      val rows = spark.read.parquet(vPath).count() + spark.read.parquet(wPath).count()
      ctx.values("days") = days
      ctx.values("api_requests_per_day") = requests.size * perDay
      ctx.values("lake_bytes_per_row") = lakeBytes.toDouble / rows
      ctx.values("sources.arcgis_count_requests") = split.getOrElse("arcgis_count", 0) * perDay
      ctx.values("sources.arcgis_page_requests") = split.getOrElse("arcgis_page", 0) * perDay
      ctx.values("sources.vc_requests") = split.getOrElse("vc", 0) * perDay
      ctx.values("sources.useful_request_share") = neededRequests.toDouble / requests.size.max(1)
      ctx.values("sources.response_bytes") = requests.map(_.bytes).sum * perDay
      ctx.values("sources.server_busy_ms") = requests.map(_.busyNs).sum / 1e6 * perDay
      ctx.values("etl.Sinks.bytes_written_per_day") = bytesWritten * perDay
      ctx.values("etl.Sinks.write_amplification") = bytesWritten.toDouble / lakeBytes
      ctx.values("etl.lake_files") = files.keys.count(_.toString.endsWith(".parquet"))
      if (ctx.traceRun) {
        ctx.sparkLayers()
        ctx.layers("queries.build_ms") = buildMs / timedDays
        ctx.layers("etl.Incremental.ms") = ctx.moduleMs("etl.Incremental")
        ctx.layers("etl.Sinks.insertIgnore_ms") = ctx.moduleMs("etl.Sinks", "insertIgnore")
        ctx.layers("etl.Sinks.upsert_ms") = ctx.moduleMs("etl.Sinks", "upsert")
        ctx.layers("etl.Sinks.compact_ms") = ctx.moduleMs("etl.Sinks", "compact")
        ctx.layers("etl.Sinks.lake_records_scanned") =
          ctx.moduleJobs("etl.Sinks").map(_.recordsRead).sum.toDouble / ctx.traced.ops.max(1)
        ctx.layers("trace.overhead_share") = ctx.overheadShare()
      }
    }

    private def verify(): Unit = {
      val last = days - 1
      val expectedKeys = (0 to last).flatMap { i =>
        val month = payloads.date(i).toString.substring(0, 7)
        payloads.query(Some(dayRange(i)), last).map(v => s"${month}_${v.objectId}")
      }.toSet

      ctx.checking("lake_keys_match_generator") {
        val ids = spark.read.parquet(vPath).select("violation_id").collect().map(_.getString(0))
        val distinct = ids.toSet
        (ids.length == distinct.size && distinct == expectedKeys,
          s"rows=${ids.length} distinct=${distinct.size} expected=${expectedKeys.size}")
      }
      ctx.checking("watermark_is_last_day") {
        val want = Some(payloads.date(last))
        val v = Incremental.watermark(spark, vPath, "violation_date")
        val w = Incremental.watermark(spark, wPath, "weather_date")
        (v == want && w == want, s"violations=$v weather=$w want=$want")
      }
      ctx.checking("replayed_day_adds_no_rows") {
        val d = payloads.date(ReplayDay)
        val before = spark.read.parquet(vPath).count()
        emulator.revise(ReplayDay)
        Sinks.upsert(spark, fetchWeather(d), wPath, keys = Seq("weather_date"))
        Sinks.insertIgnore(spark, fetchViolations(d), vPath,
          keys = Seq("violation_id"), partitionBy = Seq("month"))
        val after = spark.read.parquet(vPath).count()
        (after == before, s"before=$before after=$after")
      }
      ctx.checking("weather_holds_last_written_values") {
        val got = spark.read.parquet(wPath).collect().map(weatherTuple).toSeq
        val want = (0 to last).map(expectedWeather)
        (got.sortBy(_._1.toEpochDay) == want,
          s"got=${got.size} want=${want.size} missing=${(want.toSet -- got).take(2)}")
      }
      ctx.checking("ref_queries_sql_equals_df") {
        val v = spark.read.parquet(vPath)
        val w = spark.read.parquet(wPath)
        val sql = RefQueries.runAllSql(spark, v, w)
        val df = RefQueries.runAllDf(v, w)
        val diff = sql.keys.toSeq.sorted.filter(k => rowsOf(sql(k)) != rowsOf(df(k)))
        (diff.isEmpty, s"differ: ${diff.mkString(",")}")
      }
    }

    private def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

    private type WeatherRow = (LocalDate, Option[Double], Option[Double], Option[Double],
      Option[Double], Option[Double], Option[Double], Option[String], Int)

    private def weatherTuple(r: Row): WeatherRow = {
      def d(c: String) = Option(r.getAs[java.lang.Double](c)).map(_.doubleValue)
      (r.getAs[java.sql.Date]("weather_date").toLocalDate, d("tempmax"), d("tempmin"),
        d("temp"), d("precip"), d("humidity"), d("windspeed"),
        Option(r.getAs[String]("conditions")), r.getAs[Int]("is_rain"))
    }

    /** The weather row a day must end with: the revised publication for
      * the replayed day, the `missing_from_api` sentinel for an empty
      * response, otherwise the first publication. `is_rain` follows the
      * reference's daily rule: precip > 0 or "rain" in the conditions.
      */
    private def expectedWeather(i: Int): WeatherRow = {
      val w = if (i == ReplayDay) Some(payloads.revisedWeather(i)) else payloads.weather(i)
      w match {
        case None => (payloads.date(i), None, None, None, None, None, None,
          Some("missing_from_api"), 0)
        case Some(x) =>
          val rain = x.precip.exists(_ > 0) ||
            x.conditions.exists(_.toLowerCase.contains("rain"))
          (x.date, Some(x.tempmax), Some(x.tempmin), Some(x.temp), x.precip,
            Some(x.humidity), Some(x.windspeed), x.conditions, if (rain) 1 else 0)
      }
    }
  }
}
