package perfbench

import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.{HttpArcGisFetcher, HttpVcFetcher}

/** The harness's own tests (run by `perfbench/tests/run_tests.py`):
  * payload determinism, the emulator's protocol as the production HTTP
  * fetchers see it, and job-to-module attribution from call sites.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable =>
      failures += name
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private val start = LocalDate.of(2024, 9, 24)

  private def bodies(p: Payloads, days: Int): Seq[Array[Byte]] =
    (0 until days).flatMap { i =>
      Seq(p.featuresBody(p.violations(i)), p.daysBody(p.weather(i).toSeq),
        p.daysBody(Seq(p.revisedWeather(i))))
    }

  def main(args: Array[String]): Unit = {
    test("same seed renders byte-identical payloads") {
      val a = bodies(new Payloads(7, start), 6)
      val b = bodies(new Payloads(7, start), 6)
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    }
    test("another seed renders other payloads") {
      val a = bodies(new Payloads(7, start), 3)
      val b = bodies(new Payloads(8, start), 3)
      assert(!java.util.Arrays.equals(a.head, b.head))
    }
    test("a day's rows do not depend on which days were generated first") {
      val a = new Payloads(7, start)
      val b = new Payloads(7, start)
      b.violations(4)
      assert(java.util.Arrays.equals(a.featuresBody(a.violations(4)), b.featuresBody(b.violations(4))))
    }
    test("planted edges: exact page day, empty weather day, re-delivered rows") {
      val p = new Payloads(7, start)
      eq(p.violations(Payloads.ExactPageDay).size, Payloads.PageSize)
      eq(p.weather(Payloads.EmptyWeatherDay), None)
      val before = p.violations(2).map(_.objectId).toSet
      assert(p.violations(3).exists(v => before(v.objectId)), "no re-delivered row")
    }
    test("requests needed per day: one VC call, one count, one page per 2,000 rows") {
      eq(ApiEmulator.neededPerDay(0), 2)
      eq(ApiEmulator.neededPerDay(2000), 3)
      eq(ApiEmulator.neededPerDay(2001), 4)
    }

    val p = new Payloads(7, start)
    val emu = new ApiEmulator(p, 2)
    try {
      emu.publishThrough(3)
      val arc = new HttpArcGisFetcher(emu.arcgisUrl, "0", 10)
      def range(i: Int) = Some((p.dayStartMs(i), p.dayStartMs(i + 1)))
      test("ArcGIS count and pages over HTTP return exactly the day's rows") {
        (0 to 3).foreach { i =>
          val want = p.violations(i).filter(_.issueMs.isDefined)
          eq(arc.count(range(i)), want.size.toLong, s"count day $i")
          val pages = (0L until want.size.toLong by Payloads.PageSize.toLong)
            .map(off => arc.page(off, Payloads.PageSize, range(i)))
          assert(pages.forall(_.size <= Payloads.PageSize))
          val ids = pages.flatten.map { a =>
            Option(a.get("OBJECTID")).getOrElse(a.get("objectid")).asLong
          }
          eq(ids, want.map(_.objectId), s"ids day $i")
        }
      }
      test("the exact-page day fits one page and the next page is empty") {
        val d = Payloads.ExactPageDay
        eq(arc.page(0, Payloads.PageSize, range(d)).size, Payloads.PageSize)
        eq(arc.page(Payloads.PageSize, Payloads.PageSize, range(d)).size, 0)
      }
      test("unfiltered where=1=1 also serves the null-ISSUE_DATE rows") {
        eq(arc.count(None), (0 to 3).map(p.violations(_).size).sum.toLong)
      }
      test("unpublished days are not served") {
        eq(arc.count(range(5)), 0L)
      }
      val vc = new HttpVcFetcher(emu.vcUrl, "Washington,DC", 10, "k", "metric")
      test("VC /location/date timeline over HTTP") {
        val d = p.date(2)
        val days = vc.days(d.toString, d.toString)
        eq(days.size, 1)
        eq(days.head.get("datetime").asText, d.toString)
        eq(days.head.get("tempmax").asDouble, p.weather(2).get.tempmax)
        eq(vc.days(p.date(0).toString, p.date(0).toString).size, 0, "empty day")
        eq(vc.days(p.date(0).toString, p.date(3).toString).size, 3, "range")
      }
      test("a revised weather day is served after revise()") {
        emu.revise(2)
        val d = p.date(2).toString
        eq(vc.days(d, d).head.get("tempmax").asDouble, p.revisedWeather(2).tempmax)
      }
      test("the request log splits requests by endpoint") {
        emu.drainLog()
        arc.count(range(1))
        arc.page(0, 10, range(1))
        vc.days(p.date(1).toString, p.date(1).toString)
        val log = emu.drainLog()
        eq(ApiEmulator.byEndpoint(log), Map("arcgis_count" -> 1, "arcgis_page" -> 1, "vc" -> 1))
        assert(log.forall(r => r.bytes > 0 && r.busyNs > 0))
      }
    } finally emu.stop()

    test("attribution: first program frame names the module, outermost frame the function") {
      val long = Seq(
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
        "graft.etl.Sinks$.hasDupKeys(Sinks.scala:100)",
        "graft.etl.Sinks$.$anonfun$insertIgnore$2(Sinks.scala:720)",
        "graft.etl.Sinks$.insertIgnore(Sinks.scala:715)",
        "graft.etl.IncrementalRunner$.$anonfun$runDaily$2(IncrementalRunner.scala:78)",
        "perfbench.DailyIngestWorkload$Run.ingest(DailyIngestWorkload.scala:99)").mkString("\n")
      eq(Attribution.origin(long), Some(Origin("etl.Sinks", "insertIgnore")))
    }
    test("attribution: a benchmark-only stack has no program origin") {
      val long = Seq(
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)",
        "perfbench.Fold$.apply(Main.scala:107)",
        "java.base/java.lang.Thread.run(Thread.java:840)").mkString("\n")
      eq(Attribution.origin(long), None)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("attribution: a live job from graft.etl.Incremental is attributed to it") {
        val dir = Files.createTempDirectory("perfbench-selftest").resolve("t").toString
        import spark.implicits._
        Seq(java.sql.Date.valueOf("2024-09-24")).toDF("d").write.parquet(dir)
        val l = new TraceListener
        spark.sparkContext.addSparkListener(l)
        graft.etl.Incremental.watermark(spark, dir, "d")
        Fold(spark.read.parquet(dir))
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        val origins = l.jobs.values.map(_.origin).toSeq
        assert(origins.contains(Some(Origin("etl.Incremental", "watermark"))), s"$origins")
        assert(origins.contains(None), s"benchmark fold attributed: $origins")
      }
    } finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }
}
