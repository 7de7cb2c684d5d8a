package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** The benchmark's JVM side. `perfbench/run.py` builds it and starts it in
  * one of two modes:
  *
  *   --mode setup   build the session through `Tables.localSession`, print
  *                  `READY <epoch us>`, stop (one set-up sample);
  *   --mode run     set up, run one workload for `--seconds`, and write
  *                  the raw result (every operation, check, count and, when
  *                  traced, layer total) as JSON to `--out`.
  *
  * All statistics (medians, tails) are computed by run.py from the raw
  * samples written here.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a("mode") match {
      case "setup" =>
        val spark = graft.Tables.localSession(cores = a("cores").toInt)
        println(s"READY ${epochUs()}")
        spark.stop()
      case "run" => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def epochUs(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000L + now.getNano / 1000
  }

  private def run(a: Map[String, String]): Unit = {
    val cores = a("cores").toInt
    val spark = graft.Tables.localSession(cores = cores)
    val readyUs = epochUs()
    println(s"READY $readyUs")
    val hostPre = graft.HostProbe.measure()
    val workload: Workload = a("workload") match {
      case "ref_queries" => RefQueriesWorkload
      case "daily_ingest" => DailyIngestWorkload
      case "corpus_prep" => CorpusPrepWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ctx = new Ctx(spark, a, cores, workload.primary)
    val t0 = System.nanoTime()
    try workload.run(ctx)
    catch { case e: Exception =>
      // a crashed workload still reports what it ran, as a failed check
      ctx.check("workload_completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
    System.err.println(f"[perfbench] workload ran ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val rssMb = peakRssMb()
    val conf = spark.conf.getAll
    spark.stop()
    val hostPost = graft.HostProbe.measure()

    val root = Json.objectNode()
    root.put("workload", a("workload"))
    root.put("seed", a("seed").toLong)
    root.put("cores", cores)
    root.put("ready_epoch_us", readyUs)
    root.put("peak_rss_mb", rssMb)
    root.set[ObjectNode]("host_pre", Json.mapper.readTree(hostPre.json))
    root.set[ObjectNode]("host_post", Json.mapper.readTree(hostPost.json))
    val confNode = root.putObject("spark_conf")
    conf.toSeq.sortBy(_._1).foreach { case (k, v) => confNode.put(k, v) }
    ctx.writeTo(root)
    Files.write(Paths.get(a("out")), Json.mapper.writeValueAsBytes(root))
    if (a.get("spans").nonEmpty && ctx.tracer.spans.nonEmpty)
      Files.write(Paths.get(a("spans")), ctx.spansJson())
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Args {
  def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
}

/** The fold `graft.Bench` times: xxhash64 over every output value,
  * bit_xor-aggregated, so no column can be pruned away. Returns the row
  * count with it, so an empty result cannot pass as a match.
  */
object Fold {
  def apply(df: DataFrame): (Long, Long) = {
    val safe = df.toDF(df.columns.indices.map("c" + _): _*)
    val row = safe.select(xxhash64(struct(safe.columns.map(col): _*)).as("h"))
      .agg(expr("count(1)"), expr("coalesce(bit_xor(h), 0L)"))
      .collect().head
    (row.getLong(0), row.getLong(1))
  }
}

trait Workload {
  /** The operation kind whose latency is `op_p50_ms`. */
  def primary: String
  def run(ctx: Ctx): Unit
}

/** One timed operation: its kind (query, day, chain ...), name, wall
  * milliseconds, whether it succeeded and whether it ran traced.
  */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean, traced: Boolean)

/** Spark work of the traced cycles, collected from the listener, and
  * how many primary operations those cycles ran.
  */
final class TracedTotals {
  var ops = 0
  var wallMs = 0.0
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  val queries = mutable.ArrayBuffer.empty[QueryRecord]
}

/** What a workload sees: the session, its arguments, and the recorders
  * for operations, checks, counts and (traced runs) layer totals.
  *
  * Traced runs alternate: every other cycle runs with the listeners
  * attached and spans recorded, the cycles between run exactly as in an
  * untraced run. Their ratio is `trace.overhead_share`.
  */
final class Ctx(val spark: SparkSession, val args: Map[String, String], val cores: Int,
    primary: String) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val data: String = args("data")
  val work: String = args("work")
  val traceRun: Boolean = args("trace") == "1"
  val tracer = new Tracer(spark)
  val listener = new TraceListener

  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val traced = new TracedTotals
  private var cycles = 0
  private var tracedNow = false
  private val rootStartMs = tracer.nowMs

  /** How many timed cycles a run makes: `perSecond` × `--seconds`, at
    * least `min`. The count depends on the arguments only, never on how
    * fast the box runs, so every run of a workload times the same cycles
    * (for `daily_ingest`, the same lake sizes and compaction points).
    */
  def cyclesFor(perSecond: Double, min: Int = 2): Int =
    math.max(min, math.round(seconds * perSecond).toInt)

  /** One closed-loop iteration (a round of queries, a day, a chain run,
    * with whatever else it does); in a traced run every other one is
    * traced. Layer metrics are totals of the traced cycles per primary
    * operation they ran.
    */
  def cycle[T](body: => T): T = {
    tracedNow = traceRun && cycles % 2 == 0
    cycles += 1
    if (!tracedNow) body
    else {
      attach()
      val jobsBefore = listener.synchronized(listener.jobs.keySet.toSet)
      val queriesBefore = listener.synchronized(listener.queries.size)
      val t0 = System.nanoTime()
      try body
      finally {
        traced.wallMs += (System.nanoTime() - t0) / 1e6
        detach()
        tracedNow = false
        listener.synchronized {
          traced.jobs ++= listener.jobs.valuesIterator.filterNot(j => jobsBefore(j.jobId))
          traced.queries ++= listener.queries.drop(queriesBefore)
        }
      }
    }
  }

  private def attach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    tracer.enabled = true
  }

  private def detach(): Unit = {
    tracer.enabled = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  /** Time `body` as one operation. A thrown exception or a false result
    * marks the operation failed; it never ends the run. Operations nest:
    * a `daily_ingest` day holds its `runDaily` and its lake query.
    */
  def op(kind: String, name: String)(body: => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try tracer.span("op", s"$kind:$name")(body)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $kind $name failed: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, name, ms, ok, tracedNow)
    if (tracedNow && kind == primary) traced.ops += 1
    ok
  }

  /** A span around one public call into the program. */
  def call[T](name: String)(body: => T): T = tracer.span("call", name)(body)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += ((name, ok, detail))
  }

  /** Run a check body; an exception fails the check. */
  def checking(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body
      catch { case e: Exception => (false, s"${e.getClass.getName}: ${e.getMessage}") }
    check(name, ok, detail)
  }

  /** The Spark-layer metrics, per traced primary operation. */
  def sparkLayers(): Unit = {
    val n = traced.ops.max(1).toDouble
    val js = traced.jobs
    val qs = traced.queries
    layers("spark.plan.analysis_ms") = qs.map(_.analysisMs).sum / n
    layers("spark.plan.optimization_ms") = qs.map(_.optimizationMs).sum / n
    layers("spark.plan.planning_ms") = qs.map(_.planningMs).sum / n
    layers("spark.exec.jobs") = js.size / n
    layers("spark.exec.stages") = js.map(_.stages).sum / n
    layers("spark.exec.tasks") = js.map(_.tasks).sum / n
    layers("spark.exec.exchanges") = qs.map(_.exchanges).sum / n
    layers("spark.exec.shuffle_write_bytes") = js.map(_.shuffleWrite).sum / n
    layers("spark.exec.shuffle_read_bytes") = js.map(_.shuffleRead).sum / n
    layers("spark.exec.spill_bytes") = js.map(_.spill).sum / n
    layers("spark.exec.task_cpu_ms") = js.map(_.cpuNs).sum / 1e6 / n
    layers("spark.exec.gc_ms") = js.map(_.gcMs).sum / n
    layers("spark.exec.core_busy_share") =
      if (traced.wallMs > 0) js.map(_.runMs).sum / (traced.wallMs * cores) else 0.0
  }

  /** Jobs of the traced cycles whose call site lies in `module`
    * (optionally entered through `function`).
    */
  def moduleJobs(module: String, function: String = ""): Seq[JobRecord] =
    traced.jobs.filter(j => j.origin.exists(o =>
      o.module == module && (function.isEmpty || o.function == function))).toSeq

  /** Job milliseconds per traced primary operation in `module` (and
    * `function`).
    */
  def moduleMs(module: String, function: String = ""): Double =
    moduleJobs(module, function).map(_.durationMs).sum.toDouble / traced.ops.max(1)

  /** Traced versus untraced median wall time of the primary operation. */
  def overheadShare(): Double = {
    def med(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val mine = ops.filter(o => o.kind == primary && o.ok)
    val traced = med(mine.filter(_.traced).map(_.ms).toSeq)
    val plain = med(mine.filterNot(_.traced).map(_.ms).toSeq)
    if (plain > 0 && !traced.isNaN) traced / plain - 1.0 else 0.0
  }

  def writeTo(root: ObjectNode): Unit = {
    val o = root.putArray("ops")
    ops.foreach { op =>
      val n = o.addObject()
      n.put("kind", op.kind); n.put("name", op.name); n.put("ms", op.ms)
      n.put("ok", op.ok); n.put("traced", op.traced)
    }
    val c = root.putArray("checks")
    checks.foreach { case (name, ok, detail) =>
      val n = c.addObject(); n.put("name", name); n.put("ok", ok); n.put("detail", detail)
    }
    val v = root.putObject("values")
    values.foreach { case (k, x) => v.put(k, x) }
    val l = root.putObject("layers")
    if (traceRun) layers.foreach { case (k, x) => l.put(k, x) }
    val nt = root.putObject("notes")
    notes.foreach { case (k, x) => nt.put(k, x) }
  }

  /** The sidecar: every span (operations, calls, jobs) of the traced
    * cycles under one workload root, jobs with their attributed module.
    */
  def spansJson(): Array[Byte] = {
    val root = Json.objectNode()
    val arr = root.putArray("spans")
    def add(s: Span, module: String = ""): Unit = {
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("kind", s.kind)
      n.put("name", s.name); n.put("start_ms", s.startMs); n.put("end_ms", s.endMs)
      if (module.nonEmpty) n.put("module", module)
    }
    add(Span(0, -1, "workload", args("workload"), rootStartMs, tracer.nowMs))
    tracer.spans.foreach(s => add(s))
    traced.jobs.foreach { j =>
      add(Span(1000000L + j.jobId, j.span, "job", j.callSite, j.startMs.toDouble, j.endMs.toDouble),
        j.origin.map(o => s"${o.module}.${o.function}").getOrElse(""))
    }
    Json.mapper.writeValueAsBytes(root)
  }
}
