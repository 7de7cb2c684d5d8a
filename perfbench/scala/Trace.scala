package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one benchmark-side boundary (workload, operation, public call)
  * or one Spark job, with the span that caused it. Times are epoch ms.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Spans for the traced run, kept in memory and written out when the run
  * ends. While a span is open its id sits in the Spark local property
  * [[Tracer.SpanProperty]], which every job submitted from the client
  * thread (and the SQL and broadcast threads it spawns) inherits, so the
  * listener can hang each job under the call that caused it.
  *
  * With tracing off, [[span]] runs its body and records nothing.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled: Boolean = false
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var next = 0L
  private var open: List[Long] = Nil

  def nowMs: Double = t0EpochMs + (System.nanoTime() - t0Ns) / 1e6

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = open.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val previous = sc.getLocalProperty(Tracer.SpanProperty)
      val start = nowMs
      open = id :: open
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      try body
      finally {
        sc.setLocalProperty(Tracer.SpanProperty, previous)
        open = open.tail
        recorded.synchronized(recorded += Span(id, parent, kind, name, start, nowMs))
      }
    }

  def spans: Vector[Span] = recorded.synchronized(recorded.toVector)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Where a job came from: the program module (`etl.Sinks`), the public
  * function of that module it ran under (`insertIgnore`), or None when
  * no program frame is on the job's call site.
  */
final case class Origin(module: String, function: String)

object Attribution {
  private val Frame = """\s*(?:at\s+)?([\w.$]+)\.([\w$<>]+)\(([^)]*)\)\s*""".r

  /** The module a job belongs to, read from the long call site Spark
    * records for it (the stack from the action down to `main`): the
    * first frame of a `graft.` class outside the benchmark names the
    * module; among the consecutive frames of that class, the outermost
    * names the function the caller entered it through.
    */
  def origin(longCallSite: String): Option[Origin] = {
    val frames = longCallSite.split("\n").toVector.flatMap {
      case Frame(cls, method, _) => Some((cls, method))
      case _ => None
    }
    val program = frames.indexWhere { case (cls, _) => isProgram(cls) }
    if (program < 0) None
    else {
      val cls = frames(program)._1
      val run = frames.drop(program).takeWhile(_._1 == cls)
      Some(Origin(moduleOf(cls), functionOf(run.last._2)))
    }
  }

  private def isProgram(cls: String): Boolean =
    cls.startsWith("graft.") && !cls.startsWith("perfbench.")

  /** `graft.etl.Sinks$` → `etl.Sinks`; nested and anonymous classes fold
    * into the top-level class of their file.
    */
  def moduleOf(cls: String): String =
    cls.stripPrefix("graft.").split('$').head

  /** `$anonfun$upsert$3` → `upsert`. */
  def functionOf(method: String): String =
    method.split('$').filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
      .headOption.getOrElse(method)
}

/** Per-job record assembled from listener events. `origin` comes from
  * the job's own call site or, for the jobs AQE and broadcasts submit
  * from their own threads (no program frame on the stack), from another
  * job of the same SQL execution.
  */
final class JobRecord(val jobId: Int, val span: Long, val executionId: Long,
    var origin: Option[Origin], val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  def durationMs: Long = endMs - startMs
}

/** Per-SQL-execution record from the QueryExecutionListener. */
final case class QueryRecord(analysisMs: Long, optimizationMs: Long, planningMs: Long,
    exchanges: Int)

/** The traced run's listeners: a SparkListener for jobs, stages, tasks
  * and cached blocks, and a QueryExecutionListener for Catalyst phase
  * times and the final (post-AQE) plan's exchange count. Both are
  * attached only around traced operations.
  */
final class TraceListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val queries = mutable.ArrayBuffer.empty[QueryRecord]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  var peakCachedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // the result stage carries the job's call site: short form as its
    // name, long form (the stack) as its details
    val result = e.stageInfos.sortBy(-_.stageId).headOption
    val long = result.map(_.details).getOrElse("")
    val rec = new JobRecord(e.jobId,
      prop(Tracer.SpanProperty).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      Attribution.origin(long), result.map(_.name).getOrElse(""), e.time)
    if (rec.origin.isEmpty && rec.executionId >= 0)
      rec.origin = jobs.valuesIterator
        .find(o => o.executionId == rec.executionId && o.origin.isDefined).flatMap(_.origin)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.origin.isDefined && j.executionId >= 0)
        jobs.valuesIterator.filter(o => o.origin.isEmpty && o.executionId == j.executionId)
          .foreach(_.origin = j.origin)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (jobId <- stageJob.get(si.stageId); j <- jobs.get(jobId)) {
      val m = si.taskMetrics
      j.stages += 1
      j.tasks += si.numTasks
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peakCachedBytes = math.max(peakCachedBytes, cached)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rec = QueryRecord(ms("analysis"), ms("optimization"), ms("planning"),
      TraceListener.exchanges(qe.executedPlan))
    synchronized(queries += rec)
  }
}

object TraceListener extends AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges of the final plan, counted through
    * AQE query stages and subqueries.
    */
  def exchanges(plan: SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    collectWithSubqueries(root) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
  }
}
