package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col => fcol, struct => fstruct, xxhash64}

import scala.collection.mutable.ArrayBuffer

/** Per-query cost breakdown — the one per-query instrument: runs named
  * queries with the bench's exact fold action under a stage listener and
  * prints, per query, wall seconds, stage/task counts, summed executor
  * run time, shuffle read/write bytes and record counts, input bytes,
  * spill, and the top stages by executor time — so a reader can tell
  * scan-bound from shuffle-bound from dispatch-bound before touching the
  * plan.
  *
  * Also prints, per query:
  *  - the physical plan's Exchange count (cheap plan audit without a
  *    full explain dump);
  *  - stage count and input bytes of the BUILD phase (jobs the query
  *    runs before returning its frame) vs the FOLD phase — a persisted
  *    intermediate the fold re-reads from the source shows up as fold
  *    input bytes, a cache miss the plan audit can't see;
  *  - Catalyst analysis, optimization and physical-planning ms of the
  *    returned frame (`QueryExecution.tracker`) — multi-reference
  *    subtrees duplicate upstream plans, so planning can grow
  *    super-linearly while the data stays small.
  *
  *   scripts/run_main.sh graft.QueryStatsProbe q_dedup_agreement q_sim_ivf
  *   SPARK_GRAFT_PROBE_SAMPLES=3 scripts/run_main.sh graft.QueryStatsProbe --all
  */
object QueryStatsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val samples = sys.env.getOrElse("SPARK_GRAFT_PROBE_SAMPLES", "1").toInt.max(1)
    // the bench's session settings (incl. the AQE coalescing floor) so
    // stage shapes here match what the bench actually runs
    val spark = Tables.localSession(cores = cpus.toInt)

    // same warmup as Bench so the first probed query isn't charged JVM/
    // codegen startup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.nation(spark, sfDir).count()
    SparkEntry.queries.get("qd_join_filter_count")
      .foreach(q => q(spark, sfDir).count())

    // every job carries its phase as a local property, so a stage is
    // attributed to the phase that submitted it even when its completion
    // event drains after the phase switched
    val PhaseProp = "graft.qprobe.phase"
    final case class StageRow(name: String, phase: String, tasks: Int, execMs: Long,
      shRead: Long, shReadRec: Long, shWrite: Long, shWriteRec: Long,
      input: Long, spill: Long, maxTaskMs: Long, wallMs: Long)
    val stages = ArrayBuffer.empty[StageRow]
    val taskMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val phase = Option(js.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
          .getOrElse("other")
        js.stageIds.foreach(stagePhase.put(_, phase))
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = if (te.taskInfo != null) te.taskInfo.duration else 0L
        taskMax.merge(te.stageId, d, (a: Long, b: Long) => math.max(a, b))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
        stages.synchronized {
          stages += StageRow(si.name, stagePhase.getOrDefault(si.stageId, "other"),
            si.numTasks, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.inputMetrics.bytesRead, m.diskBytesSpilled,
            taskMax.getOrDefault(si.stageId, 0L), wall)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names =
      if (args.isEmpty || args.sameElements(Array("--all")))
        SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to samples).foreach { s =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        spark.sparkContext.setLocalProperty(PhaseProp, "build")
        val raw = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(PhaseProp, "fold")
        val df = raw.toDF(raw.columns.indices.map("c" + _): _*)
        try df.select(xxhash64(fstruct(df.columns.map(fcol): _*)).as("h"))
          .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
        catch { case _: org.apache.spark.sql.AnalysisException =>
          df.select(xxhash64(org.apache.spark.sql.functions.to_json(
            fstruct(df.columns.map(fcol): _*))).as("h"))
            .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setLocalProperty(PhaseProp, null)
        // listener events are posted async; give the bus a moment to drain
        Thread.sleep(300)
        val snap = stages.synchronized(stages.toVector)
        val nStages = snap.size
        val nTasks = snap.map(_.tasks).sum
        val execS = snap.map(_.execMs).sum / 1e3
        val shR = snap.map(_.shRead).sum
        val shRRec = snap.map(_.shReadRec).sum
        val shW = snap.map(_.shWrite).sum
        val input = snap.map(_.input).sum
        val spill = snap.map(_.spill).sum
        // planning the returned frame here also fills its tracker's
        // optimization and planning phases (analysis ran at build)
        val exchanges =
          "Exchange".r.findAllIn(raw.queryExecution.executedPlan.toString).size
        val planMs = raw.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        def phase(p: String) = {
          val rows = snap.filter(_.phase == p)
          f"$p: stages=${rows.size}%3d input=${rows.map(_.input).sum / 1e6}%9.1fMB"
        }
        println(f"[qprobe] $name%-28s s$s wall=$wall%7.2f build=$tBuild%5.2f " +
          f"stages=$nStages%3d tasks=$nTasks%5d execSum=$execS%8.2f " +
          f"shRead=${shR / 1e6}%9.1fMB shRecs=$shRRec%10d shWrite=${shW / 1e6}%9.1fMB " +
          f"input=${input / 1e6}%9.1fMB spill=${spill / 1e6}%7.1fMB exch=$exchanges%2d")
        println(f"[qprobe]   ${phase("build")} | ${phase("fold")} | plan ms: " +
          Seq("analysis", "optimization", "planning")
            .map(p => s"$p=${planMs.getOrElse(p, 0L)}").mkString(" "))
        if (sys.env.get("SPARK_GRAFT_PROBE_TOPSTAGES").exists(_.toInt > 0)) {
          val k = sys.env("SPARK_GRAFT_PROBE_TOPSTAGES").toInt
          snap.sortBy(-_.execMs).take(k).foreach { st =>
            println(f"[qprobe]   stage exec=${st.execMs / 1e3}%7.2fs wall=${st.wallMs / 1e3}%6.2fs " +
              f"maxTask=${st.maxTaskMs / 1e3}%6.2fs tasks=${st.tasks}%4d " +
              f"shR=${st.shRead / 1e6}%8.1fMB shW=${st.shWrite / 1e6}%8.1fMB " +
              f"in=${st.input / 1e6}%8.1fMB spill=${st.spill / 1e6}%6.1fMB  ${st.name.take(90)}")
          }
        }
        spark.catalog.clearCache()
        CacheScope.drain(spark)
      }
    }
    spark.stop()
  }
}
