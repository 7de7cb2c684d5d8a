package perfbench

import org.apache.spark.sql.DataFrame

import graft.CacheScope
import graft.pipeline.CorpusPipeline

/** `corpus_prep`: the composed `CorpusPipeline` chain built through its
  * public methods, one whole chain (build, eager near-dedup components,
  * terminal fold over the chunks) per operation, closed loop, one client;
  * the number of timed chains is fixed by `--seconds`.
  *
  * The first chain runs untimed and pins the per-stage `observeCount`
  * rows and the output fold; every timed chain must reproduce them.
  * run.py also compares them with the values pinned for the seed in
  * `perfbench/pins.json` and with the generator's own counts.
  *
  * In the chain, `removeRepeatedSpans` strips every 5-token span that
  * recurs across documents, which takes out the planted near copies and
  * the shared boilerplate template before `dedupNearSimhash` and
  * `filterBoilerplate` see them. So those two stages also run untimed on
  * their own straight after `dedupExact`; run.py checks the ids they keep
  * against the generator's planted groups.
  */
object CorpusPrepWorkload extends Workload {
  val primary = "chain"
  val Stages: Seq[String] = Seq("input", "dedupExact", "removeRepeatedSpans",
    "dedupNearSimhash", "decontaminate", "redactPii", "filterRepetition",
    "filterBoilerplate", "filterQualityEnsemble", "sampleStratified", "withSplit")
  /** Timed chains per second of `--seconds` (2 at 10 s). The untimed
    * first chain costs about two timed ones, and a gated set of runs has
    * to end within its hour on a slow host, so a run times two.
    */
  val ChainsPerSecond = 0.2

  /** The chain with a named row count after every stage; "chunks" is the
    * terminal grain.
    */
  def chain(docs: DataFrame, benchmark: DataFrame): DataFrame =
    CorpusPipeline(docs)
      .observeCount("input")
      .dedupExact().observeCount("dedupExact")
      .removeRepeatedSpans().observeCount("removeRepeatedSpans")
      .dedupNearSimhash().observeCount("dedupNearSimhash")
      .decontaminate(benchmark).observeCount("decontaminate")
      .redactPii().observeCount("redactPii")
      .filterRepetition().observeCount("filterRepetition")
      .filterBoilerplate().observeCount("filterBoilerplate")
      .filterQualityEnsemble().observeCount("filterQualityEnsemble")
      .sampleStratified(Map("en" -> 0.5), default = 0.2).observeCount("sampleStratified")
      .withSplit(trainPct = 90).observeCount("withSplit")
      .chunks()

  /** Per-stage rows plus the output's (row count, fold). */
  final case class Outcome(stageRows: Map[String, Long], fold: (Long, Long))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet")
    val benchmark = spark.read.parquet(s"${ctx.data}/benchmark.parquet")
    var eagerMs = 0.0

    def once(): Outcome = {
      val t0 = System.nanoTime()
      val out = ctx.call("CorpusPipeline.chain")(chain(docs, benchmark))
      eagerMs += (System.nanoTime() - t0) / 1e6
      val safe = out.toDF(out.columns.indices.map("c" + _): _*)
      val folded = safe.select(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.struct(safe.columns.map(safe.col): _*)).as("h"))
        .selectExpr("count(1)", "coalesce(bit_xor(h), 0L)")
      val row = ctx.call("fold")(folded.collect().head)
      val observed = folded.queryExecution.observedMetrics
      Outcome(Stages.map(s => s -> observed.get(s).map(_.getLong(0)).getOrElse(-1L)).toMap,
        (row.getLong(0), row.getLong(1)))
    }
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      CacheScope.drain(spark)
    }

    val pin = once()
    cleanup()
    Seq[(String, CorpusPipeline => CorpusPipeline)](
      "dedupNearSimhash" -> (_.dedupNearSimhash()),
      "filterBoilerplate" -> (_.filterBoilerplate())).foreach { case (stage, f) =>
      val kept = f(CorpusPipeline(docs).dedupExact()).df.select("doc_id").collect()
      ctx.notes(s"probe.$stage.kept_ids") = kept.map(_.getLong(0)).sorted.mkString(",")
      cleanup()
    }
    eagerMs = 0.0
    // at least two timed chains: a traced run needs one traced and one
    // untraced chain
    val runs = ctx.cyclesFor(ChainsPerSecond)
    for (i <- 0 until runs) {
      ctx.cycle {
        ctx.op("chain", s"run$i") {
          val got = once()
          if (got != pin) System.err.println(s"[perfbench] chain $got != pin $pin")
          got == pin
        }
      }
      cleanup()
    }

    pin.stageRows.foreach { case (s, n) => ctx.values(s"pipeline.stage_rows.$s") = n.toDouble }
    ctx.values("pipeline.output_rows") = pin.fold._1.toDouble
    ctx.notes("pipeline.fold") = pin.fold._2.toString
    if (ctx.traceRun) {
      ctx.sparkLayers()
      ctx.layers("pipeline.eager_ms") = eagerMs / runs
      ctx.layers("ops.ConnectedComponents.ms") = ctx.moduleMs("ops.ConnectedComponents")
      ctx.layers("CacheScope.peak_cached_bytes") = ctx.listener.peakCachedBytes.toDouble
      ctx.layers("trace.overhead_share") = ctx.overheadShare()
    }
  }
}
