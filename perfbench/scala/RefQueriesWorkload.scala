package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{CacheScope, SparkEntry}

/** `ref_queries`: one client in a closed loop over the eight Qa-Qh analogs
  * of `SparkEntry.queries`, each forced with the `Bench` fold, in a
  * seed-shuffled order per round. Only whole rounds are timed, so every
  * run holds each query equally often; the number of rounds is fixed by
  * `--seconds`.
  *
  * Before timing, each query runs once untimed: its output is dumped in
  * `graft.Verify`'s layout (one parquet directory per query plus
  * `oracle_sql.json`) for run.py to pass through `scripts/oracle_check.py`,
  * and the fold of that dump is pinned. Every timed fold must equal its
  * pin, so each timed result is one the DuckDB oracle accepted.
  */
object RefQueriesWorkload extends Workload {
  val primary = "query"
  val Names: Seq[String] = Seq(
    "qa_count_by_month_priority", "qb_filter_count", "qc_weekday_avg",
    "qd_join_filter_count", "qe_sum_by_month", "qf_like_sum",
    "qg_hourly_avg", "qh_conditional_agg")
  /** Timed rounds per second of `--seconds` (3 at 10 s). */
  val RoundsPerSecond = 0.3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dump = s"${ctx.work}/dump"
    Files.createDirectories(Paths.get(dump))
    val oracle = Json.objectNode()
    Names.foreach(n => oracle.put(n, SparkEntry.oracleSql(n)))
    Files.write(Paths.get(s"$dump/oracle_sql.json"),
      Json.mapper.writeValueAsString(oracle).getBytes(StandardCharsets.UTF_8))

    val pinned = Names.map { n =>
      SparkEntry.queries(n)(spark, ctx.data).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$n")
      cleanup(ctx)
      n -> Fold(spark.read.parquet(s"$dump/$n"))
    }.toMap

    val rounds = ctx.cyclesFor(RoundsPerSecond)
    var buildTotalMs = 0.0
    // a traced run alternates whole rounds, so traced and untraced
    // queries are the same mix
    for (round <- 0 until rounds) {
      val order = new scala.util.Random(ctx.seed * 7919L + round).shuffle(Names)
      ctx.cycle {
        order.foreach { n =>
          ctx.op("query", n) {
            val t0 = System.nanoTime()
            val df = ctx.call("SparkEntry.queries")(SparkEntry.queries(n)(spark, ctx.data))
            buildTotalMs += (System.nanoTime() - t0) / 1e6
            val got = ctx.call("fold")(Fold(df))
            if (got != pinned(n))
              System.err.println(s"[perfbench] $n fold $got != pinned ${pinned(n)}")
            got == pinned(n)
          }
          cleanup(ctx)
        }
      }
    }
    ctx.values("rounds") = rounds

    if (ctx.traceRun) {
      ctx.sparkLayers()
      ctx.layers("queries.build_ms") = buildTotalMs / ctx.ops.size.max(1)
      ctx.layers("trace.overhead_share") = ctx.overheadShare()
    }
  }

  /** Bench's teardown between samples: nothing cached survives a query. */
  private def cleanup(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    CacheScope.drain(ctx.spark)
  }
}
