package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing scale-regression gate (VERDICT r10 item 1; tiers r11 item 5).
  *
  * The sf0.1 bench is blind to scale-shape regressions: §10.16's
  * broadcast-flip made dedup_simhash 3× slower at 100× while sf0.1 times
  * never moved. This gate runs the 14 collapse/join-shape-critical ops
  * against the regenerable 100× replicated corpus and FAILS (exit 1) if
  * any exceeds its recorded wall-clock ceiling in `sentinels.json`
  * (checked in, like anchors.json; ceiling = [[CeilingMultiplier]] = 2×
  * the quiet-box receipt — this box swings up to ~2× under external load
  * (BASELINE.md) while the regression class the gate exists for measures
  * 3–10×, so a breach under even moderate load is a real signal — on a
  * breach, re-run once to rule out an extreme burst before treating it
  * as real).
  *
  *   sbt "runMain graft.Sentinel"                 # 100x gate: exit 1 on breach
  *   sbt "runMain graft.Sentinel --record"        # reprint sentinels.json with fresh receipts
  *   sbt "runMain graft.Sentinel --tier 1000x"    # before-release tier (7 ops, ~10 min incl. setup)
  *   sbt "runMain graft.Sentinel --tier 1000x --record"
  *
  * Tiers: `100x` (default) is the standing per-change gate. `1000x` runs
  * the document-only ledger ops (SURVEY §10.17) against the 1000×
  * corpus — too slow for per-commit use; run before a release or after a
  * deliberate change to any gated plan shape. `--record` reads the
  * existing sentinels.json, replaces ONLY the tier being recorded
  * (ceilings at the same [[CeilingMultiplier]] policy), and prints the
  * complete merged file ready to check in — so re-recording one tier
  * can never drift the other, and the emitted ceilings always match the
  * policy SentinelConfigSpec pins.
  *
  * The corpus (default per tier) is regenerated via [[ProbeCorpus]]
  * if missing — only the tables the tier's ops read, so a wiped /tmp
  * costs one rebuild, not a lost gate. Cache is fully dropped between
  * ops (same hygiene as Bench).
  */
object Sentinel {

  /** Ceiling policy, pinned by SentinelConfigSpec against the checked-in
    * file: every recorded ceiling is exactly ceil(receipt × this). 2×,
    * not tighter: identical code has measured ~2× apart on this box
    * under external load (BASELINE.md), and the regression class the
    * gate targets (broadcast flips, lost collapses) measures 3–10× — a
    * 2× ceiling catches those without crying wolf on load swings.
    */
  private[graft] val CeilingMultiplier = 2.0

  private[graft] def ceilingFor(receiptSec: Double): Double =
    math.ceil(receiptSec * CeilingMultiplier)

  /** The note `--record` emits — same text the checked-in file carries,
    * parameterized only by tier name (SentinelConfigSpec pins both).
    */
  private[graft] def note(tier: String): String =
    s"wall-clock ceilings for the $tier scale gate; ceiling = 2x the " +
      "quiet-box receipt (this box swings up to ~2x under external load " +
      "- BASELINE.md - and every regression this gate exists for " +
      "measured 3-10x). On a breach, re-run once to rule out an extreme burst."

  /** Fold every output value (Bench's honesty rule): count() lets
    * Catalyst prune projection-shaped work to a bare scan. The row count
    * is count(*) — bit_xor(h) already forces the hash for every row, and
    * a guard like h =!= 0 would silently drop rows whose xxhash64
    * happens to be 0 from the recorded count (ADVICE r11).
    */
  private def fold(df: DataFrame): Long = {
    val safe = df.toDF(df.columns.indices.map("c" + _): _*)
    safe.select(xxhash64(struct(safe.columns.map(col): _*)).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)"))
      .collect().head.getLong(0)
  }

  /** The full composed CorpusPipeline chain, terminal chunks grain —
    * the `pipeline_composed` op. Per-stage `observeCount` row accounting
    * rides the terminal action (no extra jobs).
    */
  private def composedChain(
      spark: SparkSession, dir: String, baseDir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the benchmark side is CONSTANT — an eval suite does not grow with
    // the corpus; replicating it alongside is the §10.7 artifact, not
    // the production shape
    val benchmark = Tables.documents(spark, baseDir)
      .filter(col("doc_id") % 97 === 0)
    // the near-dup detector runs INSIDE the chain on the exact-deduped
    // representatives (dedupNearSimhash — the scale-correct composition:
    // raw-corpus pair output grows C(k,2) per duplicate group, ~3×10⁹
    // rows at 1000×, while the representative graph is scale-invariant);
    // its component resolution is the pipeline's one eager step and is
    // included in the wall time
    val chain = pipeline.CorpusPipeline(docs)
      .observeCount("s0_input")
      .dedupExact()
      .observeCount("s1_dedup_exact")
      .removeRepeatedSpans()
      .observeCount("s2_span_clean")
      .dedupNearSimhash()
      .observeCount("s3_dedup_near")
      .decontaminate(benchmark)
      .observeCount("s4_decontaminate")
      .redactPii()
      .filterRepetition()
      .observeCount("s5_filter_repetition")
      .filterBoilerplate()
      .observeCount("s6_filter_boilerplate")
      .filterQualityEnsemble()
      .observeCount("s7_filter_quality")
      .sampleStratified(Map("en" -> 0.5), default = 0.2)
      .withSplit(trainPct = 90)
      .observeCount("s8_sampled_split")
    chain.chunks()
  }

  /** An op returns (rows, optional self-timed seconds). Self-timing is
    * for ops with untimed SETUP (the incremental index build is the
    * one-time cost; the gate watches the steady-state daily path).
    */
  private type Op = (SparkSession, String, String) => (Long, Option[Double])
  private def timed(f: (SparkSession, String, String) => Long): Op =
    (s, d, b) => (f(s, d, b), None)

  private[graft] val ops: Seq[(String, Op)] = Seq(
    "dedup_simhash" -> timed((s, d, _) =>
      queries.SketchDedupQueries.qDedupSimhash(s, d).count()),
    "dedup_minhash_lsh" -> timed((s, d, _) =>
      queries.SketchDedupQueries.qDedupMinhashLsh(s, d).count()),
    "dedup_components" -> timed((s, d, _) =>
      queries.SketchDedupQueries.qDedupComponents(s, d).count()),
    // the documented recommended path for trio users: three frames over
    // ONE shared signature pass + component resolution. The shared-pass
    // plan shape (one CacheScope persist feeding three frames) is
    // exactly what a refactor can silently break — gate the whole trio
    // as one receipt (VERDICT r12 item 5).
    "dedup_group_bundle" -> timed((s, d, _) => {
      val frames = queries.SketchDedupQueries.dedupGroupBundle(s, d)
      // consume in the documented order; all three must materialize
      frames("components").count() + frames("apply").count() +
        frames("cluster_stats").count()
    }),
    "semdedup" -> timed((s, d, _) =>
      queries.SimilarityQueries.qSemDedup(s, d).count()),
    "phash_neardup" -> timed((s, d, _) =>
      queries.MultimodalQueries.qPhashNeardup(s, d).count()),
    "er_clusters" -> timed((s, d, _) =>
      queries.CurationQueries.qErClusters(s, d).count()),
    // production decontamination shape: CONSTANT benchmark (an eval
    // suite does not grow with the corpus), broadcast strategy
    "decontaminate_const" -> timed((s, d, b) =>
      pipeline.CorpusPipeline(Tables.documents(s, d))
        .decontaminate(Tables.documents(s, b).filter(col("doc_id") % 97 === 0))
        .df.count()),
    // projection-shaped: fold, or Catalyst times a bare scan
    "exact_substr" -> timed((s, d, _) =>
      fold(queries.CorpusOpsQueries.qExactSubstr(s, d)
        .select(col("clean_hash")))),
    // the per-token trio, collapse-carrying since round 11
    "langid_nb" -> timed((s, d, _) =>
      queries.TextQueries.qLangIdNb(s, d).count()),
    "lm_quality" -> timed((s, d, _) =>
      queries.TextQueries.qLmQuality(s, d).count()),
    "perplexity" -> timed((s, d, _) =>
      queries.CurationQueries.qPerplexity(s, d).count()),
    "pipeline_composed" -> timed((s, d, b) =>
      fold(composedChain(s, d, b))),
    // steady-state daily dedup: standing index build is SETUP (untimed);
    // the gate watches one day's batch (signatures → upsert → pairs)
    "incremental_daily" -> ((s, d, b) => {
      import queries.IncrementalDedupQueries._
      val docs = Tables.documents(s, d)
      val isBase = col("doc_id") < 10000000L
      val batchPred = isBase && col("doc_id") % 5 === 4
      val lake = java.nio.file.Files.createTempDirectory("sentinel-inc")
        .resolve("sig").toString
      updateIndex(s, signatures(docs.filter(!batchPred)), lake,
        ingestDate = Some("2026-08-12"))
      val t0 = System.nanoTime()
      val sigs = signatures(docs.filter(batchPred)).persist()
      updateIndex(s, sigs, lake, ingestDate = Some("2026-08-13"))
      val nPairs = pairsForBatchSigs(s.read.parquet(lake), sigs).count()
      val daySecs = (System.nanoTime() - t0) / 1e9
      sigs.unpersist()
      etl.LakeFs.deleteRecursively(s,
        new org.apache.hadoop.fs.Path(lake).getParent)
      (nPairs, Some(daySecs))
    })
  )

  /** A gate tier: which corpus, which ops, which sentinels.json node.
    * The 100x tier keeps its historical top-level layout ("ops" plus
    * top-level corpus/copies/note); additional tiers nest under
    * "tier_<name>" so re-recording one never rewrites the other.
    */
  private[graft] case class Tier(
      name: String,
      defaultCorpus: String,
      copies: Int,
      tables: Set[String],
      opNames: Seq[String])

  private[graft] val Tiers: Map[String, Tier] = Map(
    "100x" -> Tier("100x", "/tmp/docs100x", 100,
      Set("documents", "embeddings", "customer"), ops.map(_._1)),
    // the document-only §10.17 ledger ops: per-commit they'd be too slow
    // (incremental_daily's untimed index build alone is ~4 min at 1000×);
    // run before a release or after changing a gated plan shape
    "1000x" -> Tier("1000x", "/tmp/docs1000x", 1000, Set("documents"),
      Seq("dedup_components", "dedup_group_bundle", "exact_substr",
        "langid_nb", "lm_quality", "pipeline_composed", "incremental_daily")),
    // another decade up (50M docs): every op here is collapse-carrying
    // or scan-shaped, so output stays bounded while the corpus grows —
    // the tier exists to keep proving exactly that. ~30-40 min + 74 GB
    // including incremental_daily's untimed 50M-row index build.
    // Cadence contract (VERDICT r14 item 4): gate-mode run before a
    // major release AND after any change to a sink write path or a
    // gated op's plan shape — never per-commit. This tier only became runnable
    // at all after the round-13 sink fix (the index bulk load's
    // unconditional dedup window blew 70 GB of local disk).
    "10000x" -> Tier("10000x", "/tmp/docs10000x", 10000, Set("documents"),
      Seq("dedup_components", "dedup_group_bundle", "exact_substr",
        "langid_nb", "lm_quality", "pipeline_composed", "incremental_daily")))

  /** The tier's ops node inside a parsed sentinels.json, or null. */
  private[graft] def tierOpsNode(root: com.fasterxml.jackson.databind.JsonNode,
      tier: String): com.fasterxml.jackson.databind.JsonNode =
    if (tier == "100x") root.get("ops")
    else { val t = root.get(s"tier_$tier"); if (t == null) null else t.get("ops") }

  def main(args: Array[String]): Unit = {
    var record = false
    var tierName = "100x"
    var onlyOps: Option[Set[String]] = None
    val pos = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--record" => record = true
        case "--tier" =>
          require(i + 1 < args.length, "--tier requires a value " +
            s"(have tiers: ${Tiers.keys.mkString(", ")})")
          tierName = args(i + 1); i += 1
        // targeted breach re-runs (the gate's own "re-run once" policy):
        // gate only the named ops against their recorded ceilings instead
        // of paying the full tier again. Gate mode only — a RECORDED
        // receipt set must always come from one whole-tier run.
        case "--ops" =>
          require(i + 1 < args.length, "--ops requires a comma-separated list")
          onlyOps = Some(args(i + 1).split(",").map(_.trim).toSet); i += 1
        case a if a.startsWith("--") =>
          sys.error(s"unknown flag '$a' (known: --record, --tier <name>, --ops <a,b>)")
        case a => pos += a
      }
      i += 1
    }
    require(!(record && onlyOps.nonEmpty),
      "--ops is gate-only: recorded receipts must come from a whole-tier run")
    val tier = Tiers.getOrElse(tierName,
      sys.error(s"unknown tier '$tierName' (have: ${Tiers.keys.mkString(", ")})"))
    val corpus = pos.headOption.getOrElse(tier.defaultCorpus)
    val baseDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val sentinelsPath = sys.env.getOrElse("SPARK_GRAFT_SENTINELS", "sentinels.json")
    val mapper = new ObjectMapper()

    // host health BEFORE the Spark JVM warms anything, like Bench's pre:
    // a breach line that carries pre ctx_switch_us over the BASELINE.md
    // threshold is a box reading, not an op regression — the artifact
    // says so itself. (Measured pre-session so the cold-probe absolute
    // thresholds apply; an in-session probe reads high from the
    // session's own thread pools.)
    val boxPre = HostProbe.measure()

    // --ops names must resolve to gated ops of THIS tier: a typo (or an
    // op with no recorded ceiling) would otherwise filter the run to
    // zero ops and exit 0 — a clean gate for an op that never ran
    onlyOps.foreach { sel =>
      val unknown = sel.filterNot(tier.opNames.contains)
      require(unknown.isEmpty,
        s"--ops names not in tier ${tier.name}: ${unknown.mkString(", ")} " +
          s"(tier ops: ${tier.opNames.mkString(", ")})")
    }

    val spark = Tables.localSession(cores = 32, probeSplits = true)
    if (!new java.io.File(s"$corpus/documents.parquet").exists()) {
      println(s"[sentinel] corpus $corpus missing — regenerating ${tier.copies}x from $baseDir")
      ProbeCorpus.build(spark, baseDir, corpus, copies = tier.copies,
        onlyTables = Some(tier.tables))
    }
    // layout invariant: no receipt is recorded or gated against a corpus
    // whose scans would run effectively serial (round-12 instrument bug)
    ProbeCorpus.assertScanParallel(corpus)

    // ceilings from sentinels.json (gate mode)
    val ceilings: Map[String, Double] =
      if (record) Map.empty
      else {
        val f = new java.io.File(sentinelsPath)
        require(f.isFile, s"sentinels file not found: $sentinelsPath " +
          "(run with --record to generate receipts)")
        val o = tierOpsNode(mapper.readTree(f), tier.name)
        require(o != null, s"no recorded receipts for tier ${tier.name} in " +
          s"$sentinelsPath (run with --tier ${tier.name} --record first)")
        val it = o.fieldNames()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val n = it.next()
          b += n -> o.get(n).get("ceiling_sec").asDouble()
        }
        b.result()
      }

    // warmup: JVM + codegen + parquet reader, same spirit as Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.documents(spark, corpus).count()

    var breaches = List.empty[(String, Double, Double)]
    val tierOps = ops.filter { case (n, _) =>
      tier.opNames.contains(n) && onlyOps.forall(_(n)) }
    // in gate mode every selected op must actually gate: an --ops name
    // whose ceiling is missing from sentinels.json would silently drop
    // out of `results` below and read as a pass
    onlyOps.foreach { sel =>
      val ungated = sel.filterNot(n => record || ceilings.contains(n))
      require(ungated.isEmpty,
        s"--ops names have no recorded ceiling for tier ${tier.name}: " +
          s"${ungated.mkString(", ")} (record the tier first)")
    }
    val results = tierOps
      .filter { case (n, _) => record || ceilings.contains(n) }
      .map { case (name, op) =>
        val t0 = System.nanoTime()
        val (rows, selfTimed) = op(spark, corpus, baseDir)
        val secs = selfTimed.getOrElse((System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache()
        CacheScope.drain(spark)
        val status = ceilings.get(name) match {
          case Some(c) if secs > c => breaches ::= (name, secs, c); "BREACH"
          case Some(_) => "ok"
          case None => "recorded"
        }
        println(f"[sentinel] $name%-20s $secs%8.2f s   rows=$rows%-10d $status")
        (name, secs, rows)
      }

    // post reading after spark.stop() plus a short settle so the
    // session's draining thread pools don't pollute the wakeup-latency
    // number (~7x inflation unsettled; see Bench for the read rule)
    spark.stop()
    Thread.sleep(1000)
    val boxPost = HostProbe.measure()
    println(s"[sentinel] box pre=${boxPre.json} post=${boxPost.json}")

    if (record) {
      // merge fresh receipts for THIS TIER into the existing file and
      // print the complete result, ready to check in verbatim
      val f = new java.io.File(sentinelsPath)
      val root: ObjectNode =
        if (f.isFile) mapper.readTree(f).asInstanceOf[ObjectNode]
        else mapper.createObjectNode()
      val opsNode = mapper.createObjectNode()
      results.foreach { case (n, s, r) =>
        val o = opsNode.putObject(n)
        // ceiling derives from the ROUNDED receipt — the value the file
        // stores and SentinelConfigSpec re-derives the policy from
        val receipt = math.rint(s * 10) / 10
        o.put("receipt_sec", receipt)
        o.put("ceiling_sec", ceilingFor(receipt))
        o.put("rows", r)
      }
      if (tier.name == "100x") {
        root.put("corpus", corpus)
        root.put("built_from", baseDir)
        root.put("copies", tier.copies)
        root.put("note", note(tier.name))
        root.set[ObjectNode]("ops", opsNode)
      } else {
        val t = mapper.createObjectNode()
        t.put("corpus", corpus)
        t.put("built_from", baseDir)
        t.put("copies", tier.copies)
        t.put("note", note(tier.name))
        t.set[ObjectNode]("ops", opsNode)
        root.set[ObjectNode](s"tier_${tier.name}", t)
      }
      println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    } else {
      val summary = breaches.map { case (n, s, c) =>
        f""""$n": {"sec": $s%.1f, "ceiling_sec": $c%.1f}""" }
        .mkString("{", ",", "}")
      println(s"""{"sentinel":1,"tier":"${tier.name}","corpus":"$corpus","n_ops":${results.size},"n_breach":${breaches.size},"breaches":$summary,"box":{"pre":${boxPre.json},"post":${boxPost.json}}}""")
    }
    if (breaches.nonEmpty) sys.exit(1)
  }
}
