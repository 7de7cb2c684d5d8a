package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Text-analysis operators for large-scale training-data pipelines, over
  * the documents table: token counting, quality scoring, language-ID
  * heuristics, document fingerprinting, exact dedup, and n-gram Jaccard
  * near-dedup.
  *
  * All ops are narrow per-row Column expressions (whole-stage codegen,
  * no UDFs) except the dedup ops, which shuffle once on the
  * fingerprint/shingle key — the layout that scales to 100 TB: per-row
  * feature extraction is embarrassingly parallel, candidate generation is
  * a single hash-partitioned join on a high-cardinality key.
  */
object TextQueries {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  // --- token counting + quality scoring (length/punct/stopword ratios) ---
  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    documents(spark, dir)
      .withColumn("tk", toks(col("text")))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        size(col("tk")).as("n_tokens"),
        // BPE-ish subword estimate: letter runs, digit runs, and single
        // non-space symbols as separate tokens (a GPT-style pre-tokenizer
        // approximation)
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .as("n_tokens_bpe"),
        (length(regexp_replace(col("text"), "\\s+", ""))
          .cast("double") / size(col("tk"))).as("avg_token_len"),
        (size(filter(col("tk"), t => t.isin(stop.map(lit(_)): _*)))
          .cast("double") / size(col("tk"))).as("stopword_ratio"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .as("punct_count"))
      .orderBy(col("doc_id"))
  }

  val qTextStatsOracle: String =
    """SELECT doc_id, lang, n_chars,
      |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT)
      |         AS n_tokens_bpe,
      |       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |         / len(string_split_regex(trim(text), '\s+')) AS avg_token_len,
      |       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |                            t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
      |         / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio,
      |       CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT)
      |         AS punct_count
      |FROM documents ORDER BY 1""".stripMargin

  // --- language-ID: marker-token scoring with deterministic argmax ---
  // (n-gram/stopword heuristic; CJK char count for zh)
  def qTextLangId(spark: SparkSession, dir: String): DataFrame = {
    def hits(markers: Seq[String]): Column =
      size(filter(toks(lower(col("text"))), t => t.isin(markers.map(lit(_)): _*)))
    val en = hits(Seq("the", "a", "of", "and", "to", "is"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht"))
    val es = hits(Seq("el", "la", "de", "y", "es", "que"))
    val fr = hits(Seq("le", "la", "de", "et", "est", "les"))
    val zh = length(regexp_replace(col("text"), "[^\\x{4e00}-\\x{9fff}]", ""))
    val best = greatest(en, de, es, fr, zh)
    documents(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        en.as("en_score"), de.as("de_score"), es.as("es_score"),
        fr.as("fr_score"), zh.as("zh_score"),
        when(best === 0, "und")
          .when(best === en, "en").when(best === de, "de")
          .when(best === es, "es").when(best === fr, "fr")
          .otherwise("zh").as("guessed_lang"))
      .orderBy(col("doc_id"))
  }

  val qTextLangIdOracle: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |         t -> t IN ('the','a','of','and','to','is'))) AS INT) AS en_score,
      |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |         t -> t IN ('der','die','das','und','ist','nicht'))) AS INT) AS de_score,
      |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |         t -> t IN ('el','la','de','y','es','que'))) AS INT) AS es_score,
      |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |         t -> t IN ('le','la','de','et','est','les'))) AS INT) AS fr_score,
      |    CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS INT) AS zh_score
      |  FROM documents)
      |SELECT doc_id, lang, en_score, de_score, es_score, fr_score, zh_score,
      |       CASE WHEN greatest(en_score,de_score,es_score,fr_score,zh_score) = 0 THEN 'und'
      |            WHEN greatest(en_score,de_score,es_score,fr_score,zh_score) = en_score THEN 'en'
      |            WHEN greatest(en_score,de_score,es_score,fr_score,zh_score) = de_score THEN 'de'
      |            WHEN greatest(en_score,de_score,es_score,fr_score,zh_score) = es_score THEN 'es'
      |            WHEN greatest(en_score,de_score,es_score,fr_score,zh_score) = fr_score THEN 'fr'
      |            ELSE 'zh' END AS guessed_lang
      |FROM scored ORDER BY 1""".stripMargin

  // --- language-ID, trained: naive Bayes over character trigrams ---
  // A REAL in-engine model, not a marker heuristic: per-language
  // Laplace-smoothed trigram log-probabilities are TRAINED from the
  // labeled corpus and every document is scored against every language,
  // all inside one plan (train and apply are two narrow aggregations plus
  // one scoring join — nothing leaves the cluster).
  //
  // Determinism across engines: log10 values are rounded to 6 decimals
  // and summed as DECIMAL(28,6) — decimal addition is exact and
  // order-insensitive, so shuffle order can't flip an argmax (a double
  // sum here would be nondeterministic across partitionings). Docs are
  // truncated to their first 200 chars (standard langid practice; bounds
  // the explode). Output is the confusion matrix (actual, predicted, n).
  //
  // NOTE: building this query is EAGER — the score columns are generated
  // from the language inventory, which the builder collects by running
  // the training aggregation (corpus-scale, bounded output) at
  // plan-build time. Plan-audit/EXPLAIN callers pay that job before they
  // see a plan; every other `queries` entry is a pure lazy build.
  def qLangIdNb(spark: SparkSession, dir: String): DataFrame = {
    // Per-doc trigram COUNTS are computed at ROW grain in one compiled
    // pass (CharNgramCountsExpr, round 11): the previous shape exploded
    // every trigram INSTANCE (~99M rows at the 100x corpus) and shuffled
    // that stream on near-unique (doc, gram) keys just to rebuild counts
    // that never left their row — the shuffle map-side combine couldn't
    // reduce (the §10.15 negative result, now resolved from the
    // expression side instead). On top of that rides the identical-
    // content collapse (§10.16): two docs with the same language and
    // same truncated text have the same training contribution (weighted
    // by the copy count) and the same prediction, so gram maps, scoring,
    // and the argmax all run once per DISTINCT (lang, text200) group and
    // the confusion matrix sums group sizes. min(s) — deterministic, all
    // group members identical — carries the representative text;
    // LangIdCollapseSpec pins the collapsed queries against a replicated
    // corpus. c_l and the vocab still derive from c_gl (Σ per language /
    // distinct g — arithmetic identities).
    val gmap = documents(spark, dir)
      .select(col("lang"), substring(lower(col("text")), 1, 200).as("s"))
      .groupBy(col("lang"), md5(col("s")).as("th"))
      .agg(count(lit(1)).as("gsz"), min(col("s")).as("s"))
      .select(col("lang"), col("th"), col("gsz"),
        graft.functions.CharNgramCountsExpr.charNgramCounts(col("s")).as("gm"))
      .filter(size(col("gm")) > 0) // <3-char docs contribute nothing
      .transform(graft.CacheScope.persist) // feeds training counts and scoring
    // persisted (optimization r15): the training chain references cGl
    // FOUR times (cL, vocab→vSize, and logp's left join) and each
    // reference re-ran the map-explode + aggregate over the cached gmap
    // — a stage-metrics probe showed 4 near-identical heavy stages per
    // fold. cGl is |langs|×|vocab| rows (charset-bounded, not
    // corpus-bounded), so the persist is metadata-scale while the
    // explode-agg it saves is corpus-scale.
    val cGl = gmap
      .select(col("lang").as("l"), col("gsz"),
        explode(col("gm")).as(Seq("g", "cnt")))
      .groupBy(col("l"), col("g")).agg(sum(col("cnt") * col("gsz")).as("c_gl"))
      .transform(graft.CacheScope.persist)
    val cL = cGl.groupBy(col("l")).agg(sum(col("c_gl")).as("c_l"))
    val vocab = cGl.select(col("g")).distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    // log-prob table for EVERY (trigram, language) pair — absent pairs get
    // the smoothed floor. |vocab| x |langs| rows: bounded by the charset,
    // not the corpus.
    val logp = vocab
      .join(broadcast(cL), lit(true))
      .join(broadcast(vSize), lit(true))
      .join(cGl, Seq("g", "l"), "left")
      .select(col("g"), col("l"),
        round(log10((coalesce(col("c_gl"), lit(0L)) + 1).cast("double") /
          (col("c_l") + col("v"))), 6).cast("decimal(28,6)").as("lp"))
    // score with per-doc trigram COUNTS against the BROADCAST log-prob
    // table — lp * cnt in decimal is exactly cnt additions of lp.
    //
    // Round-11 shared-pass audit (VERDICT r10 item 8), scoring side: the
    // per-language ROW layout joined each (doc, g) against |langs|
    // broadcast rows (5x join output) and resolved the argmax with a
    // row_number window over 5 rows per doc — another full shuffle. The
    // map layout (one broadcast row per trigram, lang->lp entries; every
    // lang present by construction) scores all languages in ONE
    // aggregate pass at doc grain: the (doc, gram, cnt) stream explodes
    // straight out of the cached maps (scan-local, no shuffle), partial
    // aggregation collapses each doc to one row per partition before the
    // 500k-row doc-grain shuffle, and argmax is a codegen'd greatest +
    // first-match chain with the same (score desc, lang asc) tie-break.
    // Decimal sums are unchanged, so the confusion matrix is
    // bit-identical. (Measured alone, the map scoring was a WASH at the
    // 100x corpus — 185 vs 187 s — because the instance explode + count
    // shuffle dominated; the CharNgramCountsExpr restructure above is
    // what moves the total. Receipts in SURVEY §10.17.)
    val lpMap = logp.groupBy(col("g"))
      .agg(map_from_entries(collect_list(struct(col("l"), col("lp")))).as("lps"))
    // label set: bounded by the language inventory (5 here, ~100s at
    // worst), not the corpus — a driver-side list the score columns are
    // generated from
    val langs = cL.select(col("l")).collect().map(_.getString(0)).sorted
    if (langs.isEmpty) {
      // a corpus where every truncated text is <3 chars yields no
      // trigrams, hence no model and no predictions: the confusion
      // matrix is EMPTY (the pre-collapse shape returned an empty frame
      // here; the oracle's scored CTE is empty too — ADVICE r11 flagged
      // that scoreCols.head/greatest would otherwise throw at build)
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("lang", StringType),
          StructField("predicted", StringType),
          StructField("n_docs", LongType))))
    }
    val scoreCols = langs.map(l =>
      sum(element_at(col("lps"), lit(l)) * col("cnt")).as(s"s_$l"))
    // scoring at GROUP grain: identical (lang, text200) docs share their
    // scores and prediction; the matrix sums group sizes at the end
    val perGroup = gmap
      .select(col("lang"), col("th"), col("gsz"),
        explode(col("gm")).as(Seq("g", "cnt")))
      .join(broadcast(lpMap), "g")
      .groupBy(col("lang"), col("th"), col("gsz"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val mx =
      if (langs.size == 1) col(s"s_${langs.head}")
      else greatest(langs.map(l => col(s"s_$l")): _*)
    // ties take the alphabetically-first language: the when-chain is
    // evaluated in ascending lang order, first match wins — identical to
    // the old orderBy(score desc, l asc) row_number
    val predicted = coalesce(
      langs.map(l => when(col(s"s_$l") === mx, lit(l))): _*)
    perGroup
      .select(col("lang"), col("gsz"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(sum(col("gsz")).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))
  }

  val qLangIdNbOracle: String =
    """WITH tri AS (
      |  SELECT doc_id, lang, unnest(list_transform(
      |    generate_series(1, greatest(length(substring(lower(text), 1, 200)) - 2, 0)),
      |    i -> substring(substring(lower(text), 1, 200), i, 3))) AS g
      |  FROM documents
      |), c_gl AS (
      |  SELECT lang AS l, g, count(*) AS c_gl FROM tri GROUP BY 1, 2
      |), c_l AS (
      |  SELECT lang AS l, count(*) AS c_l FROM tri GROUP BY 1
      |), vocab AS (
      |  SELECT DISTINCT g FROM tri
      |), v AS (
      |  SELECT count(*) AS v FROM vocab
      |), logp AS (
      |  SELECT vocab.g, c_l.l,
      |         CAST(round(log10(CAST(coalesce(c_gl.c_gl, 0) + 1 AS DOUBLE)
      |           / (c_l.c_l + v.v)), 6) AS DECIMAL(28,6)) AS lp
      |  FROM vocab CROSS JOIN c_l CROSS JOIN v
      |  LEFT JOIN c_gl ON c_gl.g = vocab.g AND c_gl.l = c_l.l
      |), scored AS (
      |  SELECT tri.doc_id, tri.lang, logp.l, sum(logp.lp) AS score
      |  FROM tri JOIN logp ON tri.g = logp.g
      |  GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT doc_id, lang, l AS predicted
      |  FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) = 1
      |)
      |SELECT lang, predicted, count(*) AS n_docs
      |FROM best GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- model-based quality: per-doc log-likelihood under its language model ---
  // The "perplexity filter" of an LLM data pipeline: score every document
  // by its average trigram log-probability under ITS OWN language's
  // trained model (same Laplace-smoothed model as q_langid_nb); documents
  // far below their language's typical likelihood are noise/outliers.
  // Per-doc totals sum exactly in DECIMAL; the average divides once at
  // the end (rounded), so the score is order-insensitive. Output: the 10
  // lowest-likelihood docs per language — the drop candidates.
  def qLmQuality(spark: SparkSession, dir: String): DataFrame = {
    // Same round-11 restructure as q_langid_nb: per-doc trigram counts
    // at row grain (CharNgramCountsExpr — the near-unique-key count
    // shuffle disappears), training counts from the exploded (gram, cnt)
    // pairs weighted by the identical-content group size, scoring ONCE
    // per distinct (lang, text200) group against a broadcast per-gram
    // lang->lp map; members inherit their group's avg_logp through a
    // hash join before the per-language top-10 window. c_l and |vocab|
    // still derive from c_gl.
    val trunc = substring(lower(col("text")), 1, 200)
    val grp = documents(spark, dir)
      .select(col("lang"), trunc.as("s"))
      .groupBy(col("lang"), md5(col("s")).as("th"))
      .agg(count(lit(1)).as("gsz"), min(col("s")).as("s"))
      .select(col("lang"), col("th"), col("gsz"),
        graft.functions.CharNgramCountsExpr.charNgramCounts(col("s")).as("gm"))
      .filter(size(col("gm")) > 0)
      .transform(graft.CacheScope.persist)
    // persisted (optimization r15): cL, vSize, and logp all reference
    // cGl — without the persist each re-ran the map-explode + aggregate
    // over the cached grp (same finding as q_langid_nb; charset-bounded
    // rows, corpus-scale recompute saved)
    val cGl = grp
      .select(col("lang").as("l"), col("gsz"),
        explode(col("gm")).as(Seq("g", "cnt")))
      .groupBy(col("l"), col("g")).agg(sum(col("cnt") * col("gsz")).as("c_gl"))
      .transform(graft.CacheScope.persist)
    val cL = cGl.groupBy(col("l")).agg(sum(col("c_gl")).as("c_l"))
    val vSize = cGl.select(col("g")).distinct().agg(count(lit(1)).as("v"))
    val logp = cGl
      .join(broadcast(cL), "l")
      .join(broadcast(vSize))
      .select(col("g"), col("l"),
        round(log10((col("c_gl") + 1).cast("double") / (col("c_l") + col("v"))), 6)
          .cast("decimal(28,6)").as("lp"))
    // one broadcast row per gram; scoring reads the group's OWN
    // language's entry — present by construction (the group contributed
    // its counts)
    val lpMap = logp.groupBy(col("g"))
      .agg(map_from_entries(collect_list(struct(col("l"), col("lp")))).as("lps"))
    val groupScore = grp
      .select(col("lang"), col("th"), explode(col("gm")).as(Seq("g", "cnt")))
      .join(broadcast(lpMap), "g")
      .groupBy(col("lang"), col("th"))
      .agg(sum(element_at(col("lps"), col("lang")) * col("cnt")).as("total"),
        sum(col("cnt")).as("n"))
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(trunc).as("th"))
      .join(groupScore, Seq("lang", "th"))
      .select(col("doc_id"), col("lang"),
        round(col("total").cast("double") / col("n"), 5).as("avg_logp"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("avg_logp"), col("doc_id"))))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("doc_id"), col("avg_logp"))
      .orderBy(col("lang"), col("rk"))
  }

  val qLmQualityOracle: String =
    """WITH tri AS (
      |  SELECT doc_id, lang, unnest(list_transform(
      |    generate_series(1, greatest(length(substring(lower(text), 1, 200)) - 2, 0)),
      |    i -> substring(substring(lower(text), 1, 200), i, 3))) AS g
      |  FROM documents
      |), c_gl AS (
      |  SELECT lang AS l, g, count(*) AS c_gl FROM tri GROUP BY 1, 2
      |), c_l AS (
      |  SELECT lang AS l, count(*) AS c_l FROM tri GROUP BY 1
      |), v AS (
      |  SELECT count(DISTINCT g) AS v FROM tri
      |), logp AS (
      |  SELECT c_gl.g, c_gl.l,
      |         CAST(round(log10(CAST(c_gl.c_gl + 1 AS DOUBLE) / (c_l.c_l + v.v)), 6)
      |           AS DECIMAL(28,6)) AS lp
      |  FROM c_gl JOIN c_l ON c_gl.l = c_l.l CROSS JOIN v
      |), dg AS (
      |  SELECT doc_id, lang, g, count(*) AS cnt FROM tri GROUP BY 1, 2, 3
      |), s AS (
      |  SELECT dg.doc_id, dg.lang,
      |         round(CAST(sum(logp.lp * dg.cnt) AS DOUBLE) / sum(dg.cnt), 5) AS avg_logp
      |  FROM dg JOIN logp ON dg.g = logp.g AND dg.lang = logp.l
      |  GROUP BY 1, 2
      |)
      |SELECT lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY avg_logp, doc_id) AS INT) AS rk,
      |       doc_id, avg_logp
      |FROM s
      |QUALIFY rk <= 10
      |ORDER BY lang, rk""".stripMargin

  // --- document fingerprinting: md5 over the sorted distinct token set ---
  // (canonical normalized-bag fingerprint; robust to token order/duplication)
  private def fingerprintCol: Column =
    md5(array_join(
      array_sort(array_distinct(filter(
        split(lower(col("text")), "[^a-z0-9]+"), t => t =!= ""))),
      " "))

  private val fingerprintSql =
    """md5(array_to_string(list_sort(list_distinct(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))), ' '))""".stripMargin

  /** Order-sensitive rolling polynomial hash over the token stream
    * (h = (h*31 + tokenHash) mod 1e9+7) — portable integer arithmetic,
    * identical fold order in both engines.
    */
  private val rollingHashCol: Column = expr(
    """aggregate(
      |  filter(split(lower(text), '[^a-z0-9]+'), t -> t != ''),
      |  CAST(0 AS BIGINT),
      |  (acc, t) -> (acc * 31 + CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % 1000000007) % 1000000007)
      |""".stripMargin)

  private val rollingHashSql =
    """list_reduce(
      |  list_prepend(CAST(0 AS BIGINT),
      |    list_transform(
      |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''),
      |      t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1000000007)),
      |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  def qTextFingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), fingerprintCol.as("fingerprint"),
        rollingHashCol.as("rolling_hash"))
      .orderBy(col("doc_id"))

  val qTextFingerprintOracle: String =
    s"""SELECT doc_id, $fingerprintSql AS fingerprint,
       |       $rollingHashSql AS rolling_hash
       |FROM documents ORDER BY 1""".stripMargin

  // --- exact dedup: hash-groupBy on full text; canonical = min(doc_id) ---
  // One shuffle on a 128-bit hash key; at 100 TB this is the standard
  // "group by content hash, keep min id" pass (hash first so the shuffle
  // carries 32 bytes, not the document).
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("canonical_doc_id"))
      .orderBy(col("canonical_doc_id"))

  val qDedupExactOracle: String =
    """SELECT md5(text) AS content_hash, count(*) AS copies,
      |       min(doc_id) AS canonical_doc_id
      |FROM documents GROUP BY 1 ORDER BY 3""".stripMargin

  // --- near-dedup: 3-gram shingle Jaccard with prefix-filtered candidates ---
  // Candidate generation uses AllPairs/PPJoin prefix filtering (Bayardo et
  // al. 2007): under a global rarity order, a pair with Jaccard >= t=3/5
  // must share a shingle within both docs' first (n - ceil(t*n) + 1)
  // shingles, so the inverted-index join only indexes those prefixes.
  // Lossless for the threshold — the simple full-index oracle produces
  // identical rows — but candidate volume stays linear even when common
  // shingles appear in hundreds of docs (the naive join was measured
  // quadratic: 525s at 50k docs vs ~20s with prefixes; the 10x scale
  // probe, SURVEY §9).
  // All threshold arithmetic is integer-exact (t = 3/5): float rounding at
  // prefix/length boundaries could silently drop qualifying pairs.
  def qDedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsFrom(
      SketchDedupQueries.shingleBase(documents(spark, dir)).transform(graft.CacheScope.persist))

  /** Jaccard pair generation over a prebuilt (caller-persisted)
    * [[SketchDedupQueries.shingleBase]] frame — shared with
    * q_dedup_agreement, which reuses ONE persisted base across its
    * ngram + minhash generators.
    */
  private[queries] def ngramJaccardPairsFrom(docs: DataFrame): DataFrame = {
    val repPairs = ngramRepPairs(docs)
    // reassemble the full pair set from the group structure
    val members = docs.select(col("set_hash"), col("doc_id"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.set_hash") === col("y.set_hash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(members.as("ma"), col("ma.set_hash") === col("ha"))
      .join(members.as("mb"), col("mb.set_hash") === col("hb"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("jaccard"))
    within.unionByName(cross)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The detector's pre-reassembly pair BLOCKS — `(ha, hb, jaccard)`
    * pairs of distinct-shingle-set hashes with jaccard >= 0.6. Shared by
    * the pair query (which expands blocks to member pairs) and the
    * block-grain agreement audit (which never expands).
    */
  private[queries] def ngramRepPairs(docs: DataFrame): DataFrame =
    // verify: exact overlap over full shingle sets, candidates only —
    // representatives only, so volume scales with distinct content.
    // The overlap is size(array_intersect) of the two (distinct) shingle
    // arrays fetched per candidate pair — one per-row set intersection
    // instead of a posting-list self-join + counting shuffle (measured
    // 4x the stage cost at sf0.1 for identical rows; the join moves the
    // same bytes either way, the groupBy and the two counts joins
    // disappear). Shared shape: SketchDedupQueries.verifyShingleCand —
    // q_dedup_agreement verifies the UNION of both shingle detectors'
    // candidates through one pass of it (optimization r16).
    SketchDedupQueries
      .verifyShingleCand(ngramCand(docs), SketchDedupQueries.setReps(docs))
      .filter(col("jaccard") >= 0.6)
      .select(col("ha"), col("hb"), col("jaccard"))

  /** The lossless prefix-filter candidate pairs `(doc_a, doc_b)` over
    * [[SketchDedupQueries.setReps]] representatives — the detector's own
    * generation stage, split from verification so the agreement audit
    * can verify a cross-detector candidate union once.
    */
  private[queries] def ngramCand(docs: DataFrame): DataFrame = {
    // Identical-set collapse: dedup corpora are duplicate-heavy by
    // definition, and exact copies are poison for ALL-pairs candidate
    // generation — k copies of a doc multiply every posting list by k and
    // the candidate join by k². So the expensive pipeline (prefix filter +
    // verify) runs on one REPRESENTATIVE per distinct shingle set, and
    // the full answer is reassembled afterwards: within-group pairs have
    // jaccard exactly 1, and a cross-group rep pair's jaccard holds for
    // every member pair (identical sets). Lossless by construction; on
    // the 10x probe corpus (every doc x10) this cuts candidate generation
    // from 50k docs back to the ~5k distinct sets.
    // min/min_by aggregate, not a row_number window — same swap as
    // minhashRepPairs (round 13): no per-partition sort, and partial
    // aggregation ships one sarr per distinct set per map partition
    // instead of every member's. Row-identical (min_by on unique doc_id
    // = the rn=1 member).
    // SketchDedupQueries.setReps — the canonical shared rep collapse, so
    // q_dedup_agreement's two shingle detectors plan byte-identical
    // subtrees over the shared base and the collapse computes once
    // (optimization r15). NOT persisted (recorded negative): caching the
    // sarr-fat rep frame cost more than the duplicate aggregation it
    // saved.
    val reps = SketchDedupQueries.setReps(docs)
    val shingles = reps
      .select(col("doc_id"), col("n_shingles"), explode(col("sarr")).as("shingle"))
      .transform(graft.CacheScope.persist)

    // Candidate generation is ALWAYS the lossless prefix-filter path — no
    // driver-side count() cost switch. Global canonical order: rarest
    // shingles first, ties by value; prefix size n - ceil(3n/5) + 1,
    // integer-exact (div, not fp).
    val docFreq = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefixes = shingles
      .join(docFreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= col("n_shingles") - expr("(n_shingles * 3 + 4) div 5") + 1)
      .select(col("doc_id"), col("shingle"), col("n_shingles"))
    prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          // length filter, integer-exact: min*5 >= max*3
          && least(col("a.n_shingles"), col("b.n_shingles")) * 5
             >= greatest(col("a.n_shingles"), col("b.n_shingles")) * 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  val qDedupNgramJaccardOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), n AS (
      |  SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY 1
      |), p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |       CAST(common AS DOUBLE) / (na.n_shingles + nb.n_shingles - common) AS jaccard
      |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
      |WHERE CAST(common AS DOUBLE) / (na.n_shingles + nb.n_shingles - common) >= 0.6
      |ORDER BY 1, 2""".stripMargin

  // --- repetition-based quality rules (the Gopher A1.1 family) ---
  // Two per-doc repetition signals over whitespace tokens:
  //   dup2: fraction of bigram OCCURRENCES that are repeats
  //         (1 - distinct_bigrams / total_bigrams),
  //   top_ratio: share of the single most frequent token.
  // Both are pure per-row array expressions — no explode, no shuffle until
  // the final tiny per-source rollup, so the scoring pass is
  // embarrassingly parallel at 100 TB. The top-token count is ONE linear
  // compiled hash pass (TopTokenCountExpr, round 12); its predecessor —
  // nested interpreted lambdas, quadratic in doc length — cost 62 s at
  // the 100x corpus (now 17.9 s) and would grow without bound on a
  // long-document corpus. Still strictly cheaper than exploding N x len
  // rows through a shuffle just to count within a doc.
  //
  // Determinism: per-doc metrics are IEEE double quotients of exact
  // integers (identical in both engines); the per-source averages sum the
  // 6-decimal-rounded metrics as DECIMAL (exact, order-insensitive) and
  // divide once at the end.
  /** Adds the two repetition signals (`dup2`, `top_ratio`) to a frame
    * that already carries a token-array column — shared by the gated
    * query and [[graft.pipeline.CorpusPipeline.filterRepetition]].
    */
  private[graft] def withRepetitionSignals(d: DataFrame, tkCol: String): DataFrame =
    d
      // bigrams; `slice(tk, 1, 0)` is a typed-empty fallback for 1-token
      // docs. Negative A/B (round 12): arrays_zip(slice, slice) struct
      // pairs — the perplexity move — measured WORSE here (22.5 vs 17.9 s
      // at 100x, 4-sample mins): this lambda is linear and feeds
      // array_distinct, and distinct over struct pairs costs more than
      // distinct over the concat strings. The quadratic top-token lambda
      // below was the 62 s problem, not this one.
      .withColumn("_bg", expr(
        s"""CASE WHEN size($tkCol) >= 2
           |  THEN transform(sequence(1, size($tkCol) - 1),
           |         i -> concat(element_at($tkCol, i), ' ', element_at($tkCol, i + 1)))
           |  ELSE slice($tkCol, 1, 0) END""".stripMargin))
      .withColumn("dup2", when(size(col("_bg")) > 0,
        lit(1.0) - size(array_distinct(col("_bg"))).cast("double") / size(col("_bg")))
        .otherwise(lit(0.0)))
      // compiled linear hash-count, not the O(distinct x length) nested
      // interpreted lambdas it replaces (TopTokenCountExpr scaladoc: the
      // lambda form cost 62 s at 100x and grows quadratically with doc
      // length); NULL/tie/empty semantics pinned by TopTokenCountSpec
      .withColumn("top_ratio",
        graft.functions.TopTokenCountExpr.topTokenCount(col(tkCol))
          .cast("double") / size(col(tkCol)))
      .drop("_bg")

  def qRepetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    withRepetitionSignals(
      documents(spark, dir).withColumn("tk", toks(col("text"))), "tk")
      .withColumn("keep", col("dup2") <= 0.03 && col("top_ratio") <= 0.12)
      .groupBy(col("source"))
      .agg(
        sum(when(col("keep"), 1).otherwise(0)).as("kept"),
        sum(when(col("keep"), 0).otherwise(1)).as("dropped"),
        round(sum(round(col("dup2"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 5).as("avg_dup2"),
        round(sum(round(col("top_ratio"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 5).as("avg_top_ratio"))
      .orderBy(col("source"))
  }

  val qRepetitionFilterOracle: String =
    """WITH t AS (
      |  SELECT source, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |), m AS (
      |  SELECT source, tk,
      |         CASE WHEN len(tk) >= 2
      |           THEN list_transform(generate_series(1, len(tk) - 1),
      |                  i -> tk[i] || ' ' || tk[i + 1])
      |           ELSE [] END AS bg
      |  FROM t
      |), s AS (
      |  SELECT source,
      |         CASE WHEN len(bg) > 0
      |           THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
      |           ELSE 0.0 END AS dup2,
      |         CAST(list_max(list_transform(list_distinct(tk),
      |                w -> len(list_filter(tk, x -> x = w)))) AS DOUBLE)
      |           / len(tk) AS top_ratio
      |  FROM m
      |)
      |SELECT source,
      |       CAST(sum(CASE WHEN dup2 <= 0.03 AND top_ratio <= 0.12
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |       CAST(sum(CASE WHEN dup2 <= 0.03 AND top_ratio <= 0.12
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
      |       round(CAST(sum(CAST(round(dup2, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |         / count(*), 5) AS avg_dup2,
      |       round(CAST(sum(CAST(round(top_ratio, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |         / count(*), 5) AS avg_top_ratio
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // --- document-length histogram: binned corpus-shape accounting ---
  // Fixed-width buckets over n_chars via integer arithmetic (identical in
  // any engine — no width_bucket portability trap): one narrow projection
  // plus a tiny aggregation. The per-bucket token average routes through
  // DECIMAL so shuffle order can't move it.
  def qLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket_lo", (col("n_chars") - (col("n_chars") % 20)))
      .groupBy(col("bucket_lo"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        round(sum(size(toks(col("text"))).cast("decimal(18,0)")).cast("double")
          / count(lit(1)), 4).as("avg_tokens"))
      .orderBy(col("bucket_lo"))

  val qLengthHistogramOracle: String =
    """SELECT n_chars - (n_chars % 20) AS bucket_lo,
      |       count(*) AS n_docs,
      |       count(DISTINCT lang) AS n_langs,
      |       round(CAST(sum(CAST(len(string_split_regex(trim(text), '\s+'))
      |                           AS DECIMAL(18,0))) AS DOUBLE)
      |         / count(*), 4) AS avg_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // --- inter-document boilerplate filter (corpus-frequent n-grams) ---
  // The CROSS-document companion to qRepetitionFilter's within-document
  // signals: a shingle appearing in many DOCUMENTS is boilerplate
  // (headers, license text, templated pages), and a document composed
  // mostly of such shingles is a template instance worth dropping
  // (CCNet/RefinedWeb-style corpus-level repetition removal). The hot
  // threshold is corpus-RELATIVE (df >= max(4, 0.8% of docs)) so the
  // definition survives scale-up: "common" means common relative to the
  // corpus, not an absolute count tuned to one SF.
  //
  // 100 TB shape: shingle document-frequency is ONE map-side-combinable
  // groupBy on the shingle key; the HOT subset (df over threshold) is by
  // construction a vanishing fraction of the shingle space — small
  // enough to broadcast — so scoring every document is a broadcast left
  // join + per-doc agg, never a second corpus-wide shuffle on the
  // shingle key.
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val shingled = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("shingle"))
    val nDocs = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val hot = shingled.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= greatest(lit(4L), ceil(col("n_docs") * 0.008)))
      .select(col("shingle"), lit(1L).as("_hot"))
    shingled.join(broadcast(hot), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("_hot")), lit(0L)).as("n_common"))
      .withColumn("boiler_frac",
        round(col("n_common").cast("double") / col("n_shingles"), 6))
      .withColumn("keep", when(col("boiler_frac") <= 0.5, 1).otherwise(0))
      .select("doc_id", "n_shingles", "n_common", "boiler_frac", "keep")
      .orderBy("doc_id")
  }

  val qBoilerplateOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), n AS (SELECT count(*) AS nd FROM documents),
      |hot AS (
      |  SELECT shingle FROM (SELECT shingle, count(*) AS df FROM s GROUP BY 1), n
      |  WHERE df >= greatest(4, CAST(ceil(nd * 0.008) AS BIGINT))
      |), j AS (
      |  SELECT s.doc_id, count(*) AS n_shingles, count(h.shingle) AS n_common
      |  FROM s LEFT JOIN hot h USING (shingle) GROUP BY 1
      |)
      |SELECT doc_id, n_shingles, n_common,
      |       round(CAST(n_common AS DOUBLE) / n_shingles, 6) AS boiler_frac,
      |       CASE WHEN round(CAST(n_common AS DOUBLE) / n_shingles, 6) <= 0.5
      |            THEN 1 ELSE 0 END AS keep
      |FROM j ORDER BY doc_id""".stripMargin

  // --- PII scrubbing: regex redaction with per-type accounting ---
  // The privacy pass every web-scale corpus runs before training:
  // emails, phone numbers, and IPv4 addresses are replaced with typed
  // placeholder tokens and counted per document (the counts feed the
  // pipeline's audit log). Pure per-row regexp_replace/regexp_count —
  // narrow, codegen'd, embarrassingly parallel at 100 TB.
  //
  // The synthetic corpus contains no PII, so the query PLANTS
  // deterministic fake PII derived from doc_id on a subset of docs
  // (different moduli per type, so docs carry 0-3 kinds) and then
  // redacts it: the oracle proves the regex semantics fire identically
  // in both engines rather than trivially matching nothing. Patterns
  // stay in the Java-regex/RE2 common subset (no backreferences, no
  // lookaround) so Spark and DuckDB agree.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The redaction transform itself, shared with CorpusPipeline.redactPii
    * (order matters: emails first — the later patterns can't create or
    * destroy earlier matches, and placeholders contain no redactable
    * text).
    */
  private[graft] def redactPiiCol(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(EmailRe), lit("<EMAIL>")),
        lit(PhoneRe), lit("<PHONE>")),
      lit(Ipv4Re), lit("<IP>"))

  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = documents(spark, dir).withColumn("txt",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 202-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), (floor(col("doc_id") / 7).cast("long") % 256).cast("string")))
          .otherwise(lit(""))))
    val redacted = redactPiiCol(col("txt"))
    planted.select(
      col("doc_id"),
      regexp_count(col("txt"), lit(EmailRe)).as("n_email"),
      regexp_count(col("txt"), lit(PhoneRe)).as("n_phone"),
      regexp_count(col("txt"), lit(Ipv4Re)).as("n_ip"),
      md5(redacted).as("redacted_hash"))
      .orderBy(col("doc_id"))
  }

  val qPiiRedactOracle: String =
    """WITH p AS (
      |  SELECT doc_id,
      |         text
      |         || CASE WHEN doc_id % 3 = 0
      |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |              ELSE '' END
      |         || CASE WHEN doc_id % 4 = 0
      |              THEN ' call 202-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |              ELSE '' END
      |         || CASE WHEN doc_id % 5 = 0
      |              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
      |                   || CAST(CAST(floor(doc_id / 7) AS BIGINT) % 256 AS VARCHAR)
      |              ELSE '' END AS txt
      |  FROM documents
      |)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
      |       CAST(len(regexp_extract_all(txt, '\d{3}[-.]\d{3}[-.]\d{4}')) AS INT) AS n_phone,
      |       CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
      |       md5(regexp_replace(regexp_replace(regexp_replace(txt,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g'),
      |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_hash
      |FROM p ORDER BY doc_id""".stripMargin

  // --- quality filtering: the keep/drop decision pass of a pipeline ---
  // Keep documents whose signals sit in healthy bands (enough tokens,
  // plausible average token length, stopwords not dominating); report
  // kept/dropped per language — the shape of a corpus-cleaning job's
  // accounting output.
  def qTextQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val tk = toks(col("text"))
    val nTokens = size(tk)
    val avgLen = length(regexp_replace(col("text"), "\\s+", ""))
      .cast("double") / nTokens
    val stopRatio = size(filter(tk,
      t => t.isin(Seq("the", "a", "of", "and", "to").map(lit(_)): _*)))
      .cast("double") / nTokens
    documents(spark, dir)
      .withColumn("keep",
        nTokens >= 10 && avgLen >= 2.0 && avgLen <= 12.0 && stopRatio <= 0.3)
      .groupBy(col("lang"))
      .agg(
        sum(when(col("keep"), 1).otherwise(0)).as("kept"),
        sum(when(col("keep"), 0).otherwise(1)).as("dropped"))
      .orderBy(col("lang"))
  }

  val qTextQualityFilterOracle: String =
    """WITH scored AS (
      |  SELECT lang,
      |         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
      |           / len(string_split_regex(trim(text), '\s+')) AS avg_len,
      |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |              t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
      |           / len(string_split_regex(trim(text), '\s+')) AS stop_ratio
      |  FROM documents)
      |SELECT lang,
      |       CAST(sum(CASE WHEN n_tokens >= 10 AND avg_len >= 2.0
      |                      AND avg_len <= 12.0 AND stop_ratio <= 0.3
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |       CAST(sum(CASE WHEN n_tokens >= 10 AND avg_len >= 2.0
      |                      AND avg_len <= 12.0 AND stop_ratio <= 0.3
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS dropped
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin

  // --- normalization-aware exact dedup ---
  // Exact dedup after text canonicalization — lowercase, strip
  // non-alphanumerics, collapse whitespace, trim — the "fuzzy-exact"
  // layer every corpus pipeline runs between byte-identical dedup and
  // sketch near-dedup (case/punctuation/spacing variants of the same
  // page are the single most common duplicate class in web crawls).
  // Fixture: every 5th doc gets a deterministic variant (uppercased,
  // trailing punctuation, doubled spacing) under an offset id, so the
  // op provably collapses variants that byte-exact dedup (q_dedup_exact)
  // keeps apart. Scale shape: per-row codegen'd regexp chain, one
  // shuffle on the 128-bit canonical hash — identical to exact dedup.
  def qNormalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("text")), lit("  !!")).as("text"))
    base.unionByName(variants)
      .withColumn("norm_hash", md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""),
        "\\s+", " "))))
      .groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("norm_hash"))
  }

  val qNormalizedDedupOracle: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, upper(text) || '  !!'
      |  FROM documents WHERE doc_id % 5 = 0),
      |h AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(regexp_replace(lower(text),
      |             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_hash
      |  FROM all_docs)
      |SELECT norm_hash, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(min(doc_id) AS BIGINT) AS keep_doc,
      |       CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM h GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY 1""".stripMargin

  // --- per-doc token Shannon entropy (repetition/junk quality signal) ---
  // H = ln(N) - (1/N) * sum_t c_t*ln(c_t) over the doc's token counts —
  // the closed form that needs ONE double per distinct token instead of
  // per-token probabilities. Low H flags degenerate docs (one phrase
  // repeated, template boilerplate) that length/stopword filters miss;
  // CCNet/Gopher-style pipelines cut on exactly this signal. Determinism:
  // each c*ln(c) term is rounded to integer micro-nats FIRST, so the
  // per-doc sum is a BIGINT sum (order-free under any partitioning);
  // doubles are touched once more in the identical closed form on the two
  // BIGINT sufficient statistics. Scale shape: one explode + one
  // two-level agg — no joins, no windows.
  def qTokenEntropy(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(expr("CAST(round(1000000 * c * ln(c)) AS BIGINT)")).as("s_micro"))
      .select(
        col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        round(expr("ln(n_tokens) - s_micro / (1000000.0 * n_tokens)"), 5)
          .as("entropy_nats"))
      .withColumn("low_entropy", col("entropy_nats") < 2.0)
      .orderBy(col("doc_id"))

  val qTokenEntropyOracle: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM t WHERE tok <> '' GROUP BY 1, 2),
      |d AS (
      |  SELECT doc_id,
      |         CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS distinct_tokens,
      |         CAST(sum(CAST(round(1000000 * c * ln(c)) AS BIGINT)) AS BIGINT)
      |           AS s_micro
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, distinct_tokens,
      |       round(ln(n_tokens) - s_micro / (1000000.0 * n_tokens), 5)
      |         AS entropy_nats,
      |       round(ln(n_tokens) - s_micro / (1000000.0 * n_tokens), 5) < 2.0
      |         AS low_entropy
      |FROM d ORDER BY doc_id""".stripMargin

  // --- inverted index over 3-word shingles ---
  // The retrieval-side companion to the decontamination join: build the
  // shingle -> postings-list index itself, restricted to the useful df
  // band (singleton shingles match nothing, stop-shingles match
  // everything — the band keeps every postings list short by
  // construction, which is exactly how a real index bounds its hot
  // rows). One explode + one groupBy(shingle); the postings string is
  // bounded by the df cap, never by corpus size.
  def qInvertedIndex(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"),
        expr("array_join(transform(array_sort(collect_list(doc_id)), x -> cast(x as string)), ',')")
          .as("postings"))
      .filter(col("df").between(4, 12))
      .orderBy(col("shingle"))

  val qInvertedIndexOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-1),
      |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      |  FROM w WHERE len(ws) >= 3)
      |SELECT shingle, count(*) AS df,
      |       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |FROM sh GROUP BY 1 HAVING count(*) BETWEEN 4 AND 12
      |ORDER BY shingle""".stripMargin

  // --- distinctive terms per corpus slice: Monroe log-odds z-scores ---
  // "What characterizes sources src0-4 against the rest" — the
  // corpus-comparison op behind curation dashboards. Monroe, Colaresi &
  // Quinn (2008) weighted log-odds with a uniform Dirichlet prior
  // (alpha_w = 1): delta_w = ln((a+1)/(A+V-a-1)) - ln((b+1)/(B+V-b-1)),
  // z_w = delta_w / sqrt(1/(a+1) + 1/(b+1)); the prior regularizes rare
  // terms, unlike raw log-ratio which ranks hapaxes first. Scale shape:
  // two conditional aggregations over one token scan (never two
  // scans), corpus totals as a single-row broadcast. All inputs are
  // BIGINT; doubles are touched once in an identical closed form and
  // rounded to 5 — the tfidf/bm25 determinism recipe. Top/bottom 5 by
  // rounded z (most A-distinctive and most B-distinctive).
  def qLogOddsTerms(spark: SparkSession, dir: String): DataFrame = {
    val isA = col("source").isin("src0", "src1", "src2", "src3", "src4")
    val counts = documents(spark, dir)
      .select(isA.as("in_a"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("b"))
      .transform(graft.CacheScope.persist)
    val totals = counts.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      count(lit(1)).as("v"))
    val z = counts.crossJoin(broadcast(totals))
      .withColumn("z", round(expr(
        """(ln((a + 1.0) / (ta + v - a - 1.0)) - ln((b + 1.0) / (tb + v - b - 1.0)))
          | / sqrt(1.0 / (a + 1.0) + 1.0 / (b + 1.0))""".stripMargin), 5))
      .select(col("tok"), col("a"), col("b"), col("z"))
    val top = z.orderBy(col("z").desc, col("tok")).limit(5)
      .withColumn("side", lit("A"))
    val bottom = z.orderBy(col("z").asc, col("tok")).limit(5)
      .withColumn("side", lit("B"))
    top.unionByName(bottom).orderBy(col("side"), col("z").desc, col("tok"))
  }

  val qLogOddsTermsOracle: String =
    """WITH t AS (
      |  SELECT source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS in_a,
      |         unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT tok,
      |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
      |  FROM t WHERE tok <> '' GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb,
      |         CAST(count(*) AS BIGINT) AS v FROM c),
      |z AS (
      |  SELECT tok, a, b,
      |         round((ln((a + 1.0) / (ta + v - a - 1.0)) - ln((b + 1.0) / (tb + v - b - 1.0)))
      |               / sqrt(1.0 / (a + 1.0) + 1.0 / (b + 1.0)), 5) AS z
      |  FROM c CROSS JOIN tot),
      |top AS (
      |  SELECT tok, a, b, z, 'A' AS side FROM z ORDER BY z DESC, tok LIMIT 5),
      |bottom AS (
      |  SELECT tok, a, b, z, 'B' AS side FROM z ORDER BY z ASC, tok LIMIT 5)
      |SELECT * FROM (SELECT * FROM top UNION ALL SELECT * FROM bottom)
      |ORDER BY side, z DESC, tok""".stripMargin

  // --- readability scoring (Flesch reading ease, integer micro-units) ---
  // The classic document-difficulty signal curation pipelines bucket on
  // (alongside perplexity and the stopword/length heuristics): FRE =
  // 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words), with
  // syllables approximated by vowel runs — the standard
  // dictionary-free estimate. The whole formula is evaluated in integer
  // MICRO-units with truncating division over non-negative operands
  // (206835000 - 1015000*w div s - 84600000*y div w), so no double ever
  // crosses an engine boundary and half-up rounding can't diverge. All
  // three counts come from regexp_count in the Java/RE2 common subset
  // ([aeiouy]+ vowel runs, \S+ words, [.!?]+ sentence enders); the scan
  // is one codegen'd map over documents, zero shuffles before the sort.
  def qReadability(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        expr("regexp_count(text, '\\\\S+')").cast("long").as("words"),
        expr("greatest(regexp_count(text, '[.!?]+'), 1)").cast("long")
          .as("sentences"),
        expr("regexp_count(lower(text), '[aeiouy]+')").cast("long")
          .as("syllables"))
      .withColumn("fre_micro",
        expr("""206835000L - 1015000L * words div sentences
               | - 84600000L * syllables div greatest(words, 1)""".stripMargin))
      .withColumn("band",
        when(col("fre_micro") >= 60000000L, "easy")
          .when(col("fre_micro") >= 30000000L, "medium")
          .otherwise("hard"))
      .orderBy(col("doc_id"))

  val qReadabilityOracle: String =
    """WITH c AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
      |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sentences,
      |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syllables
      |  FROM documents),
      |f AS (
      |  SELECT *, CAST(206835000 - 1015000 * words // sentences
      |                 - 84600000 * syllables // greatest(words, 1) AS BIGINT) AS fre_micro
      |  FROM c)
      |SELECT doc_id, words, sentences, syllables, fre_micro,
      |       CASE WHEN fre_micro >= 60000000 THEN 'easy'
      |            WHEN fre_micro >= 30000000 THEN 'medium'
      |            ELSE 'hard' END AS band
      |FROM f ORDER BY doc_id""".stripMargin

  // --- RAKE keyword extraction ---
  // Rapid Automatic Keyword Extraction (Rose et al. 2010): phrases are
  // maximal runs of content tokens between stopword/punctuation
  // boundaries; a word's score is degree/frequency where degree sums
  // the lengths of the phrases each occurrence sits in — co-occurring
  // inside long phrases is evidence of termhood. Corpus-level top-20
  // with the score in integer ppm (1e6 * degree div freq, non-negative
  // operands). One doc-keyed window assigns phrase ids (single shuffle
  // on doc_id), then two map-side-combinable aggregations; the result
  // is a TakeOrdered over the vocabulary, never a global sort.
  def qRakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val t = documents(spark, dir)
      .select(col("doc_id"), posexplode(toks(lower(col("text")))).as(Seq("pos", "tok0")))
      .withColumn("tok", regexp_replace(col("tok0"), "[^a-z0-9]", ""))
      .withColumn("boundary",
        col("tok") === "" || col("tok").isin(stop: _*))
    val ph = t
      .withColumn("phrase_id",
        sum(when(col("boundary"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(!col("boundary"))
    // plen attached per ROW via an unbounded count window over
    // (doc_id, phrase_id) — NOT groupBy + join back (optimization r15):
    // the join form re-ran the whole tokenize + posexplode + running-sum
    // chain for the plen side (stage-metrics probe: two ~identical ~10 s
    // stages), while the window reuses the doc_id hash partitioning the
    // phrase_id window already established (hash on a subset of the
    // clustering keys satisfies the distribution), so it adds one sort,
    // no exchange, no second pass. plen per row = the phrase's count —
    // identical to the joined value.
    ph.withColumn("plen", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("phrase_id"))))
      .groupBy(col("tok").as("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .select(col("word"), col("freq"), col("degree"),
        expr("1000000 * degree div freq").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("word"))
      .limit(20)
  }

  val qRakeKeywordsOracle: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, pos,
      |         regexp_replace(toks[pos], '[^a-z0-9]', '', 'g') AS tok
      |  FROM tk, unnest(generate_series(1, len(toks))) AS u(pos)),
      |b AS (
      |  SELECT doc_id, pos, tok,
      |         tok = '' OR tok IN ('the', 'a', 'of', 'and', 'to') AS boundary
      |  FROM t),
      |p AS (
      |  SELECT doc_id, pos, tok,
      |         sum(CASE WHEN boundary THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
      |         boundary
      |  FROM b),
      |ph AS (SELECT doc_id, pos, tok, phrase_id FROM p WHERE NOT boundary),
      |plen AS (
      |  SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
      |  FROM ph GROUP BY 1, 2),
      |w AS (
      |  SELECT ph.tok AS word, CAST(count(*) AS BIGINT) AS freq,
      |         CAST(sum(plen.plen) AS BIGINT) AS degree
      |  FROM ph JOIN plen USING (doc_id, phrase_id) GROUP BY 1)
      |SELECT word, freq, degree,
      |       CAST(1000000 * degree // freq AS BIGINT) AS score_ppm
      |FROM w ORDER BY score_ppm DESC, word LIMIT 20""".stripMargin

  // --- tokenizer fertility per language ---
  // The tokenizer-budget report a multilingual pipeline consults: per
  // language, how many BPE-ish subwords a whitespace token splits into
  // (fertility) and how many characters/bytes each costs. High-fertility
  // languages burn context window; the ratios (integer micro-units,
  // truncating div over non-negative counts) drive per-language
  // sampling weights and vocabulary sizing. One codegen'd projection,
  // one map-side-combinable aggregation.
  def qTokenFertility(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"),
        size(toks(col("text"))).cast("long").as("tk"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("long").as("sw"),
        col("n_chars"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"),
        sum(col("sw")).as("n_subwords"), sum(col("n_chars")).as("n_chars"),
        sum(col("nb")).as("n_bytes"))
      .withColumn("fertility_micro",
        expr("1000000 * n_subwords div greatest(n_tokens, 1)"))
      .withColumn("chars_per_token_micro",
        expr("1000000 * n_chars div greatest(n_tokens, 1)"))
      .withColumn("bytes_per_subword_micro",
        expr("1000000 * n_bytes div greatest(n_subwords, 1)"))
      .orderBy(col("lang"))

  val qTokenFertilityOracle: String =
    """WITH d AS (
      |  SELECT lang,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tk,
      |         CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS sw,
      |         n_chars,
      |         CAST(octet_length(encode(text)) AS BIGINT) AS nb
      |  FROM documents),
      |g AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(tk) AS BIGINT) AS n_tokens,
      |         CAST(sum(sw) AS BIGINT) AS n_subwords,
      |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |         CAST(sum(nb) AS BIGINT) AS n_bytes
      |  FROM d GROUP BY 1)
      |SELECT lang, n_docs, n_tokens, n_subwords, n_chars, n_bytes,
      |       CAST(1000000 * n_subwords // greatest(n_tokens, 1) AS BIGINT) AS fertility_micro,
      |       CAST(1000000 * n_chars // greatest(n_tokens, 1) AS BIGINT) AS chars_per_token_micro,
      |       CAST(1000000 * n_bytes // greatest(n_subwords, 1) AS BIGINT) AS bytes_per_subword_micro
      |FROM g ORDER BY lang""".stripMargin

  // --- quality-signal ensemble gating ---
  // Production corpus filters don't gate on one signal; they combine
  // several into a score and keep a quantile band (C4/Gopher/FineWeb
  // all do a weighted-rule composite). Four integer-ppm signals from
  // ONE scan — capped length, stopword presence, alphabetic share,
  // type/token ratio — combine under fixed weights, and the keep
  // decision is quintile-based: interpolated percentile boundaries
  // (0.2/0.4/0.6/0.8) are computed once and broadcast back, and each
  // row counts how many boundaries its score exceeds — no global ntile
  // window (which would sort the whole corpus on one partition at
  // scale). Both engines interpolate percentiles identically over the
  // integer-ppm scores, so the boundary doubles agree bit-for-bit.
  // Bottom quintile drops.
  /** Adds `score_ppm` — the weighted 4-signal composite — as a pure
    * row-wise projection over `textCol`. Shared by q_quality_ensemble
    * and CorpusPipeline.filterQualityEnsemble.
    */
  private[graft] def withEnsembleScore(
      df: DataFrame, textCol: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    df
      .withColumn("_tk", toks(col(textCol)))
      .withColumn("_nt", size(col("_tk")).cast("long"))
      .withColumn("_ns",
        size(filter(col("_tk"), t => t.isin(stop.map(lit(_)): _*))).cast("long"))
      .withColumn("_ndt", size(array_distinct(col("_tk"))).cast("long"))
      .withColumn("_na",
        length(regexp_replace(col(textCol), "[^a-zA-Z]", "")).cast("long"))
      .withColumn("_nc", length(col(textCol)).cast("long"))
      .withColumn("score_ppm", expr(
        """(2 * (1000000 * least(_nt, 200) div 200)
          | + 2 * (1000000 * _ns div greatest(_nt, 1))
          | + 3 * (1000000 * _na div greatest(_nc, 1))
          | + 3 * (1000000 * _ndt div greatest(_nt, 1))) div 10""".stripMargin))
      .drop("_tk", "_nt", "_ns", "_ndt", "_na", "_nc")
  }

  def qQualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val sig = withEnsembleScore(
      documents(spark, dir).select(col("doc_id"), col("text")), "text")
      .select(col("doc_id"), col("score_ppm"))
    // quintile assignment via broadcast percentile boundaries (the
    // q_histogram_stats shape) — NOT a global ntile window, which would
    // sort the whole corpus on one partition at scale
    val bounds = sig.agg(
      expr("percentile(score_ppm, array(0.2, 0.4, 0.6, 0.8))").as("bs"))
    sig.crossJoin(broadcast(bounds))
      .withColumn("quintile",
        expr("size(filter(bs, b -> score_ppm > b)) + 1").cast("int"))
      .select(col("doc_id"), col("score_ppm"), col("quintile"),
        (col("quintile") >= 2).as("keep"))
      .orderBy(col("doc_id"))
  }

  val qQualityEnsembleOracle: String =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |                t -> t IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
      |         CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
      |         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |         1000000 * least(n_tokens, 200) // 200 AS s_len,
      |         1000000 * n_stop // greatest(n_tokens, 1) AS s_stop,
      |         1000000 * n_alpha // greatest(n_chars, 1) AS s_alpha,
      |         1000000 * n_distinct // greatest(n_tokens, 1) AS s_ttr
      |  FROM s),
      |sc AS (
      |  SELECT doc_id,
      |         CAST((2 * s_len + 2 * s_stop + 3 * s_alpha + 3 * s_ttr) // 10 AS BIGINT) AS score_ppm
      |  FROM p),
      |b AS (SELECT quantile_cont(score_ppm, [0.2, 0.4, 0.6, 0.8]) AS bs FROM sc)
      |SELECT doc_id, score_ppm,
      |       CAST(len(list_filter(bs, x -> score_ppm > x)) + 1 AS INT) AS quintile,
      |       len(list_filter(bs, x -> score_ppm > x)) + 1 >= 2 AS keep
      |FROM sc CROSS JOIN b ORDER BY doc_id""".stripMargin

  // --- Unicode NFC normalization ---
  // Runs the codegen'd [[graft.functions.NfcNormalize]] Catalyst
  // expression over the corpus: composed vs decomposed graphemes ("é"
  // as U+00E9 vs "e"+U+0301) silently defeat every exact-match
  // operator (dedup hashing, shingles, vocabulary) unless text is
  // NFC-normalized first. The corpus is ASCII, so the gate PLANTS
  // decomposed text (every 30th doc gets " cafe" + chr(769) appended —
  // chr(769) is the combining acute, produced the same way in both
  // engines) and reports exactly the docs normalization changed, with
  // before/after lengths and the normalized hash. Oracle: DuckDB's
  // native nfc_normalize — an independent NFC implementation agreeing
  // bit-for-bit is the strongest check a custom Expression can get.
  def qUnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    val planted = documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 30 === 0,
          // U+0301 combining acute as a literal: Spark's chr() is
          // byte-oriented (mod 256), unlike DuckDB's codepoint chr()
          concat(col("text"), lit(" cafe"), lit("́")))
          .otherwise(col("text")).as("text"))
    planted
      .withColumn("norm", graft.functions.UnicodeExprs.nfc(col("text")))
      .filter(col("norm") =!= col("text"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_before"),
        length(col("norm")).cast("long").as("n_after"),
        md5(col("norm")).as("norm_hash"))
      .orderBy(col("doc_id"))
  }

  val qUnicodeNormalizeOracle: String =
    """WITH p AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 30 = 0 THEN text || ' cafe' || chr(769)
      |              ELSE text END AS text
      |  FROM documents),
      |n AS (SELECT doc_id, text, nfc_normalize(text) AS norm FROM p)
      |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_before,
      |       CAST(length(norm) AS BIGINT) AS n_after,
      |       md5(norm) AS norm_hash
      |FROM n WHERE norm <> text ORDER BY doc_id""".stripMargin

  // --- collocation mining (bigram PMI) ---
  // The word2phrase / tokenizer-merge signal: adjacent token pairs
  // whose co-occurrence beats the independence assumption. PMI =
  // ln(c_xy·N² / (M·c_x·c_y)) formed as ONE exact rational before the
  // single ln (double-once discipline), min count 5, top 20 under a
  // (score, bigram) total order. Counts are three map-side-combinable
  // aggregations over one token scan; the c_x/c_y attachments are
  // vocabulary-keyed equi-joins.
  def qCollocations(spark: SparkSession, dir: String): DataFrame = {
    // NOT spread (optimization r15, recorded negative): a round-robin
    // spread of the single-split scan A/B'd 1.43x WORSE solo — the
    // shuffle outweighs the warm tokenize at this size.
    val t = documents(spark, dir)
      .select(col("doc_id"), toks(lower(col("text"))).as("tk"))
      .withColumn("n", size(col("tk")))
    val uni = t.select(explode(col("tk")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = t.agg(
      sum(col("n")).cast("long").as("n_uni"),
      sum(greatest(col("n") - 1, lit(0))).cast("long").as("n_bi"))
    val bi = t.filter(col("n") >= 2)
      .select(explode(expr(
        "transform(sequence(1, n - 1), i -> struct(tk[i - 1] AS x, tk[i] AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x") =!= "" && col("y") =!= "")
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    bi.join(uni.select(col("w").as("x"), col("c").as("cx")), "x")
      .join(uni.select(col("w").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_e5", expr(
        "round(ln((CAST(cxy AS DOUBLE) * n_uni * n_uni) / (CAST(n_bi AS DOUBLE) * cx * cy)), 5)"))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("cxy"), col("cx"), col("cy"), col("pmi_e5"))
      .orderBy(col("pmi_e5").desc, col("bigram"))
      .limit(20)
  }

  val qCollocationsOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk,
      |         len(string_split_regex(trim(lower(text)), '\s+')) AS n
      |  FROM documents),
      |uni AS (
      |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(tk) AS tok FROM t) WHERE tok <> '' GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS n_uni,
      |         CAST(sum(greatest(n - 1, 0)) AS BIGINT) AS n_bi
      |  FROM t),
      |bi AS (
      |  SELECT tk[i] AS x, tk[i + 1] AS y, CAST(count(*) AS BIGINT) AS cxy
      |  FROM t, unnest(generate_series(1, n - 1)) AS u(i)
      |  WHERE n >= 2 AND tk[i] <> '' AND tk[i + 1] <> ''
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT bi.x || ' ' || bi.y AS bigram, bi.cxy, ux.c AS cx, uy.c AS cy,
      |       round(ln((CAST(bi.cxy AS DOUBLE) * n_uni * n_uni)
      |             / (CAST(n_bi AS DOUBLE) * ux.c * uy.c)), 5) AS pmi_e5
      |FROM bi JOIN uni ux ON bi.x = ux.w JOIN uni uy ON bi.y = uy.w
      |CROSS JOIN tot
      |ORDER BY pmi_e5 DESC, bigram LIMIT 20""".stripMargin

  // --- positional phrase search ---
  // Exact-phrase retrieval over positional posting lists — the IR
  // operator an inverted index exists for (and the retrieval leg next
  // to BM25's bag-of-words scoring). The posting lists are filtered to
  // the THREE query terms BEFORE any join (the BM25 discipline: three
  // lists however wide the vocabulary), then the phrase is two
  // equi-joins on (doc_id, adjacent position). Every 100th doc gets
  // the phrase appended so the gate provably exercises both planted
  // and organic hits at any scale factor.
  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val phrase = Seq("slow", "hash", "batch")
    val d = documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" " + phrase.mkString(" "))))
          .otherwise(col("text")).as("text"))
    val post = d
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
    def p(i: Int) = post.filter(col("tok") === phrase(i))
      .select(col("doc_id"), (col("pos") - i).as("base"))
    p(0).join(p(1), Seq("doc_id", "base"))
      .join(p(2), Seq("doc_id", "base"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  val qPhraseSearchOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 100 = 0 THEN text || ' slow hash batch'
      |              ELSE text END AS text
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
      |         len(string_split_regex(trim(text), '\s+')) AS n
      |  FROM d),
      |hits AS (
      |  SELECT doc_id FROM t, unnest(generate_series(1, n - 2)) AS u(i)
      |  WHERE tk[i] = 'slow' AND tk[i + 1] = 'hash' AND tk[i + 2] = 'batch')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin

  // --- deterministic token-dropout augmentation ---
  // EDA-style data augmentation (random token deletion) made
  // reproducible: a token drops iff the salted md5 of (doc_id, pos)
  // lands in the 10% band, so the augmented corpus is a pure function
  // of ids — re-runs, retries, and the oracle all regenerate the same
  // text. Rebuild preserves order via the sorted-struct aggregation
  // (the repeated-span-removal recipe); one shuffle on doc_id.
  def qTokenDropout(spark: SparkSession, dir: String): DataFrame = {
    val t = documents(spark, dir)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("drop", graft.functions.Md5Hash60Expr.of(concat(
        lit("aug3:"), col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string"))) % 10L === 0L)
    t.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!col("drop"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN NOT drop THEN struct(pos, tok) END)), x -> x.tok)"),
          " ")).as("aug_hash"))
      .orderBy(col("doc_id"))
  }

  val qTokenDropoutOracle: String =
    """WITH t AS (
      |  SELECT doc_id, pos, tk[pos] AS tok,
      |         CAST('0x' || substr(md5('aug3:' || CAST(doc_id AS VARCHAR) || ':'
      |           || CAST(pos - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0 AS drop
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk,
      |               len(string_split_regex(trim(text), '\s+')) AS n
      |        FROM documents),
      |       unnest(generate_series(1, n)) AS u(pos)
      |  WHERE tk[pos] <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN NOT drop THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       md5(coalesce(string_agg(CASE WHEN NOT drop THEN tok END, ' ' ORDER BY pos), '')) AS aug_hash
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // --- dedup threshold sweep (tuning curve) ---
  // Before committing a near-dedup threshold, a pipeline measures how
  // many pairs each candidate threshold would merge — the knob that
  // trades recall against false merges. ONE candidate generation at
  // the lowest threshold of interest (t = 0.5 prefix filter — lossless
  // for every t >= 0.5 by the AllPairs bound) feeds all five counts;
  // verification is in-row array_intersect on the collapsed
  // representatives, and group multiplicities expand the counts
  // exactly (within-group pairs have Jaccard 1, cross-group rep
  // Jaccard holds for every member pair). Integer-exact predicate
  // 100·inter >= t·union; no floating threshold ever compared.
  def qDedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .withColumn("sarr", graft.functions.ShinglesExpr.shingles(col("tk")))
      .select(col("doc_id"), col("sarr"), size(col("sarr")).as("n"),
        md5(concat_ws("\n", sort_array(col("sarr")))).as("set_hash"))
      .transform(graft.CacheScope.persist)
    // group size and representative selection in ONE pass over the
    // set_hash partitioning (count + row_number share the exchange/sort)
    // instead of a separate groupBy + join back
    val bySet = Window.partitionBy(col("set_hash"))
    val reps = docs
      .withColumn("g", count(lit(1)).over(bySet))
      .withColumn("rn", row_number().over(bySet.orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sarr"), col("n"), col("g"))
      .transform(graft.CacheScope.persist)
    val within = reps.agg(
      coalesce(sum(expr("g * (g - 1) div 2")), lit(0L)).as("w"))
    val shingles = reps
      .select(col("doc_id"), col("n"), explode(col("sarr")).as("shingle"))
    val docFreq = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefixes = shingles
      .join(docFreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("doc_id"), col("shingle"), col("n"))
    // AllPairs length filter at the LOWEST swept threshold (t = 0.5):
    // jaccard >= 0.5 forces min*2 >= max, so pairs failing it cannot
    // pass any threshold >= 50 — integer-exact and lossless for the
    // whole sweep, pruning candidates before the distinct/verify
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.n"), col("b.n")) * 2
             >= greatest(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val ra = reps.select(col("doc_id").as("da"), col("sarr").as("sa"),
      col("n").as("na"), col("g").as("ga"))
    val rb = reps.select(col("doc_id").as("db"), col("sarr").as("sb"),
      col("n").as("nb"), col("g").as("gb"))
    val verified = cand.join(ra, "da").join(rb, "db")
      .withColumn("inter", size(expr("array_intersect(sa, sb)")).cast("long"))
      .select(col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        (col("ga") * col("gb")).as("weight"))
    val ts = spark.range(5).select((lit(50) + col("id") * 10).cast("int").as("threshold"))
    ts.crossJoin(verified)
      .filter(col("inter") * 100 >= col("threshold") * col("uni"))
      .groupBy(col("threshold"))
      .agg(sum(col("weight")).as("cross_pairs"))
      .join(ts, Seq("threshold"), "right")
      .crossJoin(broadcast(within))
      .select(col("threshold"),
        (coalesce(col("cross_pairs"), lit(0L)) + col("w")).as("n_pairs"))
      .orderBy(col("threshold"))
  }

  val qDedupThresholdSweepOracle: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(tk)-2),
      |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
      |  FROM d
      |), n AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM s GROUP BY 1
      |), p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
      |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), j AS (
      |  SELECT common, na.ns + nb.ns - common AS uni
      |  FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
      |), t AS (SELECT unnest([50, 60, 70, 80, 90]) AS threshold)
      |-- LEFT JOIN the threshold spine (not CROSS JOIN) so all 5 threshold
      |-- rows are emitted even when the candidate pair set is empty — the
      |-- Spark side right-joins the same spine, and the two must agree on
      |-- degenerate/tiny corpora too
      |SELECT CAST(threshold AS INT) AS threshold,
      |       CAST(count(*) FILTER (WHERE common * 100 >= threshold * uni) AS BIGINT) AS n_pairs
      |FROM t LEFT JOIN j ON TRUE GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_threshold_sweep" -> (qDedupThresholdSweep _),
    "q_token_dropout" -> (qTokenDropout _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_unicode_normalize" -> (qUnicodeNormalize _),
    "q_collocations" -> (qCollocations _),
    "q_quality_ensemble" -> (qQualityEnsemble _),
    "q_token_fertility" -> (qTokenFertility _),
    "q_rake_keywords" -> (qRakeKeywords _),
    "q_readability" -> (qReadability _),
    "q_log_odds_terms" -> (qLogOddsTerms _),
    "q_token_entropy" -> (qTokenEntropy _),
    "q_normalized_dedup" -> (qNormalizedDedup _),
    "q_inverted_index" -> (qInvertedIndex _),
    "q_text_stats" -> (qTextStats _),
    "q_text_langid" -> (qTextLangId _),
    "q_langid_nb" -> (qLangIdNb _),
    "q_lm_quality" -> (qLmQuality _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_text_quality_filter" -> (qTextQualityFilter _),
    "q_repetition_filter" -> (qRepetitionFilter _),
    "q_length_histogram" -> (qLengthHistogram _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_pii_redact" -> (qPiiRedact _))

  def oracles: Map[String, String] = Map(
    "q_token_dropout" -> qTokenDropoutOracle,
    "q_dedup_threshold_sweep" -> qDedupThresholdSweepOracle,
    "q_phrase_search" -> qPhraseSearchOracle,
    "q_unicode_normalize" -> qUnicodeNormalizeOracle,
    "q_collocations" -> qCollocationsOracle,
    "q_quality_ensemble" -> qQualityEnsembleOracle,
    "q_token_fertility" -> qTokenFertilityOracle,
    "q_rake_keywords" -> qRakeKeywordsOracle,
    "q_readability" -> qReadabilityOracle,
    "q_log_odds_terms" -> qLogOddsTermsOracle,
    "q_token_entropy" -> qTokenEntropyOracle,
    "q_normalized_dedup" -> qNormalizedDedupOracle,
    "q_inverted_index" -> qInvertedIndexOracle,
    "q_text_stats" -> qTextStatsOracle,
    "q_text_langid" -> qTextLangIdOracle,
    "q_langid_nb" -> qLangIdNbOracle,
    "q_lm_quality" -> qLmQualityOracle,
    "q_text_fingerprint" -> qTextFingerprintOracle,
    "q_dedup_exact" -> qDedupExactOracle,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccardOracle,
    "q_text_quality_filter" -> qTextQualityFilterOracle,
    "q_repetition_filter" -> qRepetitionFilterOracle,
    "q_length_histogram" -> qLengthHistogramOracle,
    "q_boilerplate" -> qBoilerplateOracle,
    "q_pii_redact" -> qPiiRedactOracle)
}
