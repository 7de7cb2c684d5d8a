package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Similarity search over the embeddings table (`Array[Float]` column):
  * brute-force cosine top-k as the exact baseline, sign-LSH bucketed
  * variants as the scale path, and cosine near-dup pairs for dedup.
  *
  * Scale design: norms are precomputed once per row (narrow), so the
  * quadratic stage moves only (id, norm, vector); bucketing (sign-LSH)
  * turns the O(n²) cross join into per-bucket joins — the same plan shape
  * an IVF index gives. Cosines are computed with codegen'd higher-order
  * functions (zip_with + aggregate), not UDFs, and rounded to 5 decimals
  * so results are stable across engines/accumulation orders.
  */
object SimilarityQueries {

  import graft.functions.VectorExprs.dot

  // declared first: object vals initialize in declaration order, and the
  // oracle-SQL strings below interpolate these at init time
  private val SrcDims = 64             // embedding dimensionality
  private val ProjDims = 8             // random-projection target dims

  /** vector as double + its L2 norm, from the float embedding column.
    * Norm and cosine use the codegen'd [[graft.functions.DotProduct]]
    * kernel (same left-to-right summation as the `aggregate` fold, so
    * results are bit-identical to the composable form — but the inner
    * loop is generated primitive code, not per-element lambdas).
    */
  private[queries] def withNorm(df: DataFrame): DataFrame = {
    // native array cast, not transform(x -> CAST(x AS DOUBLE)): the
    // element-wise result is identical (float->double widening either
    // way) but Cast compiles into the stage while a lambda is evaluated
    // interpreted per element (round 12 — same finding as the perplexity
    // bigram builder; measured on the 100x corpus in SURVEY §10.18)
    val withV = df.withColumn("v", col("embedding").cast("array<double>"))
    withV
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .transform(graft.CacheScope.persist) // both sides of every pairwise join reuse the normed table
  }

  /** cosine between pre-normed sides a and b, rounded for determinism. */
  private def cosineExpr: Column = round(
    dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 5)

  // --- brute-force cosine top-k: exact baseline ---
  def qSimCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "v", "norm")
    val q = e.filter(col("vec_id") % 400 === 0)
    q.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.vec_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        cosineExpr.as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val qSimCosineTopkOracle: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), sims AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 400 = 0
      |)
      |SELECT query_id, neighbor_id, cosine,
      |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      |FROM sims
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- embedding-cosine near-dup pairs: bounded label x sign-LSH-band blocking ---
  // The dedup-by-similarity pass of a data pipeline. Blocking on the raw
  // label alone is a scale hazard: one hot label collapses the join into a
  // single all-pairs bucket. Candidate generation here is bounded twice:
  //   1. compound key (label, band, band_value) — 4 sign-LSH bands of
  //      EmbBandBits sign bits each, so a hot label fans out across
  //      4 x 2^EmbBandBits buckets (a pair is a candidate if ANY band
  //      matches, the same banding scheme as MinHash LSH);
  //   2. a deterministic per-bucket block cap (sorted-neighborhood style):
  //      rows in a bucket are ranked by vec_id and chopped into blocks of
  //      EmbBlockCap; a row only pairs with its own and the next block.
  //      Even if every vector lands in one bucket, candidates grow
  //      linearly (n x 2*EmbBlockCap), never quadratically.
  // Both stages are equi-joins; the exact cosine is computed only for
  // candidates, fetched by vec_id join so each pair's cosine is computed
  // once. Approximate by design (like MinHash/SimHash above): recall is
  // governed by the band width — sign-bit agreement probability is
  // 1 - theta/pi per bit, so wider bands trade recall for pruning.
  private val EmbBands = 4
  private val EmbBandBits = 6            // 4 bands x 6 sign bits = dims 1..24
  private val EmbBlockCap = 64

  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "label", "v", "norm")
    val bandStructs = (0 until EmbBands).map { b =>
      struct(lit(b).as("band"), expr(
        s"""aggregate(transform(sequence(1, $EmbBandBits),
           |  i -> CASE WHEN element_at(v, ${b * EmbBandBits} + i) >= CAST(0.0 AS DOUBLE) THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
           |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin).as("bv"))
    }
    val ranked = e
      .select(col("vec_id"), col("label"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("label"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label"), col("band"), col("bv")).orderBy(col("vec_id"))))
      .withColumn("blk", expr(s"CAST((rn - 1) DIV $EmbBlockCap AS BIGINT)"))
      .drop("rn")
    // probe side emits (blk, blk+1) so block-boundary pairs are kept; the
    // build side keeps its own block — candidate join stays a pure equi-join.
    val probe = ranked.withColumn("jb", explode(array(col("blk"), col("blk") + lit(1L))))
    val cand = probe.as("a").join(ranked.as("b"),
        col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
          col("a.bv") === col("b.bv") && col("a.jb") === col("b.blk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"), col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair may match in several bands; verify each pair once
    val ea = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val eb = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 5).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val qDedupEmbeddingOracle: String =
    s"""WITH bands AS (
      |  SELECT e.vec_id, e.label, t.b AS band,
      |         CAST(list_sum(list_transform(generate_series(1, $EmbBandBits),
      |           i -> CASE WHEN e.embedding[t.b*$EmbBandBits + i] >= 0 THEN 2 ** (i - 1) ELSE 0 END)) AS BIGINT) AS bv
      |  FROM embeddings e, generate_series(0, ${EmbBands - 1}) AS t(b)
      |), ranked AS (
      |  SELECT vec_id, label, band, bv,
      |         CAST((row_number() OVER (PARTITION BY label, band, bv ORDER BY vec_id) - 1) // $EmbBlockCap AS BIGINT) AS blk
      |  FROM bands
      |), probe AS (
      |  SELECT vec_id, label, band, bv, blk + d AS jb FROM ranked, (VALUES (0),(1)) o(d)
      |), cand AS (
      |  SELECT DISTINCT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM probe a JOIN ranked b
      |    ON a.label = b.label AND a.band = b.band AND a.bv = b.bv
      |   AND a.jb = b.blk AND a.vec_id < b.vec_id
      |), e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |)
      |SELECT c.label AS label, c.vec_a, c.vec_b,
      |       round(list_cosine_similarity(ea.v, eb.v), 5) AS cosine
      |FROM cand c
      |JOIN e ea ON ea.vec_id = c.vec_a
      |JOIN e eb ON eb.vec_id = c.vec_b
      |WHERE round(list_cosine_similarity(ea.v, eb.v), 5) >= 0.3
      |ORDER BY 2, 3""".stripMargin

  // --- sign-LSH bucketed nearest neighbor: the approximate scale path ---
  // Bucket = sign bits of the first 8 dimensions (axis-aligned random
  // hyperplanes); candidate generation only within the bucket, so the
  // quadratic term shrinks by ~2^8 and the join shuffles on bucket.
  def qSimLshBucketed(spark: SparkSession, dir: String): DataFrame = {
    val bucketExpr = expr(
      """aggregate(transform(sequence(1, 8),
        |  i -> CASE WHEN element_at(v, i) >= CAST(0.0 AS DOUBLE) THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    val e = withNorm(embeddings(spark, dir))
      .withColumn("bucket", bucketExpr)
      .select("vec_id", "bucket", "v", "norm")
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.bucket").as("bucket"),
        col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("neighbor_id"),
        cosineExpr.as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") === 1)
      .drop("rank")
      .orderBy(col("vec_id"))
  }

  val qSimLshBucketedOracle: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |           i -> CASE WHEN embedding[i] >= 0 THEN 2 ** (i - 1) ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM embeddings
      |), sims AS (
      |  SELECT a.bucket AS bucket, a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      |)
      |SELECT bucket, vec_id, neighbor_id, cosine FROM sims
      |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) = 1
      |ORDER BY vec_id""".stripMargin

  // --- IVF-style ANN: TRAINED coarse quantizer + inverted lists ---
  // Coarse centroids start as a deterministic sample (vec_id < 16) and
  // are then refined by IvfIters in-plan Lloyd iterations: broadcast the
  // (tiny) centroid table, assign every vector to its highest-cosine
  // centroid, re-average each list per dimension, repeat. Every vector
  // then joins the inverted list of its centroid, and queries search
  // their IvfNprobe highest-cosine lists (multi-probe: a true neighbor
  // often sits just across a Voronoi boundary). At 100 TB each training
  // pass is one narrow broadcast join (16 centroids) collapsed by a
  // map-side max_by aggregate — the shuffle carries ONE row per vector,
  // not the 16-way crossed frame — plus a re-average whose shuffle
  // carries (cid, dim, partial-sum): nothing quadratic, and search cost
  // drops by listCount/nprobe. The same plan family as a trained IVF index.
  //
  // Determinism (the oracle recomputes training bit-for-bit): per-dim
  // means sum coordinates as DECIMAL(28,6) after a 6-decimal round —
  // exact integer-like addition, so shuffle order can't flip a mean —
  // and the resulting centroid coordinate is rounded back to 6 decimals.
  // Same recipe as the naive-Bayes language-ID scores.
  private val IvfCentroidSample = 16
  private[queries] val IvfIters = 2
  private[queries] val IvfNprobe = 2

  /** The centroid table as ONE row holding the cid-sorted
    * `array<struct<cid, cv, cnorm>>` — the broadcastable form the
    * per-row argmax/probe expressions fold over. sort_array pins the
    * collect_list order (cids are distinct, so the struct order is the
    * cid order and deterministic). No centroid, no row: a global
    * aggregate over zero centroids would still emit one empty array, and
    * every cross join against it would keep each vector with no list to
    * join — the oracles' CROSS JOIN against an empty table keeps none.
    */
  private[queries] def centArray(cents: DataFrame): DataFrame =
    cents
      .withColumn("cnorm", sqrt(dot(col("cv"), col("cv"))))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("cnorm"))))
        .as("cs"))
      .filter(size(col("cs")) > 0)

  /** Per-row argmax centroid over the single-row [[centArray]] column —
    * the assignment step WITHOUT a shuffle (optimization r16): the old
    * broadcast-join + groupBy(vec_id).agg(max_by) form shuffled one row
    * PER VECTOR per use (vec_id is unique, so partial aggregation cannot
    * collapse anything — a full-corpus exchange each Lloyd iteration,
    * another in the index build). Folding the argmax over the broadcast
    * centroid array keeps assignment entirely map-side.
    *
    * Ordering is bit-identical to `max_by(struct(ccos, -cid))`: the fold
    * walks cids ASCENDING (centArray sorts) and replaces only on a STRICT
    * ccos improvement, so ties keep the smaller cid; NaN (zero-norm
    * embedding) ranks LARGEST exactly like Spark's struct max ordering —
    * the explicit isnan branches say so rather than falling through to
    * `>` (which is false for NaN on either side). A row no centroid
    * scores (an empty array, or a null cosine) gets a null cid, so
    * downstream joins drop it rather than file it under a made-up list.
    */
  private def argmaxCid(cs: Column, v: Column, norm: Column): Column = {
    val scored = transform(cs, c => struct(
      round(dot(v, c.getField("cv")) / (norm * c.getField("cnorm")), 5).as("ccos"),
      c.getField("cid").as("cid")))
    aggregate(
      scored,
      struct(lit(Double.NegativeInfinity).as("ccos"), lit(null).cast("long").as("cid")),
      (acc, x) => {
        val xc = x.getField("ccos"); val ac = acc.getField("ccos")
        when((isnan(xc) && !isnan(ac)) || (!isnan(xc) && !isnan(ac) && xc > ac), x)
          .otherwise(acc)
      },
      acc => acc.getField("cid"))
  }

  /** Lloyd refinement: `iters` rounds of assign + decimal-mean update
    * starting from the vec_id < IvfCentroidSample sample. Returns
    * (cid, cv, cnorm); a centroid whose list empties drops out (its
    * vectors re-assign to surviving lists next round).
    */
  private[queries] def ivfCentroids(e: DataFrame, iters: Int): DataFrame = {
    var cents = e.filter(col("vec_id") < IvfCentroidSample)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      // per-row argmax over the broadcast centroid array — assignment is
      // map-side only; the re-average below is the iteration's ONE
      // exchange (16 partial arrays per map partition)
      val assigned = e.crossJoin(broadcast(centArray(cents)))
        .select(argmaxCid(col("cs"), col("v"), col("norm")).as("cid"), col("v"))
      // re-average in ONE aggregation pass (optimization r15 —
      // VecMicroSum): the posexplode → groupBy(cid, pos) → sum →
      // groupBy(cid) collect_list chain shuffled 64 rows per vector
      // through TWO exchanges per iteration; the array-buffer aggregate
      // ships one partial per (centroid, map partition) through one.
      // Arithmetic identical: per-dim micro-unit long sums are the exact
      // decimal sums, `_2` counts exactly the rows summed, and
      // cx = round(CAST(sx AS DOUBLE) / n, 6) is the same expression the
      // per-pos form computed — VecMicroSumSpec pins centroid equality
      // against the old chain on the real corpus.
      val vms = udaf(new graft.functions.VecMicroSum(SrcDims))
      cents = assigned
        .groupBy(col("cid"))
        .agg(vms(col("v")).as("s"))
        .select(col("cid"),
          expr("transform(s._1, sx -> round(CAST(sx AS DOUBLE) / s._2, 6))")
            .as("cv"))
    }
    cents.withColumn("cnorm", sqrt(dot(col("cv"), col("cv"))))
  }

  /** Index side: top-1 trained-centroid assignment per vector —
    * (vec_id, cid, v, norm) — via the same shuffle-free per-row argmax
    * as training (optimization r16: the broadcast-join + groupBy(vec_id)
    * form shuffled the whole corpus once more just to pick each row's
    * max). Shared by the IVF search and SemDeDup.
    */
  private[queries] def ivfAssign(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArray(centroids)))
      .select(col("vec_id"), argmaxCid(col("cs"), col("v"), col("norm")).as("cid"),
        col("v"), col("norm"))

  def qSimIvfWith(iters: Int, nprobe: Int = IvfNprobe)(
      spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "v", "norm")
    val centroids = ivfCentroids(e, iters)
    val assigned = ivfAssign(e, centroids).transform(graft.CacheScope.persist)
    // multi-probe: each query searches its `nprobe` highest-cosine lists,
    // the standard IVF recall lever (a true neighbor often sits just over
    // a Voronoi boundary in the SECOND-nearest list). The probe pick is a
    // per-row comparator sort over the broadcast centroid array
    // (optimization r16: the collect_list + groupBy(query_id) form
    // shuffled one row per (query, centroid) just to regroup what each
    // row already had; the in-row form also keeps v/norm on the row, so
    // the join-back that re-fetched them is gone). `cands` holds the
    // same (ccos, cid) structs the collect_list built. Explicit CASE
    // comparator, not a negated double sort key, so ordering matches the
    // oracle's (ccos DESC, cid ASC) exactly — including NaN (a zero-norm
    // embedding): both Spark's struct ordering and DuckDB's sort treat
    // NaN as LARGEST, so NaN sorts first under DESC; the comparator says
    // so explicitly rather than falling through to the cid tiebreak.
    val queriesSet = e.filter(col("vec_id") % 400 === 0)
      .crossJoin(broadcast(centArray(centroids)))
      .select(col("vec_id").as("query_id"), col("v"), col("norm"),
        transform(col("cs"), c => struct(
          round(dot(col("v"), c.getField("cv")) / (col("norm") * c.getField("cnorm")), 5)
            .as("ccos"),
          c.getField("cid").as("cid"))).as("cands"))
      .select(col("query_id"), col("v"), col("norm"), explode(expr(
        s"""transform(slice(array_sort(cands, (l, r) -> CASE
           |  WHEN isnan(l.ccos) AND NOT isnan(r.ccos) THEN -1
           |  WHEN isnan(r.ccos) AND NOT isnan(l.ccos) THEN 1
           |  WHEN l.ccos > r.ccos THEN -1 WHEN l.ccos < r.ccos THEN 1
           |  WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1
           |  ELSE 0 END), 1, $nprobe), c -> c.cid)""".stripMargin)).as("pcid"))
    queriesSet.as("a")
      .join(assigned.as("b"),
        col("a.pcid") === col("b.cid") && col("a.query_id") =!= col("b.vec_id"))
      .select(
        col("a.query_id").as("query_id"),
        col("b.cid").as("list_id"),
        col("b.vec_id").as("neighbor_id"),
        cosineExpr.as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "list_id", "neighbor_id", "cosine")
      .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
  }

  def qSimIvf(spark: SparkSession, dir: String): DataFrame =
    qSimIvfWith(IvfIters, IvfNprobe)(spark, dir)

  /** Shared oracle prefix: the Lloyd iterations replayed as unrolled CTEs
    * (assign-k then decimal-mean-k), ending in the trained `assigned`
    * table — everything up to (and including) the index build, used by
    * both the IVF search oracle and the SemDeDup oracle.
    */
  private[queries] val trainedAssignCtes: String = {
    // one Lloyd iteration: assign to `prevC`, emit new centroids `outC`
    def iterSql(prevC: String, outA: String, outC: String): String =
      s"""$outA AS (
         |  SELECT vec_id, cid, v FROM (
         |    SELECT a.vec_id, c.cid, a.v,
         |           row_number() OVER (PARTITION BY a.vec_id
         |             ORDER BY round(list_cosine_similarity(a.v, c.cv), 5) DESC, c.cid) AS crank
         |    FROM e a CROSS JOIN $prevC c
         |  ) WHERE crank = 1
         |), ${outC}_s AS (
         |  SELECT cid, p.pos,
         |         round(CAST(sum(CAST(round(v[p.pos], 6) AS DECIMAL(28,6))) AS DOUBLE)
         |               / count(*), 6) AS cx
         |  FROM $outA CROSS JOIN generate_series(1, $SrcDims) AS p(pos)
         |  GROUP BY cid, p.pos
         |), $outC AS (
         |  SELECT cid, list(cx ORDER BY pos) AS cv FROM ${outC}_s GROUP BY cid
         |)""".stripMargin
    val iters = (1 to IvfIters)
      .map(k => iterSql(if (k == 1) "c0" else s"c${k - 1}", s"a$k", s"c$k"))
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), c0 AS (
       |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $IvfCentroidSample
       |), $iters, assigned AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT a.vec_id, c.cid, a.v,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY round(list_cosine_similarity(a.v, c.cv), 5) DESC, c.cid) AS crank
       |    FROM e a CROSS JOIN c$IvfIters c
       |  ) WHERE crank = 1
       |)""".stripMargin
  }

  val qSimIvfOracle: String =
    s"""$trainedAssignCtes, probes AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT a.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY round(list_cosine_similarity(a.v, c.cv), 5) DESC, c.cid) AS crank
       |    FROM e a CROSS JOIN c$IvfIters c
       |    WHERE a.vec_id % 400 = 0
       |  ) WHERE crank <= $IvfNprobe
       |), sims AS (
       |  SELECT p.query_id, b.cid AS list_id, b.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(qa.v, b.v), 5) AS cosine
       |  FROM probes p
       |  JOIN assigned b ON p.cid = b.cid AND p.query_id <> b.vec_id
       |  JOIN e qa ON qa.vec_id = p.query_id
       |)
       |SELECT query_id, list_id, neighbor_id, cosine FROM sims
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) <= 3
       |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin

  // --- SemDeDup: cluster-then-dedup semantic near-duplicate removal ---
  // The Abbas et al. 2023 recipe re-expressed as two joins: cluster the
  // corpus with the SAME trained coarse quantizer as the IVF index (k
  // centroids, 2 Lloyd iterations), then compare pairs only WITHIN a
  // cluster and drop every vector that has a higher-priority (lower
  // vec_id) near-twin at cosine >= SemTau. Output: the dropped rows, each
  // with its cluster, its keeper (`dup_of` = the LOWEST qualifying
  // vec_id, deterministic), and the cosine to that keeper.
  //
  // Scale shape: the quadratic term is confined to a cluster — the
  // SemDeDup design point — and cluster count is the knob that holds
  // cluster size ~constant as the corpus grows (the paper runs k = 11k on
  // LAION; here k = IvfCentroidSample). The pair generator is a pure
  // equi-join on cid over the already-persisted assignment, the same
  // frame the IVF index build produces, so an engine running both ANN and
  // SemDeDup trains ONE quantizer and reuses it.
  private val SemTau = 0.35

  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "v", "norm")
    // identical-VECTOR collapse (the §10.16 family, applied to the one
    // k²-at-100× survivor the round-7 rehearsal flagged): duplicate
    // vectors share the centroid assignment, every pairwise cosine, and
    // the rounded values, so clustering + the within-cluster pair join
    // run on one representative per distinct vector. Reassembly is exact
    // because only a group's MIN member can ever be the minimum
    // qualifying partner (any other member of the same group is larger
    // at the same cosine): dup_of(vec) = min over qualifying groups'
    // min-members below vec — own group at cosine 1.0 (identical
    // vectors round to exactly 1.0 at 5 decimals), cross groups at the
    // rep-pair cosine. Centroids still TRAIN on the full corpus
    // (duplicates weight the means), matching the oracle bit-for-bit.
    // scalar collapse key — md5 of the double coordinates (the same
    // convention as the shingle detectors' set_hash; 128 bits, so no
    // collision gamble at corpus scale) — array-keyed windows/groupings
    // force sort-based plans and measured ~1 s of pure overhead at sf0.1
    val keyed = e.withColumn("vh",
        md5(concat_ws(",", expr("transform(v, x -> cast(x as string))"))))
      .transform(graft.CacheScope.persist)
    val groups = keyed.groupBy(col("vh")).agg(min(col("vec_id")).as("rep_id"))
    val reps = keyed.join(groups.select(col("rep_id")),
        col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("v"), col("norm"))
    val assigned = ivfAssign(reps, ivfCentroids(e, IvfIters)).transform(graft.CacheScope.persist)
    // one cosine per unordered rep pair (the join is the hot path), then
    // the two directed contributions expand only for qualifying pairs
    val cross = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        col("a.cid").as("c"), cosineExpr.as("cos"))
      .filter(col("cos") >= SemTau)
      .select(explode(array(
        struct(col("ia").as("partner"), col("ib").as("rep_id"),
          col("c").as("cid"), col("cos").as("cosine")),
        struct(col("ib").as("partner"), col("ia").as("rep_id"),
          col("c").as("cid"), col("cos").as("cosine")))).as("x"))
      .select(col("x.partner").as("partner"), col("x.rep_id").as("rep_id"),
        col("x.cid").as("cid"), col("x.cosine").as("cosine"))
    val own = assigned.select(col("vec_id").as("partner"),
      col("vec_id").as("rep_id"), col("cid"), lit(1.0).as("cosine"))
    // keeper = lowest qualifying partner; min_by is deterministic here
    // because partner ids are distinct within each vec_id group
    keyed.select(col("vec_id"), col("vh"))
      .join(groups, "vh")
      .join(cross.unionByName(own), "rep_id")
      .filter(col("partner") < col("vec_id"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("partner"), col("cosine"), col("cid")),
        col("partner")).as("d"))
      .select(col("d.cid").as("cid"), col("vec_id"),
        col("d.partner").as("dup_of"), col("d.cosine").as("cosine"))
      .orderBy(col("vec_id"))
  }

  val qSemDedupOracle: String =
    s"""$trainedAssignCtes, pairs AS (
       |  SELECT b.cid AS cid, b.vec_id AS vec_id, a.vec_id AS vec_a,
       |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
       |  FROM assigned a JOIN assigned b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 5) >= $SemTau
       |)
       |SELECT cid, vec_id, vec_a AS dup_of, cosine FROM pairs
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY vec_a) = 1
       |ORDER BY vec_id""".stripMargin

  // --- sign random projection: 64 -> 8 dims before ANN ---
  // The dimensionality-reduction pass that precedes index build at scale:
  // y_j = (v . r_j) / sqrt(d) with r_j a FIXED +-1 vector derived from
  // md5("rp:i:j") parity — the matrix is materialized at plan-build time
  // as literal arrays (computed once in Scala, embedded in both engines'
  // SQL), so the per-row work is 8 codegen'd zip_with+fold dot products
  // and nothing hashes per row. Deterministic everywhere; rounded to 5
  // decimals so fold order is irrelevant.
  /** +-1 from the parity of the first byte of md5("rp:i:j") — any
    * engine/library reproduces it.
    */
  private lazy val projMatrix: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(ProjDims, SrcDims) { (j, i) =>
      val h = md.digest(s"rp:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  def qEmbedProject(spark: SparkSession, dir: String): DataFrame = {
    val cols = (0 until ProjDims).map { j =>
      val rj = projMatrix(j).map(s => s"CAST($s.0 AS DOUBLE)").mkString(", ")
      // + 0.0 maps IEEE negative zero to positive zero (a ~-1e-18 sum
      // otherwise rounds to -0.0 in one engine and 0.0 in the other)
      expr(
        s"""round(aggregate(zip_with(v, array($rj), (x, r) -> x * r),
           |  CAST(0.0 AS DOUBLE), (a, x) -> a + x) / 8.0, 5) + CAST(0.0 AS DOUBLE)""".stripMargin)
        .as(s"y$j")
    }
    embeddings(spark, dir)
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id") +: cols: _*)
      .orderBy(col("vec_id"))
  }

  val qEmbedProjectOracle: String = {
    // list_reduce with a prepended 0 is the same LEFT-TO-RIGHT fold as
    // Spark's aggregate — list_sum may sum in a different order and flip
    // a rounding boundary (observed: 1/500 rows)
    val terms = (0 until ProjDims).map { j =>
      val rj = projMatrix(j).mkString("[", ".0, ", ".0]")
      s"round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(generate_series(1, $SrcDims), i -> v[i] * ($rj)[i])), " +
        s"(a, x) -> a + x) / 8.0, 5) + 0.0 AS y$j"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |)
       |SELECT vec_id,
       |       $terms
       |FROM e ORDER BY 1""".stripMargin
  }

  // --- hard-negative mining for contrastive training ---
  // For each anchor (the bounded query batch), the top-5 highest-cosine
  // vectors with a DIFFERENT label — the "confusable but wrong" examples
  // contrastive objectives need. The anchor batch broadcasts; candidates
  // stream past it in one scan; per-anchor top-5 goes through
  // [[graft.ops.TopK]]'s typed partial-top-k Aggregator, so the shuffle
  // carries at most 5 rows per anchor instead of the full candidate set
  // (a window rank here would sort every candidate row — the difference
  // between k·|anchors| and |corpus|·|anchors| rows through the shuffle
  // at 100 TB).
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "label", "v", "norm")
    val anchors = e.filter(col("vec_id") % 400 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val cand = e.as("b").join(broadcast(anchors).as("a"),
        col("a.qlabel") =!= col("b.label"))
      .select(col("a.query_id").as("query_id"),
        col("b.vec_id").as("neighbor_id"),
        round(dot(col("a.qv"), col("b.v")) / (col("a.qnorm") * col("b.norm")), 5)
          .as("cosine"))
    graft.ops.TopK.topKPerGroup(cand, "query_id", "cosine", "neighbor_id", 5)
      .select(col("query_id").cast("long").as("query_id"), col("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qHardNegativesOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), c AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
      |  FROM e a JOIN e b ON a.label <> b.label
      |  WHERE a.vec_id % 400 = 0
      |)
      |SELECT query_id,
      |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank,
      |       neighbor_id, cosine
      |FROM c
      |QUALIFY rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --- greedy k-center / farthest-point diverse subset selection ---
  // Gonzalez (1985) 2-approximation to the k-center problem: seed with
  // the smallest vec_id, then 5 times add the point FARTHEST (cosine
  // distance) from its nearest chosen center — the diversity-sampling
  // pass that picks maximally-spread exemplars (coreset seeding,
  // kmeans++-style init, eval-set diversification). The selection
  // distance is also the coverage radius guarantee: every point is
  // within that distance of some chosen center.
  //
  // Scale shape per round: the chosen set (<= 6 rows) broadcasts; each
  // point computes min distance to it map-side (no shuffle on the
  // corpus), and the argmax is a TakeOrdered(1), not a sort. The chosen
  // set is localCheckpoint'd so round t+1's plan doesn't recompute
  // rounds 1..t. Determinism: distances are round(1-cos, 5) per
  // (point, center) BEFORE the min — order-free — and ties break by
  // vec_id; the oracle unrolls the same 5 rounds as CTEs.
  def qKCenter(spark: SparkSession, dir: String): DataFrame = {
    val pts = withNorm(embeddings(spark, dir)).select("vec_id", "v", "norm")
    var centers = pts.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("norm").as("cnorm"), lit(0L).as("sel_round"),
        lit(0.0).as("far_dist"))
      .localCheckpoint(true)
    for (t <- 1 to 5) {
      val next = pts.crossJoin(
          broadcast(centers.select(col("cv"), col("cnorm"))))
        .select(col("vec_id"),
          round(lit(1.0) - dot(col("v"), col("cv")) / (col("norm") * col("cnorm")), 5)
            .as("d"))
        .groupBy(col("vec_id")).agg(min(col("d")).as("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .join(pts, Seq("vec_id"))
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("norm").as("cnorm"), lit(t.toLong).as("sel_round"),
          col("mind").as("far_dist"))
      centers = centers.unionByName(next).localCheckpoint(true)
    }
    centers.select(col("sel_round"), col("cid").as("vec_id"), col("far_dist"))
      .orderBy(col("sel_round"))
  }

  val qKCenterOracle: String = {
    def centersOf(t: Int): String =
      "SELECT vec_id, v FROM c0" + (1 to t).map(i =>
        s" UNION ALL SELECT e.vec_id, e.v FROM n$i JOIN e USING (vec_id)").mkString
    def round(t: Int): String =
      s"""n$t AS (
         |  SELECT p.vec_id AS vec_id, min(round(1 - list_cosine_similarity(p.v, c.v), 5)) AS mind
         |  FROM e p CROSS JOIN (${centersOf(t - 1)}) c
         |  GROUP BY 1 ORDER BY mind DESC, p.vec_id LIMIT 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       |${(1 to 5).map(round).mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS sel_round, vec_id, 0.0 AS far_dist FROM c0
       |${(1 to 5).map(t =>
         s"UNION ALL SELECT $t, vec_id, mind FROM n$t").mkString("\n")}
       |ORDER BY sel_round""".stripMargin
  }

  // --- kNN label-noise detection (neighbor disagreement) ---
  // The confident-learning-style curation pass: a labeled example whose
  // nearest neighbors mostly carry a DIFFERENT label is a likely
  // annotation error (Northcutt et al. 2021 use model confidence; the
  // embedding-space kNN vote is the model-free variant every dataset
  // audit starts with). Candidates come from the same 8-bit sign-LSH
  // bucket as qSimLshBucketed (the quadratic term shrinks by ~2^8 and
  // the join shuffles on bucket); per-vector top-5 goes through the
  // typed partial top-k Aggregator, so the shuffle carries 5 rows per
  // vector, never the bucket's full pair frame. A row is flagged when
  // it has >= 3 voting neighbors and a STRICT majority disagrees.
  // Majority = min_by over (-cnt, label): the total order both engines
  // replay (DuckDB via row_number QUALIFY).
  def qKnnLabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val bucketExpr = expr(
      """aggregate(transform(sequence(1, 8),
        |  i -> CASE WHEN element_at(v, i) >= CAST(0.0 AS DOUBLE) THEN CAST(pow(2, i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    val e = withNorm(embeddings(spark, dir))
      .withColumn("bucket", bucketExpr)
      .select("vec_id", "label", "bucket", "v", "norm")
    val cand = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        cosineExpr.as("cosine"))
    val top = graft.ops.TopK.topKPerGroup(cand, "vec_id", "cosine", "neighbor_id", 5)
      .select(col("vec_id").cast("long").as("vec_id"), col("neighbor_id"))
    val votes = top
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
        "neighbor_id")
      .groupBy(col("vec_id"), col("nlabel")).agg(count(lit(1)).as("cnt"))
    val tally = votes.groupBy(col("vec_id"))
      .agg(sum(col("cnt")).as("n_nb"),
        min_by(col("nlabel"), struct((-col("cnt")).as("nc"), col("nlabel")))
          .as("majority_label"))
    val own = votes
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .filter(col("nlabel") === col("label"))
      .select(col("vec_id"), col("cnt").as("own_cnt"))
    tally.join(e.select(col("vec_id"), col("label")), "vec_id")
      .join(own, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("majority_label"), col("n_nb"),
        (col("n_nb") - coalesce(col("own_cnt"), lit(0L))).as("n_disagree"))
      .filter(col("n_nb") >= 3 && col("n_disagree") * 2 > col("n_nb"))
      .orderBy(col("vec_id"))
  }

  val qKnnLabelNoiseOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |         CAST(list_sum(list_transform(generate_series(1, 8),
      |           i -> CASE WHEN embedding[i] >= 0 THEN 2 ** (i - 1) ELSE 0 END)) AS BIGINT) AS bucket
      |  FROM embeddings),
      |sims AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, b.label AS nlabel,
      |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
      |top AS (
      |  SELECT vec_id, neighbor_id, nlabel FROM sims
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cosine DESC, neighbor_id) <= 5),
      |votes AS (
      |  SELECT vec_id, nlabel, CAST(count(*) AS BIGINT) AS cnt
      |  FROM top GROUP BY 1, 2),
      |maj AS (
      |  SELECT vec_id, nlabel AS majority_label FROM votes
      |  QUALIFY row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cnt DESC, nlabel) = 1),
      |tally AS (
      |  SELECT v.vec_id, CAST(sum(v.cnt) AS BIGINT) AS n_nb,
      |         any_value(m.majority_label) AS majority_label
      |  FROM votes v JOIN maj m USING (vec_id) GROUP BY 1)
      |SELECT t.vec_id, e.label, t.majority_label, t.n_nb,
      |       CAST(t.n_nb - coalesce(o.cnt, 0) AS BIGINT) AS n_disagree
      |FROM tally t
      |JOIN e ON e.vec_id = t.vec_id
      |LEFT JOIN votes o ON o.vec_id = t.vec_id AND o.nlabel = e.label
      |WHERE t.n_nb >= 3 AND (t.n_nb - coalesce(o.cnt, 0)) * 2 > t.n_nb
      |ORDER BY t.vec_id""".stripMargin

  // --- contrastive pair mining (anchor, positive, negative) ---
  // The training-triplet generator for contrastive/metric learning:
  // per anchor, the nearest SAME-label vector (positive) and the
  // nearest CROSS-label vector (negative — the hard negative), plus
  // the margin the loss will see. Both argmaxes are map-side
  // max_by(struct(cosine, -neighbor_id)) aggregates over the
  // broadcast-anchor crossed scan — one row per (anchor, side) reaches
  // the shuffle, the qHardNegatives discipline without even a top-k
  // buffer. Ties break toward the smaller neighbor id, the total order
  // the oracle replays via row_number.
  def qContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(spark, dir)).select("vec_id", "label", "v", "norm")
    val anchors = e.filter(col("vec_id") % 400 === 0)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val crossed = e.as("b").join(broadcast(anchors).as("a"),
        col("a.query_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.qlabel").as("qlabel"),
        (col("a.qlabel") === col("b.label")).as("same"),
        col("b.vec_id").as("neighbor_id"),
        round(dot(col("a.qv"), col("b.v")) / (col("a.qnorm") * col("b.norm")), 5)
          .as("cosine"))
    val best = crossed.groupBy(col("query_id"), col("qlabel"), col("same"))
      .agg(
        max_by(col("neighbor_id"), struct(col("cosine"), (-col("neighbor_id")).as("nid")))
          .as("nid"),
        max(struct(col("cosine"), (-col("neighbor_id")).as("nid")))
          .getField("cosine").as("cos"))
    val pos = best.filter(col("same"))
      .select(col("query_id"), col("qlabel").as("label"),
        col("nid").as("pos_id"), col("cos").as("pos_cos"))
    val neg = best.filter(!col("same"))
      .select(col("query_id"), col("nid").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, "query_id")
      .withColumn("margin_e5", round(col("pos_cos") - col("neg_cos"), 5))
      .orderBy(col("query_id"))
  }

  val qContrastivePairsOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |crossed AS (
      |  SELECT a.vec_id AS query_id, a.label AS qlabel,
      |         a.label = b.label AS same, b.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(a.v, b.v), 5) AS cosine
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id % 400 = 0),
      |best AS (
      |  SELECT query_id, qlabel, same, neighbor_id AS nid, cosine AS cos
      |  FROM crossed
      |  QUALIFY row_number() OVER (PARTITION BY query_id, same
      |    ORDER BY cosine DESC, neighbor_id) = 1)
      |SELECT p.query_id, p.qlabel AS label,
      |       p.nid AS pos_id, p.cos AS pos_cos,
      |       n.nid AS neg_id, n.cos AS neg_cos,
      |       round(p.cos - n.cos, 5) AS margin_e5
      |FROM best p JOIN best n ON p.query_id = n.query_id
      |WHERE p.same AND NOT n.same
      |ORDER BY p.query_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_contrastive_pairs" -> (qContrastivePairs _),
    "q_knn_label_noise" -> (qKnnLabelNoise _),
    "q_kcenter" -> (qKCenter _),
    "q_sim_cosine_topk" -> (qSimCosineTopk _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_sim_lsh_bucketed" -> (qSimLshBucketed _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_semdedup" -> (qSemDedup _),
    "q_embed_project" -> (qEmbedProject _),
    "q_hard_negatives" -> (qHardNegatives _))

  def oracles: Map[String, String] = Map(
    "q_contrastive_pairs" -> qContrastivePairsOracle,
    "q_knn_label_noise" -> qKnnLabelNoiseOracle,
    "q_kcenter" -> qKCenterOracle,
    "q_sim_cosine_topk" -> qSimCosineTopkOracle,
    "q_dedup_embedding" -> qDedupEmbeddingOracle,
    "q_sim_lsh_bucketed" -> qSimLshBucketedOracle,
    "q_sim_ivf" -> qSimIvfOracle,
    "q_semdedup" -> qSemDedupOracle,
    "q_embed_project" -> qEmbedProjectOracle,
    "q_hard_negatives" -> qHardNegativesOracle)
}
