package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The IVF family on embeddings with no vector in the centroid sample
  * (`vec_id < 16`): the trained quantizer has no centroid, so no vector
  * belongs to any list. The DuckDB oracles cross-join against the empty
  * centroid table and return no rows; the Spark plans must agree rather
  * than invent a list id (the per-row argmax used to fold an empty
  * centroid array to cid `Long.MinValue` and put every vector in it).
  */
class IvfEmptyCentroidSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-ivf-empty").toString
    graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .filter(col("vec_id") >= 16)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("no centroid sample: assignment labels no vector with a list id") {
    val e = SimilarityQueries.withNorm(graft.Tables.embeddings(spark, dir))
      .select("vec_id", "v", "norm")
    assert(e.count() > 0)
    val assigned = SimilarityQueries.ivfAssign(
      e, SimilarityQueries.ivfCentroids(e, SimilarityQueries.IvfIters))
    assert(assigned.isEmpty)
  }

  test("no centroid sample: IVF search, IVF-PQ and SemDeDup return no rows") {
    assert(SimilarityQueries.qSimIvf(spark, dir).isEmpty)
    assert(PqQueries.qSimIvfPq(spark, dir).isEmpty)
    assert(SimilarityQueries.qSemDedup(spark, dir).isEmpty)
  }
}
