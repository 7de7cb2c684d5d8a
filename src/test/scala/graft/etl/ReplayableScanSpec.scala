package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Pins [[Sinks.replayableScan]] against the RUNNING Spark version
  * (VERDICT r14 item 2): the predicate decides whether a sink may skip
  * its execution-consistency persist, so a leaf class it silently stops
  * recognizing re-enables corpus-scale persists on bulk merges. The
  * leaf matches are now typed (a rename is a compile error), and this
  * spec asserts the BEHAVIOR each match buys: V1 scans, V2 file scans,
  * and disk-backed caches replay; memory-only caches (which can evict and
  * recompute from the original source — ADVICE r14 low), V2 scans over a
  * REST source (a second execution is a second HTTP pull of a live
  * feed), and local / shuffling / non-deterministic plans do not.
  */
class ReplayableScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parquetPath: String = {
    val p = Files.createTempDirectory("graft-replay").resolve("t").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.parquet(p)
    p
  }

  test("V1 file scan and pure projections over it are replayable") {
    val df = spark.read.parquet(parquetPath)
    assert(Sinks.replayableScan(df))
    assert(Sinks.replayableScan(
      df.filter(col("id") > 10).select(col("id"), upper(col("v")).as("u"))))
  }

  test("V2 file scan is recognized as replayable on this Spark version") {
    val k = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "")
    try {
      val df = spark.read.parquet(parquetPath)
      // pin that this really exercises the V2 leaf — if Spark routed it
      // elsewhere the replayable assertion below would test nothing
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]),
        s"expected a DataSourceV2ScanRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
      assert(Sinks.replayableScan(df))
    } finally spark.conf.set(k, prev)
  }

  test("disk-backed cache replays; a memory-only cache does not") {
    val base = spark.read.parquet(parquetPath).filter(col("id") % 2 === 0)
    base.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val derived = base.select(col("id"))
      val leaves = derived.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"expected an InMemoryRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
      assert(Sinks.replayableScan(derived))
    } finally base.unpersist()

    // MEMORY_ONLY can evict blocks and recompute them from the original
    // source between a sink's dup pre-check and its write — the exact
    // two-execution inconsistency the consistency persist prevents
    val memOnly = spark.read.parquet(parquetPath).filter(col("id") % 2 === 1)
    memOnly.persist(StorageLevel.MEMORY_ONLY)
    try assert(!Sinks.replayableScan(memOnly.select(col("id"))))
    finally memOnly.unpersist()
  }

  test("local, shuffling, and non-deterministic plans keep the persist") {
    val df = spark.read.parquet(parquetPath)
    assert(!Sinks.replayableScan(Seq((1L, "a")).toDF("id", "v")))
    assert(!Sinks.replayableScan(df.groupBy(col("v")).count()))
    assert(!Sinks.replayableScan(df.join(df.select(col("id")), Seq("id"))))
    assert(!Sinks.replayableScan(df.select(col("id"), rand().as("r"))))
  }

  test("a REST DSv2 scan is not replayable") {
    // the daily ingest shape: the arcgis source through the daily
    // transform. Re-executing it re-fetches every page from the server,
    // so the sink must keep its consistency persist
    val dir = Files.createTempDirectory("graft-replay-arcgis")
    Files.writeString(dir.resolve("features.json"),
      (1 to 3).map(i =>
        s"""{"attributes":{"OBJECTID":$i,"ISSUE_DATE":${1704067200000L + i},""" +
          """"ISSUING_AGENCY_NAME":"MPD","FINE_AMOUNT":"100"}}""")
        .mkString("""{"features":[""", ",", "]}"))
    val df = Transforms.violationsFromArcGis(spark.read.format("arcgis")
      .option("mode", "fixture").option("path", dir.toString).load())
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]),
      s"expected a DataSourceV2ScanRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
    assert(df.count() == 3)
    assert(!Sinks.replayableScan(df))
  }
}
