package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session definition every entry point builds through
  * ([[Tables.localSession]] applies exactly [[Tables.sessionConf]]), so an
  * edit to it — or a second copy drifting from it — shows up as a test
  * diff instead of as bench and oracle gate silently running different
  * physical plans.
  */
class SessionConfSpec extends AnyFunSuite {

  private val floorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("default settings: cores-wide shuffle, AQE with the 64k floor, UTC, no UI") {
    assert(Tables.sessionConf(cores = 7) == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.enabled" -> "true",
      // a deployment setting; unset in tests, so this reads the default
      floorKey -> sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("probeSplits adds 1 MB scan splits with zero open cost, nothing else") {
    val probe = Tables.sessionConf(cores = 7, probeSplits = true)
    assert(probe -- Tables.sessionConf(cores = 7).keys == Map(
      "spark.sql.files.maxPartitionBytes" -> "1048576",
      "spark.sql.files.openCostInBytes" -> "0"))
    assert(Tables.sessionConf(cores = 7).toSet.subsetOf(probe.toSet))
  }
}
