package graft

import org.scalatest.funsuite.AnyFunSuite

/** The GraftSession configuration contract. The builder itself cannot be
  * exercised against a fresh session here (the suite shares one
  * SparkSession, and getOrCreate would return it with these configs
  * ignored), so the contract map is asserted directly; the extensions
  * class it points at is exercised in GraftExtensionsSpec. */
class GraftSessionSpec extends AnyFunSuite {

  test("pins extensions, UTC, skew-join AQE, zstd, and caller-sized shuffles") {
    val c = GraftSession.configs(shufflePartitions = 64)
    assert(c("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(Class.forName(c("spark.sql.extensions")) != null) // class actually exists
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.parquet.compression.codec") == "zstd")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c("spark.sql.shuffle.partitions") == "64")
  }

  test("rejects a non-positive shuffle-partition count") {
    intercept[IllegalArgumentException] {
      GraftSession.builder("app", shufflePartitions = 0)
    }
    ()
  }
}
