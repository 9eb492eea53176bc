package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites, on the GraftSession contract.
  * Four cores and shuffle partitions: test fixtures are tiny and 200 empty
  * partitions only slow the suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", shufflePartitions = 4)
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    // a per-run reliable-checkpoint home so Reuse.materialize exercises the
    // same (durable) path in tests that a cluster deployment runs
    s.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-test-ckpt").toString)
    s
  }
}
