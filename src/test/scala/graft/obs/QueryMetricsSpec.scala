package graft.obs

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class QueryMetricsSpec extends SparkSpec {

  test("per-query jobs, shuffle bytes and spill sum to the listener's totals") {
    val sc = spark.sparkContext
    val m = new QueryMetrics
    sc.addSparkListener(m)
    try {
      def tagged(name: String)(body: => Unit): Unit = {
        sc.setLocalProperty(QueryMetrics.Prop, name)
        try body finally sc.setLocalProperty(QueryMetrics.Prop, null)
      }
      m.drain(sc)
      m.snapshotAndReset()
      tagged("a") {
        spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      }
      tagged("b") {
        spark.range(0, 20000, 1, 4).repartition(3).selectExpr("sum(id)").collect()
      }
      spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect() // untagged
      m.drain(sc)
      val total = m.total
      val per = m.snapshotAndReset()

      assert(per.keySet == Set("a", "b", QueryMetrics.Unattributed))
      per.foreach { case (q, t) => assert(t.jobs >= 1, s"$q ran no job") }
      Seq("a", "b").foreach { q =>
        assert(per(q).shuffleWriteBytes > 0 && per(q).shuffleReadBytes > 0, s"$q shuffled nothing")
      }
      def sumOf(f: QueryMetrics.Tally => Long): Long = per.values.map(f).sum
      assert(sumOf(_.jobs) == total.jobs)
      assert(sumOf(_.shuffleReadBytes) == total.shuffleReadBytes)
      assert(sumOf(_.shuffleWriteBytes) == total.shuffleWriteBytes)
      assert(sumOf(_.memSpillBytes) == total.memSpillBytes)
      assert(sumOf(_.diskSpillBytes) == total.diskSpillBytes)
      assert(per.values.map(_.peakExecMemBytes).max == total.peakExecMemBytes)
      assert(m.total == QueryMetrics.Zero, "snapshotAndReset must reset the totals")
    } finally sc.removeSparkListener(m)
  }
}
