package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Measured evidence for the skew story (SURVEY §4; BENCH.md "skew has
  * explicit handles").
  *
  * The harness builds the pathological shape the handles exist for and
  * times each mitigation against the unmitigated plan ON THE SAME DATA,
  * checksum-verified identical:
  *
  *  1. Skewed fan-out join — 90% of the fact lands on ONE key, the
  *     dimension is declared broadcast-ineligible (threshold -1: at
  *     100 TB a per-key dimension doesn't broadcast), and the join fans
  *     out 8× per row, so the hot key's output concentrates in one
  *     sort-merge reducer. Arms:
  *       naive  — AQE skew splitting OFF: the straggler baseline.
  *       aqe    — AQE skew-join ON with thresholds scaled to the fixture
  *                (the defaults are sized for 256 MB cluster partitions;
  *                a fixture-scale partition never trips them — lowering
  *                them is what a cluster job does implicitly at real
  *                partition sizes).
  *       salted — [[Skew.saltedJoin]] with AQE splitting OFF: the
  *                explicit handle for when AQE can't see the skew (e.g.
  *                the hot side feeds from an exchange-free scan).
  *  2. Skewed distinct count — countDistinct funnels every occurrence of
  *     the hot key through one reducer; [[Skew.distinctCountSkewAware]]'s
  *     two-phase form spreads phase 1 over (key, value) and only the
  *     per-key distinct COUNTS cross the second exchange.
  *
  * Each arm runs `repeats` times (min wall reported, Bench's posture: the
  * first run pays page-cache/codegen warmup). One JSON line per arm:
  *
  *   {"bench":"skew_join","arm":"naive","wall_sec":S,"rows":N,
  *    "checksum":C,"hot_share":0.9,"fanout":8}
  *
  * plus a final line asserting all checksums agree. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.SkewBench [sfDir] [repeats]
  */
object SkewBench {

  final case class ArmResult(name: String, wallSec: Double, rows: Long, checksum: Long)

  /** The skewed fact: events with 90% of rows remapped onto one hot key
    * (-1, outside the real user_id domain). Deterministic (event_id hash,
    * not rand()) so every arm and repeat sees identical data. */
  def skewedFact(spark: SparkSession, sfDir: String): DataFrame =
    graft.io.Tables.events(spark, sfDir).select(
      when(pmod(xxhash64(col("event_id")), lit(10)) < 9, lit(-1L))
        .otherwise(col("user_id").cast("long")).as("k"),
      col("event_id"),
      col("value"))

  /** Per-key dimension with `fanout` variants per key: the join fans out
    * `fanout`×, so the hot key's OUTPUT (not just its input) concentrates
    * in one reducer — the shape where a straggler dominates the stage. */
  def dimOf(fact: DataFrame, fanout: Int = 8): DataFrame =
    fact.select(col("k")).distinct()
      .withColumn("variant", explode(sequence(lit(0), lit(fanout - 1))))
      .withColumn("weight",
        (pmod(xxhash64(col("k"), col("variant")), lit(1000)) / lit(1000.0)))
      // Round-robin: without this the distinct's hash(k) partitioning
      // satisfies the join's requirement, the dim side gets NO exchange,
      // and AQE's OptimizeSkewedJoin can't match (it needs sort-over-
      // shuffle-stage on BOTH children). A real per-key dim arrives
      // partitioned by ingest order, not by the join key — this models
      // that, and makes the aqe arm a fair test of the skew splitter.
      .repartition(32)

  /** Order-independent checksum of the joined output: bit_xor of the row
    * hashes — EXACT under any partitioning/addition order (a double sum of
    * hashes rounds differently per partition layout, so equal results
    * could read as a mismatch; a long sum would overflow under ANSI). */
  private def checksumAgg(joined: DataFrame): DataFrame =
    joined.agg(count(lit(1)).as("n"),
      bit_xor(xxhash64(col("k"), col("event_id"), col("variant"),
        col("weight"), col("value"))).as("c"))

  private def readSummary(r: org.apache.spark.sql.Row): (Long, Long) = {
    val n = r.getLong(0)
    // bit_xor over zero rows is NULL; surface an empty fixture loudly
    // instead of an opaque NPE from the unboxing getLong.
    require(n > 0, "[skewbench] arm produced 0 rows — wrong or empty sfDir?")
    (n, r.getLong(1))
  }

  private def summarize(joined: DataFrame): (Long, Long) =
    readSummary(checksumAgg(joined).head())

  private def timed(name: String, repeats: Int)(body: () => (Long, Long)): ArmResult = {
    var best = Double.MaxValue
    var out: (Long, Long) = (0L, 0L)
    (1 to repeats).foreach { _ =>
      val t0 = System.nanoTime()
      out = body()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    ArmResult(name, best, out._1, out._2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val repeats = if (args.length > 1) args(1).toInt else 2
    val fanout = if (args.length > 2) args(2).toInt else 8
    val spark = GraftSession.local("graft-skewbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The dimension must NOT broadcast in any arm: at fixture scale every
    // dim fits the 10 MB threshold and the skew would vanish into a
    // broadcast join — the 100 TB shape being modeled is a per-key dim
    // far past broadcast size.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val fact = skewedFact(spark, sfDir)
    val dim = dimOf(fact, fanout)
    // Materialize both sides once (cached) so every arm times the JOIN,
    // not the parquet scan + dim distinct.
    fact.persist().count()
    dim.persist().count()

    def setSkewHandling(on: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      if (on) {
        // Fixture-scaled trip points (defaults: factor 5, 256 MB): a hot
        // partition here is tens of MB, so the cluster-sized defaults
        // never fire. Factor 2 / 4 MB makes AQE see the same RELATIVE
        // skew a cluster job sees at real partition sizes.
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        // The post-join partial agg rides the join stage; Spark's
        // conservative rule suppresses the split when the plan has any
        // downstream distribution requirement, so force it — same knob a
        // cluster job sets when a skewed join feeds further exchanges.
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      } else {
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
      }
    }

    val joinArms = Seq(
      timed("naive", repeats) { () =>
        setSkewHandling(false)
        summarize(fact.join(dim, "k"))
      },
      timed("aqe", repeats) { () =>
        setSkewHandling(true)
        // Same checksum aggregate as every other arm (one definition);
        // collect() (not head()) so the debug plan below is the plan that
        // actually executed — head() would wrap a separate Limit query.
        val agg = checksumAgg(fact.join(dim, "k"))
        val out = readSummary(agg.collect().head)
        if (sys.env.contains("SKEWBENCH_DEBUG")) {
          val plan = agg.queryExecution.executedPlan.toString
          System.err.println("[skewbench] aqe skew markers: " +
            plan.linesIterator.filter(_.toLowerCase.contains("skew")).mkString(" | ").take(1500))
        }
        out
      },
      timed("salted", repeats) { () =>
        setSkewHandling(false)
        summarize(Skew.saltedJoin(fact, dim, Seq("k"), saltBy = col("event_id")))
      },
      timed("salted_hot", repeats) { () =>
        setSkewHandling(false)
        // 50k-row threshold: only the 90% key qualifies at sf>=0.1, so the
        // dim replicates for ONE key instead of all of them — the cost
        // saltedJoin pays and this arm measures the recovery of.
        summarize(Skew.saltedJoinHot(fact, dim, Seq("k"),
          saltBy = col("event_id"), hotRowThreshold = 50000L))
      })
    setSkewHandling(false)

    joinArms.foreach { a =>
      println(s"""{"bench":"skew_join","arm":"${a.name}","wall_sec":${f"${a.wallSec}%.2f"},""" +
        s""""rows":${a.rows},"checksum":${a.checksum},"hot_share":0.9,"fanout":$fanout}""")
    }
    val joinOk = joinArms.map(a => (a.rows, a.checksum)).distinct.size == 1

    // ---- skewed distinct count ------------------------------------------
    def summarizeDistinct(df: DataFrame): (Long, Long) =
      readSummary(df.agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(col("k"), col("n_distinct"))).as("c")).head())
    val distinctArms = Seq(
      timed("naive_count_distinct", repeats) { () =>
        summarizeDistinct(
          fact.groupBy(col("k")).agg(count_distinct(col("value")).as("n_distinct")))
      },
      timed("two_phase", repeats) { () =>
        summarizeDistinct(Skew.distinctCountSkewAware(fact, Seq("k"), "value"))
      })
    distinctArms.foreach { a =>
      println(s"""{"bench":"skew_distinct","arm":"${a.name}","wall_sec":${f"${a.wallSec}%.2f"},""" +
        s""""rows":${a.rows},"checksum":${a.checksum}}""")
    }
    val distinctOk = distinctArms.map(a => (a.rows, a.checksum)).distinct.size == 1

    println(s"""{"bench":"skew_summary","join_arms_agree":$joinOk,""" +
      s""""distinct_arms_agree":$distinctOk}""")
    if (!joinOk || !distinctOk) {
      System.err.println("[skewbench] ARM CHECKSUM MISMATCH — arms are not equivalent")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
