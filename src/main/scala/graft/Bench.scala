package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.obs.QueryMetrics

/** Benchmark main: one JSON line with per-query seconds at the target SF.
  *
  * Throughput harness, not a latency harness: most catalog queries leave
  * the local cores mostly idle (a single-row-group fixture scan is ONE
  * task), so running them strictly one-after-another measures mostly
  * Spark's per-query scheduling floor. The suite therefore executes on
  * SPARK_GRAFT_BENCH_THREADS (default 8) driver threads submitting
  * concurrent jobs into one SparkSession, the standard multi-tenant shape
  * for a Spark cluster: FAIR scheduling, one pool per worker thread, so no
  * query starves the rest. `value` is the wall-clock of the whole measured
  * batch. Per-query seconds are reported too, but under concurrency they
  * include scheduler wait: they locate hotspots, and their SUM (reported
  * as `sum_query_sec`) exceeds the wall. SPARK_GRAFT_BENCH_THREADS=1 runs
  * sequentially (value ≈ sum of per-query times).
  *
  * Each query is first executed once against the sf0.001 fixture to pay
  * data-independent one-time costs (analysis, whole-stage codegen, JIT)
  * outside the measured run. The warmup timings also order the measured
  * run longest-first, so the concurrent batch doesn't end on one heavy
  * straggler. Set SPARK_GRAFT_WARMUP=0 to measure cold instead.
  *
  * Materialization: the measured action hashes EVERY output column of
  * every row into one aggregated value (a plain count() would let Catalyst
  * prune projection work). A failed query reports -1 and logs to stderr
  * rather than recording a fast fake timing.
  *
  * Output contract: the FINAL stdout line is the totals JSON
  * (`{"metric":"total","value":<best wall>,"queries":{...},...}`) —
  * nothing follows it, and build.sbt routes forked stdout through
  * unprefixed so a consumer can `json.loads` the last line. `queries`
  * carries ms-rounded per-query seconds for round-over-round diffs.
  * The suite runs SPARK_GRAFT_BENCH_REPEATS times (default 3; repeat 1
  * pays the per-dir model training); the headline is the best wall, and
  * every repeat's wall, 1-min load average and core-probe seconds ship in
  * the record so box contention is self-diagnosing.
  *
  * The full record (BENCH_LOCAL.json, or SPARK_GRAFT_BENCH_OUT) adds the
  * per-query [[QueryMetrics]] tallies (jobs, shuffle bytes, spill, peak
  * execution memory; max across repeats — deterministic per plan, so they
  * diff cleanly where wall time is noisy), the query function's build time
  * and the hashed plan's planning phases from its fastest repeat, and each
  * repeat's peak heap. Targeted runs use the same main: SPARK_GRAFT_BENCH_ONLY
  * names the queries, SPARK_GRAFT_SF_DIR the data.
  *
  * Before anything starts the run gates on a quiet box (load_avg_1m <
  * SPARK_GRAFT_BENCH_MAX_LOAD, default 5, waiting up to
  * SPARK_GRAFT_BENCH_WAIT_SEC, default 300) — see [[awaitQuietBox]].
  */
object Bench {

  /** One query's timing: wall seconds (-1 on failure), the query
    * function's build ms, and the measured plan's planning phases in ms. */
  private final case class QueryRun(sec: Double, buildMs: Long, phasesMs: Map[String, Long])

  private def loadAvg1m: Double = {
    val l = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    math.round(l * 100) / 100.0
  }

  /** Host-weather probe: a FIXED single-thread integer loop timed before
    * each repeat. Per-core throughput on a shared host varies invisibly to
    * load average and steal, so identical plans with probe 0.2 s vs 0.4 s
    * read as weather, not regression. */
  private def coreProbeSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    if (x == 42L) System.err.println("") // keep x live against DCE
    math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0
  }

  /** Gate the measured run on a quiet 1-minute load average: poll until
    * load < maxLoad or the wait budget runs out (a permanently busy box
    * still produces a record, marked contended). Returns seconds waited.
    * Must run BEFORE the SparkSession spins up: our own executor threads
    * would otherwise feed the average we are gating on. */
  private def awaitQuietBox(maxLoad: Double, budgetSec: Int): Double = {
    val t0 = System.nanoTime()
    var load = loadAvg1m
    while (load >= maxLoad && (System.nanoTime() - t0) / 1e9 < budgetSec) {
      System.err.println(f"[bench] load_avg_1m=$load%.2f >= $maxLoad%.1f — waiting for a quiet box")
      Thread.sleep(15000)
      load = loadAvg1m
    }
    val waited = math.round((System.nanoTime() - t0) / 1e9 * 10) / 10.0
    if (load >= maxLoad) System.err.println(
      f"[bench] proceeding CONTENDED after $waited%.0f s (load_avg_1m=$load%.2f)")
    waited
  }

  /** Heap pools whose peaks are reset before each repeat. The sum of
    * per-pool peaks bounds the heap's peak from above (pools peak at
    * different moments). */
  private lazy val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).toSeq
  private def peakHeapMb: Long = heapPools.map(_.getPeakUsage.getUsed).sum / (1L << 20)

  private def json[V](m: Map[String, V])(f: V => String): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
      new java.io.File(warmDir).isDirectory
    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "8").toInt
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "5").toDouble
    val waitBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "300").toInt
    val waitedSec = awaitQuietBox(maxLoad, waitBudget)
    // a PRE-SESSION verdict by construction: once our own executor threads
    // spin up, the 1-min load average measures mostly us
    val contended = loadAvg1m >= maxLoad || waitedSec >= waitBudget
    val spark = GraftSession.local("graft-bench")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)

    /** Run `ordered` across `threads` worker threads (work-stealing via a
      * shared cursor), each query tagged for [[QueryMetrics]]. */
    def runAll(ordered: Seq[(String, (SparkSession, String) => DataFrame)],
        dir: String): Map[String, QueryRun] = {
      val cursor = new AtomicInteger(0)
      val out = new java.util.concurrent.ConcurrentHashMap[String, QueryRun]()
      val workers = (0 until math.max(1, threads)).map { w =>
        val t = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench$w")
          var i = cursor.getAndIncrement()
          while (i < ordered.size) {
            val (name, fn) = ordered(i)
            spark.sparkContext.setLocalProperty(QueryMetrics.Prop, name)
            val t0 = System.nanoTime()
            val run =
              try {
                val df = fn(spark, dir)
                val buildMs = (System.nanoTime() - t0) / 1000000
                val hashed = df.select(xxhash64(struct(col("*"))).cast("double").as("_h")) // double: ANSI long sum would overflow
                  .agg(sum(col("_h")))
                hashed.collect() // not head(): that plans a second, Limit-topped execution
                val phases = hashed.queryExecution.tracker.phases
                  .map { case (p, s) => p -> (s.endTimeMs - s.startTimeMs) }
                QueryRun((System.nanoTime() - t0) / 1e9, buildMs, phases)
              } catch { case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                QueryRun(-1.0, -1L, Map.empty)
              }
            spark.sparkContext.setLocalProperty(QueryMetrics.Prop, null)
            out.put(name, run)
            i = cursor.getAndIncrement()
          }
        }, s"bench-worker-$w")
        t.start(); t
      }
      workers.foreach(_.join())
      out.asScala.toMap
    }

    // Fixed alphabetical base order keeps per-query numbers comparable
    // across catalog changes. SPARK_GRAFT_BENCH_ONLY=name1,name2 — targeted
    // local runs (the contract run covers the full catalog).
    val onlyFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet) match {
        case Some(names) => names.contains(_)
        case None        => _ => true
      }
    val queries = SparkEntry.queries.toSeq.filter(e => onlyFilter(e._1)).sortBy(_._1)
    val warmTimes: Map[String, Double] =
      if (warmup) runAll(queries, warmDir).map { case (k, r) => k -> r.sec } else Map.empty
    val order = queries.sortBy { case (n, _) => (-warmTimes.getOrElse(n, 0.0), n) }

    // Best-of-N: on a shared box one contended sample can masquerade as a
    // 5× regression, so the headline is the BEST wall, per-query seconds
    // are the min across repeats, and all samples ship in the record.
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // quiesce the async listener bus before EVERY snapshot, so trailing
    // task ends never bleed into the next repeat's tallies
    metrics.drain(spark.sparkContext)
    metrics.snapshotAndReset() // discard warmup tallies
    // two unrecorded calls: the probe must measure weather, never JIT
    coreProbeSec(); coreProbeSec()
    val runs = (1 to repeats).map { _ =>
      val load = loadAvg1m
      val probe = coreProbeSec()
      heapPools.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      val res = runAll(order, sfDir)
      val wallSec = (System.nanoTime() - t0) / 1e9
      metrics.drain(spark.sparkContext)
      (wallSec, load, res, metrics.snapshotAndReset(), probe, peakHeapMb)
    }
    // Per-query tallies: MAX across repeats. Deterministic plans give
    // identical tallies every repeat; memoized-model entries (v2/v3/v4 train
    // once per dir) only do that work on the repeat that trains, so max
    // reports the cold-run bound instead of a misleading zero.
    val tallies = runs.map(_._4).reduce { (a, b) =>
      (a.keySet ++ b.keySet).map { k =>
        k -> a.getOrElse(k, QueryMetrics.Zero).max(b.getOrElse(k, QueryMetrics.Zero))
      }.toMap
    }
    val wall = runs.map(_._1).min
    // each query's fastest repeat; -1 marks a failure and never wins
    val results = runs.map(_._3).reduce { (a, b) =>
      a.map { case (k, v) =>
        val w = b.getOrElse(k, v)
        k -> (if (v.sec < 0) w else if (w.sec < 0 || v.sec <= w.sec) v else w)
      }
    }
    val secs = results.map { case (k, r) => k -> r.sec }

    val sumSec = secs.valuesIterator.filter(_ >= 0).sum
    val failures = secs.valuesIterator.count(_ < 0)
    val walls = runs.map(_._1).mkString("[", ",", "]")
    val loads = runs.map(_._2).mkString("[", ",", "]")
    val probes = runs.map(_._5).mkString("[", ",", "]")
    // In-run contention: repeats run IDENTICAL plans on identical data, so
    // a wall or core-probe spread beyond 25% is host weather. A single
    // repeat can't self-diagnose this way and reports false.
    def spread(xs: Seq[Double]): Double = {
      val pos = xs.filter(_ > 0)
      if (pos.size < 2) 1.0 else pos.max / pos.min
    }
    // repeat 1 pays the per-dir model training, so the wall spread reads
    // repeats 2..N when there are at least three
    val steadyWalls = if (runs.size >= 3) runs.tail.map(_._1) else runs.map(_._1)
    val wallSpread = math.round(spread(steadyWalls) * 100) / 100.0
    val probeSpread = math.round(spread(runs.map(_._5)) * 100) / 100.0
    val contendedDuringRun = wallSpread > 1.25 || probeSpread > 1.25
    val contentionJson =
      s""""contended_pre_session":$contended,"contended_during_run":$contendedDuringRun,""" +
        s""""wall_spread":$wallSpread,"core_probe_spread":$probeSpread,""" +
        s""""contention_note":"contended_pre_session gates on 1-min load before our own executors spin up; contended_during_run flags steady-state (repeat>=2) wall or core-probe spread >1.25x on identical plans - the one-loud-repeat class. UNIFORM host-weather inflation is invisible to every intra-run signal (r14: all repeats +34% with flat probes); compare walls cross-round at matching core_probe_sec, and re-capture on a quiet box before committing when either flag is true.""""
    // A run with ANY failed query has no comparable wall (erroring queries
    // cost ~0 s and read as a phantom speedup): value is null then.
    val headline = if (failures > 0) "null" else wall.toString
    val qsCompact = json(secs)(v => if (v < 0) "-1" else (math.round(v * 1000) / 1000.0).toString)
    val common =
      s""""sf":"$sfDir","threads":$threads,"sum_query_sec":$sumSec,"repeats":$repeats,"walls":$walls,"load_avg_1m":$loads,"core_probe_sec":$probes,"load_note":"per-repeat load_avg_1m samples include this bench's own local[${GraftSession.cpus}] load",$contentionJson,"waited_for_quiet_sec":$waitedSec,"contended":$contended"""
    val summary =
      s"""{"metric":"total","value":$headline,"unit":"sec","n":${secs.size},"failures":$failures,"queries":$qsCompact,$common,"shuffle_read_bytes_total":${tallies.valuesIterator.map(_.shuffleReadBytes).sum},"shuffle_write_bytes_total":${tallies.valuesIterator.map(_.shuffleWriteBytes).sum}}"""
    def perQuery(f: QueryMetrics.Tally => Long): String = json(tallies)(t => f(t).toString)
    val full =
      s"""{"metric":"total","value":$headline,"unit":"sec","queries":${json(secs)(_.toString)},$common,""" +
        s""""shuffle_read_bytes":${perQuery(_.shuffleReadBytes)},"shuffle_write_bytes":${perQuery(_.shuffleWriteBytes)},""" +
        s""""jobs":${perQuery(_.jobs)},"mem_spill_bytes":${perQuery(_.memSpillBytes)},""" +
        s""""disk_spill_bytes":${perQuery(_.diskSpillBytes)},"peak_exec_mem_bytes":${perQuery(_.peakExecMemBytes)},""" +
        s""""build_ms":${json(results)(_.buildMs.toString)},""" +
        s""""phases_ms":${json(results)(r => json(r.phasesMs)(_.toString))},""" +
        s""""peak_heap_mb":${runs.map(_._6).mkString("[", ",", "]")}}"""
    // A SPARK_GRAFT_BENCH_ONLY-filtered run must not clobber the committed
    // full-suite record: targeted runs only write when the caller names an
    // output file.
    val explicitOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY") && explicitOut.isEmpty)
      System.err.println("[bench] filtered run: skipping BENCH_LOCAL.json (set SPARK_GRAFT_BENCH_OUT to persist)")
    else try {
      val out = java.nio.file.Paths.get(explicitOut.getOrElse("BENCH_LOCAL.json"))
      java.nio.file.Files.write(out, (summary + "\n" + full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] could not persist BENCH_LOCAL.json: ${e.getMessage}") }
    spark.stop()
    // the headline goes LAST: consumers parse the final stdout line
    println(summary)
  }
}
