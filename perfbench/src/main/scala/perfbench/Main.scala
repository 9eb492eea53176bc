package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

final case class Metric(name: String, value: Double, unit: String)
final case class Check(name: String, ok: Boolean, detail: String)

/** What one workload run measured. `layers` maps per-layer metric names
  * (see [[Layers]]) to values; names a workload does not exercise read 0. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Seq[Metric],
    layers: Map[String, Double],
    checks: Seq[Check],
    record: Map[String, Any],
    spans: Seq[Span] = Nil)

/** Everything a workload needs to know about the run. */
final case class Ctx(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    checkout: Path, work: Path, cpus: Int) {
  val tracer = new Tracer(trace)
  def benchDir: Path = checkout.resolve("perfbench")
}

/** Per-layer metrics of the traced run, with their units. */
object Layers {
  val families: Seq[String] = Seq(
    "a", "b", "c", "d", "dq", "e", "f", "g", "i", "j", "k", "m", "mm", "o", "p", "q", "s", "t", "v", "w", "x")

  val routes: Seq[String] = Seq(
    "transactions", "categorize", "validate", "notes", "bulk_validate",
    "validated_transactions", "categories_list", "connections")

  val all: Seq[(String, String)] =
    Seq("catalog.build_ms" -> "ms", "catalyst.plan_ms" -> "ms",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.gc_ms" -> "ms",
      "scheduler.delay_ms" -> "ms", "shuffle.read_bytes" -> "bytes",
      "shuffle.write_bytes" -> "bytes", "spill.disk_bytes" -> "bytes",
      "input.bytes" -> "bytes", "slots.busy_ratio" -> "ratio") ++
      families.map(f => s"catalog.$f.run_ms" -> "ms") ++
      Seq("jvm.jit_ms" -> "ms", "jvm.gc_ms" -> "ms", "session.start_ms" -> "ms",
        "finance.load_ms" -> "ms", "finance.models_ms" -> "ms",
        "tablestore.bytes_written" -> "bytes", "tablestore.files_written" -> "count",
        "tablestore.write_amp" -> "ratio", "ml.train_ms" -> "ms", "ml.predict_ms" -> "ms") ++
      routes.map(r => s"api.$r.p50_ms" -> "ms") ++
      Seq("serving.spark_jobs_per_request" -> "count",
        "serving.input_bytes_per_request" -> "bytes",
        "serving.rows_read_per_row_returned" -> "ratio")

  /** Executor-layer metrics from listener work, scaled by `per`. */
  def executor(w: Work, per: Double, slots: Int, windowMs: Double): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs / per, "spark.stages" -> w.stages / per, "spark.tasks" -> w.tasks / per,
    "executor.run_ms" -> w.runMs / per, "executor.cpu_ms" -> w.cpuNs / 1e6 / per,
    "executor.gc_ms" -> w.gcMs / per, "scheduler.delay_ms" -> w.schedulerDelayMs / per,
    "shuffle.read_bytes" -> w.shuffleReadBytes / per,
    "shuffle.write_bytes" -> w.shuffleWriteBytes / per,
    "spill.disk_bytes" -> w.spillDiskBytes / per, "input.bytes" -> w.inputBytes / per,
    "slots.busy_ratio" -> (if (windowMs > 0) w.taskMs / (slots * windowMs) else 0.0))
}

/** Runs one workload and writes its result record.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <checkout> <workDir>`
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "catalog_suite" -> CatalogSuite.run,
    "finance_refresh" -> FinanceRefresh.run,
    "serving_mixed" -> ServingMixed.run)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("record-expected")) {
      // record-expected <checkout> <out.tsv> [query,...]
      CatalogSuite.recordExpected(Paths.get(args(1)).toAbsolutePath,
        args.lift(3).map(_.split(",").toSeq).getOrElse(Nil), Paths.get(args(2)))
      System.exit(0)
    }
    if (args.headOption.contains("setup")) {
      // setup <checkout> <cpus>: one cold catalog set-up, its seconds on stdout
      val t0 = System.nanoTime()
      val s = CatalogSuite.setUp(args(2).toInt, CatalogSuite.fixture(Paths.get(args(1)).toAbsolutePath))
      println(s"setup_s ${(System.nanoTime() - t0) / 1e9}")
      CatalogSuite.stop(s)
      System.exit(0)
    }
    val Array(workload, seed, seconds, trace, checkout, work) = args
    val run = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (known: ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val ctx = Ctx(workload, seed.toLong, seconds.toInt, trace == "1",
      Paths.get(checkout).toAbsolutePath, Paths.get(work).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
    Files.createDirectories(ctx.work)
    val t0 = System.nanoTime()
    val out = run(ctx)
    val wallS = (System.nanoTime() - t0) / 1e9
    write(ctx, out, wallS)
    // Spark leaves non-daemon threads behind; the record is written
    System.exit(0)
  }

  private def write(ctx: Ctx, out: Outcome, wallS: Double): Unit = {
    val metrics =
      if (ctx.trace) Layers.all.map { case (n, u) => Metric(n, out.layers.getOrElse(n, 0.0), u) }
      else out.endToEnd
    val traced: Map[String, Any] =
      if (!ctx.trace) Map.empty
      else {
        val self = Tracer.selfTimes(out.spans)
        val f = ctx.work.resolve("spans.json")
        Files.write(f, Tracer.toJson(out.spans, self).getBytes(UTF_8))
        // the blocking path under each root span: its self times must add
        // up to the root's wall
        val roots = out.spans.filter(_.parent == 0L).filter(r => out.spans.exists(_.parent == r.id))
        Map(
          "spans_file" -> f.toString,
          "spans" -> out.spans.size,
          "end_to_end_traced" -> out.endToEnd.map(m => m.name -> m.value).toMap,
          "blocking_paths" -> roots.map { r =>
            val path = Tracer.blockingPath(out.spans, r)
            Map("root" -> r.name, "root_s" -> r.durationNs / 1e9,
              "self_sum_s" -> path.map(s => self(s.id)).sum / 1e9, "spans_on_path" -> path.size)
          })
      }
    val record = Json.obj(
      "correct" -> (out.failed == 0 && out.checks.forall(_.ok)),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(metrics.map(m =>
        Json.str(m.name) + ":" + Json.obj("value" -> m.value, "unit" -> m.unit)).mkString("{", ",", "}")),
      "checks" -> Json.Raw(out.checks.map(c =>
        Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)).mkString("[", ",", "]")),
      "record" -> (out.record ++ traced ++ Map("harness_wall_s" -> wallS)))
    Files.write(ctx.work.resolve("result.json"), record.getBytes(UTF_8))
  }
}
