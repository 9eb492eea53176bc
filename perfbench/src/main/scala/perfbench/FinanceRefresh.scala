package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.{col, max}

import graft.finance.{Jobs, JobsMain, Schemas, TableStore}
import graft.finance.serving.{ApiJson, ApiMain}

/** `finance_refresh`: the orchestrator's view. Set-up writes a seeded
  * warehouse's input tables through `TableStore` and builds its models
  * (`Jobs.runAllModels`, the composition of `3_run_all_dbt_models`). The
  * measured cycle: the labelling user validates new transactions through
  * the HTTP API `ApiMain.build` serves (an import of categorised rows, one
  * `bulk-validate`, 16 `categorize` calls, reads that must show them);
  * then two jobs run through `JobsMain.run`, the entry point the
  * orchestrator's processes call: `4_refresh_validated_retrain_repredict`
  * trains and scores; a fresh raw batch is appended (`Jobs.loadRawBatch`),
  * then `2_ingest_and_predict` scores it with the model the retrain saved.
  * After the cycle the derived tables are checked against the ids
  * and categories the seed planted (see [[FinanceGen]]).
  *
  * The jobs run in the harness's JVM, not one JVM per job as deployed: a
  * cold JVM per job costs 30-40 s whatever the data size, more than the
  * benchmark's run budget allows.
  */
object FinanceRefresh {
  val sizes = FinanceGen.Sizes(rawTxns = 1500, batchTxns = 300, historic = 250, validatedInit = 40, validatedNew = 40)

  /** Validations the user sends one by one as `categorize` calls; with one
    * `bulk-validate` and [[Reads]] reads the step makes 23 API calls, so
    * their median has ten samples beyond it. */
  val PointWrites = 16
  val Reads = 6

  /** Check the derived tables against what the seed expects. */
  def checkTables(
      store: TableStore, stage: String, w: FinanceGen.Warehouse,
      survivors: Seq[String], validated: Seq[FinanceGen.UserCat]): Seq[Check] = {
    def ids(t: String, cols: String*): Seq[String] =
      store.read(t).select(cols.map(col): _*).collect().toSeq
        .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|"))
    def same(name: String, actual: Seq[String], expected: Seq[String]): Check = {
      val ok = Digest.ofStrings(actual.iterator) == Digest.ofStrings(expected.iterator)
      Check(s"$stage.$name", ok, s"${actual.size} rows, ${expected.size} expected" +
        (if (ok) "" else s"; e.g. unexpected ${actual.diff(expected).take(3)} missing ${expected.diff(actual).take(3)}"))
    }
    val histMaster = w.historicIds.zip(w.historic.map(_.getString(6)))
    val userIds = validated.map(_.id).toSet
    val uncategorized = survivors.filterNot(userIds)
    val withPreds = store.read("fct_trxns_with_predictions")
    val predictions =
      if (!store.exists("predicted_transactions")) Nil
      else {
        val latest = store.read("predicted_transactions").agg(max("prediction_timestamp")).head().get(0)
        val predicted = store.read("predicted_transactions")
          .filter(col("prediction_timestamp") === latest).count()
        val unpredicted = withPreds.filter(col("predicted_master_category").isNull).count()
        Seq(Check(s"$stage.predictions", predicted == uncategorized.size && unpredicted == 0 &&
          withPreds.count() == uncategorized.size,
          s"latest prediction batch $predicted rows, fct_trxns_with_predictions ${withPreds.count()} rows " +
            s"($unpredicted unpredicted), ${uncategorized.size} uncategorized expected"))
      }
    predictions ++ Seq(
      same("int_trxns_features", ids("int_trxns_features", "transaction_id"), survivors ++ w.historicIds),
      same("fct_trxns_categorized", ids("fct_trxns_categorized", "transaction_id"), w.historicIds),
      same("fct_validated_trxns", ids("fct_validated_trxns", "transaction_id", "master_category"),
        (histMaster ++ validated.map(u => u.id -> u.master)).map { case (i, m) => s"$i|$m" }),
      same("fct_trxns_uncategorized", ids("fct_trxns_uncategorized", "transaction_id"), uncategorized),
      same("fct_trxns_with_predictions", ids("fct_trxns_with_predictions", "transaction_id"), uncategorized))
  }

  /** One API call of the cycle's validation step. */
  final case class Call(route: String, startNs: Long, endNs: Long, ok: Boolean, span: Long) {
    def ms: Double = if (ok) (endNs - startNs) / 1e6 else Stats.FailedMs
  }

  /** One timed step of the cycle, recorded as a span under the cycle. */
  final case class Step(ok: Boolean, startNs: Long, endNs: Long, span: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** `Jobs` methods that `JobsMain.run` composes, by the layer they time. */
  val JobsLayers = Map("runAllModels" -> "finance.models", "trainClassifier" -> "ml.train", "predict" -> "ml.predict")
  private val JobsFrame = """graft\.finance\.Jobs\.(?:\$anonfun\$)?([A-Za-z]+)""".r

  /** Layer of a Spark job from its call site: the outermost
    * `graft.finance.Jobs` frame names the `Jobs` method `JobsMain.run`
    * called; a site with other program frames only is `JobsMain`'s own
    * work; a site without program frames (a broadcast or another helper
    * thread) gives None. */
  def layerOf(site: String): Option[String] =
    JobsFrame.findAllMatchIn(site).map(_.group(1)).toSeq.lastOption
      .map(JobsLayers.getOrElse(_, "finance.other"))
      .orElse(if (site.contains("graft.")) Some("finance.other") else None)

  /** Split a run of `JobsMain.run` into layer segments: its Spark jobs in
    * start order, each labelled by [[layerOf]] or, without a program frame,
    * by the job before it; consecutive jobs of one layer form a segment
    * that lasts until the next segment starts (the last one until `endNs`).
    * Returns (layer, start, end) in epoch nanoseconds. */
  def segments(jobs: Seq[JobRecord], endNs: Long): Seq[(String, Long, Long)] = {
    val labelled = jobs.sortBy(j => (j.startMs, j.id)).foldLeft(List.empty[(String, Long)]) { (acc, j) =>
      val layer = layerOf(j.site).orElse(acc.headOption.map(_._1)).getOrElse("finance.other")
      (layer, j.startMs * 1000000L) :: acc
    }.reverse.toVector
    val starts = labelled.zipWithIndex.collect { case ((l, t), i) if i == 0 || labelled(i - 1)._1 != l => (l, t) }
    starts.zip(starts.drop(1).map(_._2) :+ endNs).map { case ((l, t0), t1) => (l, t0, math.max(t0, t1)) }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    // call sites deep enough to reach JobsMain.run from any Spark job
    if (ctx.trace) System.setProperty("spark.callstack.depth", "1000")
    val st = System.nanoTime()
    val spark = FinanceGen.session(ctx.cpus)
    val sessionS = (System.nanoTime() - st) / 1e9
    val gen = FinanceGen.generate(ctx.seed, sizes)
    val genOk = FinanceGen.fingerprint(FinanceGen.generate(ctx.seed, sizes)) == FinanceGen.fingerprint(gen)
    val wh = ctx.work.resolve("warehouse")
    val store = new TableStore(spark, wh.toString)
    val w0 = System.nanoTime()
    FinanceGen.write(spark, store, gen, withPredictions = false)
    val writeS = (System.nanoTime() - w0) / 1e9
    val jobs = new Jobs(spark, store)
    val tally = new Tally
    val plans = new PlanTimes

    // set-up ends with the warehouse's models built in this process, so the
    // cycle's first job does not also pay their first, cold build
    val m0 = System.nanoTime()
    tr.span("finance.setup")(jobs.runAllModels())
    // the API the labelling user validates through
    val server = ApiMain.build(spark, wh.toString).start()
    val setupS = writeS + (System.nanoTime() - m0) / 1e9
    val base = s"http://127.0.0.1:${server.boundPort}"
    val http = java.net.http.HttpClient.newBuilder().version(java.net.http.HttpClient.Version.HTTP_1_1).build()

    // the measured refresh cycle
    if (ctx.trace) {
      spark.sparkContext.addSparkListener(tally)
      spark.listenerManager.register(plans)
    }
    val cycleRoot = tr.newId()
    val c0 = tr.now()
    /** A step of the cycle: timed, a span under the cycle, its Spark work keyed "cycle". */
    def step(name: String)(body: => Unit): Step = {
      var (id, t0, t1) = (0L, 0L, 0L)
      spark.sparkContext.setLocalProperty(Tally.Prop, "cycle")
      val ok =
        try {
          tr.span(name, parent = cycleRoot, trace = cycleRoot) {
            id = tr.currentId
            t0 = tr.now()
            try body finally t1 = tr.now()
          }
          true
        } catch { case e: Exception => System.err.println(s"[finance] $name FAILED: $e"); false }
        finally spark.sparkContext.setLocalProperty(Tally.Prop, null)
      Step(ok, t0, t1, id)
    }
    def runJob(job: String): Step = step(s"job:$job")(JobsMain.run(spark, wh.toString, job))

    // the user's validations: most arrive as an import of categorised rows
    // and one bulk-validate, the rest as single categorize calls; reads of
    // some of them must show the writes
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    def call(r: ServingMixed.Req): Unit = {
      val t0 = Tracer.nowNs()
      val problem =
        try {
          val (code, body) = ServingMixed.send(http, base, r)
          if (code != 200) Some(s"HTTP $code: ${body.take(200)}") else r.check(ApiJson.parse(body))
        } catch { case e: Exception => Some(e.toString) }
      problem.foreach(p => System.err.println(s"[finance] ${r.route} ${r.path}: $p"))
      val t1 = Tracer.nowNs()
      val id = tr.newId()
      tr.record(Span(id, tr.currentId, cycleRoot, s"request:${r.route}", t0, t1))
      calls += Call(r.route, t0, t1, problem.isEmpty, id)
    }
    val (imported, pointed) = gen.userNew.splitAt(gen.userNew.size - PointWrites)
    val requests =
      Seq(ServingMixed.Req("bulk_validate", "POST", "/api/transactions/bulk-validate",
        Json.obj("transaction_ids" -> imported.map(_.id)), r =>
          if (ServingMixed.field(r, "updated_count") == imported.size.toDouble) None
          else Some(s"expected ${imported.size} updated: $r"))) ++
      pointed.map { u =>
        ServingMixed.Req("categorize", "POST", s"/api/transactions/${ServingMixed.enc(u.id)}/categorize",
          Json.obj("master_category" -> u.master, "validated" -> true), r =>
            if (ServingMixed.field(r, "validated") == true && ServingMixed.field(r, "master_category") == u.master) None
            else Some(s"categorize ${u.id} answered $r"))
      } ++
      (imported.take(Reads / 2) ++ pointed.take(Reads / 2)).map { u =>
        ServingMixed.Req("transactions", "GET",
          s"/api/transactions?view_mode=validated&limit=10&description_search=${ServingMixed.enc(gen.token(u.id))}",
          null, r => ServingMixed.field(r, "transactions") match {
            case rows: List[_] if rows.exists(x => ServingMixed.field(x, "transaction_id") == u.id &&
                ServingMixed.field(x, "uc_master_category") == u.master &&
                ServingMixed.field(x, "uc_validated") == true) => None
            case other => Some(s"${u.id} validated as ${u.master} is not in $other")
          })
      }
    val newValidations = FinanceGen.frame(spark, FinanceGen.userRows(gen.userNew), Schemas.userCategories)
    val validations = step("validations") {
      store.upsert("user_categories", FinanceGen.frame(spark,
        FinanceGen.userRows(imported.map(_.copy(validated = false))), Schemas.userCategories), "transaction_id")
      requests.foreach(call)
    }
    // a call the step never made counts as failed
    val apiOk = calls.map(_.ok).toSeq ++ Seq.fill(requests.size - calls.size)(false)
    val apiMs = calls.map(_.ms).toSeq ++ Seq.fill(requests.size - calls.size)(Stats.FailedMs)
    require(Stats.reportable(apiMs.size, 0.5), s"${apiMs.size} API calls are too few for a median")
    val retrain = runJob("4_refresh_validated_retrain_repredict")
    val validatedAll = gen.userInitial.filter(_.validated) ++ gen.userNew
    val batch = FinanceGen.frame(spark, gen.rawBatch, Schemas.simplefinRaw)
    val load = step("finance.load")(jobs.loadRawBatch(batch))
    val refresh = runJob("2_ingest_and_predict")
    val c1 = tr.now()
    tr.record(Span(cycleRoot, 0L, cycleRoot, "finance.cycle", c0, c1))
    server.stop()
    // planning time of the cycle alone, before the checks plan their queries
    val cyclePlanMs = if (ctx.trace) { tally.drain(spark.sparkContext); plans.totalMs } else 0L
    val afterIngest =
      try checkTables(store, "ingest", gen, gen.survivorsBatch, validatedAll)
      catch { case e: Exception => Seq(Check("ingest.tables", ok = false, s"could not read the outputs: $e")) }

    // job 4's outputs are checked through job 2's: the same validated set,
    // and job 2 scores every transaction job 4 scored with job 4's model
    val ops = apiOk ++ Seq(validations.ok, retrain.ok, load.ok, refresh.ok && afterIngest.forall(_.ok))
    val checks = Check("generator.deterministic", genOk, "same seed gave the same input rows") +: afterIngest

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        tally.drain(spark.sparkContext)
        // the server handles one call at a time: its jobs belong to the call in flight
        def during(j: JobRecord): Option[Call] =
          calls.find(c => c.startNs <= j.startMs * 1000000L && j.startMs * 1000000L <= c.endNs)
        val cycleWork = tally.attribute(j => j.key.orElse(during(j).map(_ => "cycle")))._1.getOrElse("cycle", Work())
        val byCall = tally.attribute(j => during(j).map(_.span.toString))._1
        val callWork = Work.sum(byCall.values)
        val n = calls.size.toDouble
        val pages = calls.filter(_.route == "transactions")
        val pageWork = Work.sum(pages.flatMap(c => byCall.get(c.span.toString)))
        // each finance job's Spark jobs, split by the Jobs method that ran them
        val spent = Seq(retrain, refresh).flatMap { s =>
          val inJob = tally.jobRecords.filter(j => s.startNs <= j.startMs * 1000000L && j.startMs * 1000000L <= s.endNs)
          segments(inJob, s.endNs).map { case (layer, t0, t1) =>
            tr.record(Span(tr.newId(), s.span, cycleRoot, layer, math.max(t0, s.startNs), t1))
            layer -> (t1 - math.max(t0, s.startNs)) / 1e6
          }
        }.groupMapReduce(_._1)(_._2)(_ + _)
        val inputDir = ctx.work.resolve("new-input")
        batch.write.parquet(inputDir.resolve("raw_batch").toString)
        newValidations.write.parquet(inputDir.resolve("validations").toString)
        val inputBytes = dirBytes(inputDir).toDouble
        Layers.executor(cycleWork, 1, ctx.cpus, (c1 - c0) / 1e6) ++ Map(
          "catalyst.plan_ms" -> cyclePlanMs.toDouble,
          "jvm.jit_ms" -> Host.jitMs.toDouble, "jvm.gc_ms" -> Host.gcMs.toDouble,
          "session.start_ms" -> sessionS * 1000,
          "finance.load_ms" -> load.seconds * 1000,
          "finance.models_ms" -> spent.getOrElse("finance.models", 0.0),
          "ml.train_ms" -> spent.getOrElse("ml.train", 0.0),
          "ml.predict_ms" -> spent.getOrElse("ml.predict", 0.0),
          "tablestore.bytes_written" -> cycleWork.outputBytes.toDouble,
          "tablestore.files_written" -> cycleWork.outputFiles.toDouble,
          "tablestore.write_amp" -> cycleWork.outputBytes / inputBytes,
          "serving.spark_jobs_per_request" -> callWork.jobs / n,
          "serving.input_bytes_per_request" -> callWork.inputBytes / n,
          // each read returns the one row it searched for
          "serving.rows_read_per_row_returned" -> pageWork.inputRecords / math.max(1.0, pages.size.toDouble)) ++
          calls.groupBy(_.route).map { case (r, cs) => s"api.$r.p50_ms" -> Stats.percentile(cs.map(_.ms).toSeq, 0.5) }
      }

    // the cycle's wall: its steps, without the harness's bookkeeping
    val cycleS = validations.seconds + retrain.seconds + load.seconds + refresh.seconds
    Outcome(
      attempted = ops.size,
      failed = ops.count(!_),
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", cycleS, "s"),
        Metric("p50_ms", Stats.percentile(apiMs, 0.5), "ms")),
      layers = layers,
      checks = checks,
      record = Map(
        "refresh_s" -> refresh.seconds, "retrain_s" -> retrain.seconds, "setup_write_s" -> writeS,
        "load_s" -> load.seconds, "validations_s" -> validations.seconds, "cycle_s" -> cycleS,
        "api_calls" -> apiMs.size, "api_calls_failed" -> apiOk.count(!_),
        "raw_rows" -> gen.rawInitial.size, "batch_rows" -> gen.rawBatch.size,
        "historic_rows" -> gen.historic.size,
        "host" -> Host.record(spark.version)),
      spans = tr.all)
  }
}
