package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import graft.finance.{Jobs, TableStore}
import graft.finance.serving.{ApiJson, ApiMain}

/** `serving_mixed`: the labelling user's view. `ApiMain.build` serves a
  * seeded warehouse (models built at set-up, predictions stored by the
  * generator) from a session configured as `ApiMain.main` configures it.
  * A closed loop of `nproc` clients each runs labelling sessions of six
  * requests: a page of `GET /api/transactions` (view mode, sort, order,
  * offset and search drawn from the seed); `categorize` on a recent
  * transaction of the client's own share and a read that must show it;
  * `validate` (even sessions) or `notes` (odd ones) on one of the client's
  * rows and a read that must show it; then one of `validated-transactions`,
  * `categories/list`, `connections` or `bulk-validate`, rotating by client
  * and session.
  *
  * Clients write disjoint transactions, so each client's acknowledged
  * writes, applied in order, predict its rows exactly; at the end the
  * stored `user_categories` must equal the initial rows plus those.
  */
object ServingMixed {
  val sizes = FinanceGen.Sizes(rawTxns = 3000, batchTxns = 0, historic = 250, validatedInit = 100, validatedNew = 0)

  /** Requests every run serves at least (ten beyond the median need 20);
    * `wall_s` is the wall to serve this many. */
  val MinRequests = 28

  /** The expected state of one user_categories row. */
  final case class Uc(master: String, notes: String, validated: Boolean)

  /** One request the client sends, with the check its response must pass. */
  final case class Req(route: String, method: String, path: String, body: String, check: Any => Option[String]) {
    def isWrite: Boolean = method != "GET"
  }

  final case class Sample(client: Int, session: Int, route: String, write: Boolean,
      sendNs: Long, recvNs: Long, ok: Boolean, rows: Int, spanId: Long) {
    def ms: Double = if (ok) (recvNs - sendNs) / 1e6 else Stats.FailedMs
  }

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def field(m: Any, k: String): Any = m match {
    case o: Map[_, _] => o.asInstanceOf[Map[String, Any]].get(k).orNull
    case _ => null
  }

  /** Seeded request stream of one client over its own transactions
    * (`pool`, most recent first). `model` is the client's expected rows. */
  final class Client(seed: Long, pool: IndexedSeq[(String, String)], labels: IndexedSeq[String],
      words: IndexedSeq[String]) {
    val model = scala.collection.mutable.LinkedHashMap.empty[String, Uc]
    private val rng = new scala.util.Random(seed)
    private def recent(): (String, String) = pool((pool.size * math.pow(rng.nextDouble(), 2)).toInt)

    /** The read that must show `id`'s row as `model` has it. */
    private def verify(id: String, token: String): Req =
      Req("transactions", "GET",
        s"/api/transactions?view_mode=all&limit=10&description_search=${enc(token)}", null, { resp =>
          val want = model(id)
          field(resp, "transactions").asInstanceOf[List[Any]].find(r => field(r, "transaction_id") == id) match {
            case None => Some(s"$id not in its search page")
            case Some(r) =>
              val got = Uc(field(r, "uc_master_category").asInstanceOf[String],
                field(r, "uc_notes").asInstanceOf[String], field(r, "uc_validated") == true)
              if (got == want) None else Some(s"$id reads $got, acknowledged $want")
          }
        })

    private def page(): Req = {
      val mode = Seq("unvalidated_predicted", "unvalidated_unpredicted", "validated", "all")(rng.nextInt(4))
      val sort = if (rng.nextInt(3) == 0) "prediction_confidence" else "transacted_date"
      val order = if (rng.nextBoolean()) "desc" else "asc"
      val offset = Seq(0, 0, 0, 50, 100)(rng.nextInt(5))
      val search = if (rng.nextInt(4) == 0) s"&description_search=${enc(words(rng.nextInt(words.size)))}" else ""
      Req("transactions", "GET",
        s"/api/transactions?view_mode=$mode&sort_by=$sort&sort_order=$order&limit=50&offset=$offset$search",
        null, r => if (field(r, "transactions").isInstanceOf[List[_]]) None else Some("no transactions list"))
    }

    private val tokens = scala.collection.mutable.Map.empty[String, String]

    private def categorize(): Seq[() => Req] = {
      val (id, token) = recent()
      tokens(id) = token
      val master = labels(rng.nextInt(labels.size))
      val notes = if (rng.nextInt(3) == 0) s"seen ${rng.nextInt(1000)}" else null
      Seq(() => {
        val before = model.get(id)
        val after = Uc(master, Option(notes).orElse(before.map(_.notes)).orNull, before.exists(_.validated))
        model(id) = after
        Req("categorize", "POST", s"/api/transactions/${enc(id)}/categorize",
          Json.obj("master_category" -> master, "notes" -> notes), r =>
            if (field(r, "master_category") == master && field(r, "validated") == after.validated) None
            else Some(s"categorize $id answered $r"))
      }, () => verify(id, token))
    }

    /** `validate` or `notes` on one of the client's rows, then its read. */
    private def edit(validate: Boolean): Seq[() => Req] = {
      val pick = rng.nextDouble()
      val v = rng.nextInt(3) != 0
      val text = s"note ${rng.nextInt(10000)}"
      var id: String = null
      Seq(() => {
        id = model.keys.toIndexedSeq((pick * model.size).toInt)
        if (validate) {
          model(id) = model(id).copy(validated = v)
          Req("validate", "PUT", s"/api/transactions/${enc(id)}/validate", Json.obj("validated" -> v),
            r => if (field(r, "validated") == v) None else Some(s"validate $id answered $r"))
        } else {
          model(id) = model(id).copy(notes = text)
          Req("notes", "PUT", s"/api/transactions/${enc(id)}/notes", Json.obj("notes" -> text),
            r => if (field(r, "notes") == text) None else Some(s"notes $id answered $r"))
        }
      }, () => verify(id, tokens(id)))
    }

    private def occasional(kind: Int): () => Req = {
      val offset = Seq(0, 50)(rng.nextInt(2))
      val order = if (rng.nextBoolean()) "asc" else "desc"
      val pick = rng.nextDouble()
      kind match {
        case 0 => () => Req("validated_transactions", "GET",
          s"/api/validated-transactions?limit=50&offset=$offset&sort_order=$order",
          null, r => if (field(r, "total_count") != null) None else Some("no total_count"))
        case 1 => () => Req("categories_list", "GET", "/api/transactions/categories/list", null,
          r => if (r.isInstanceOf[List[_]]) None else Some("not a list"))
        case 2 => () => Req("connections", "GET", "/api/control-center/connections", null,
          r => if (field(r, "connections").isInstanceOf[List[_]]) None else Some("no connections"))
        case _ => () => {
          val keys = model.keys.toIndexedSeq
          val ids = Seq(keys((pick * keys.size).toInt), keys.last).distinct
          val flips = ids.count(i => !model(i).validated)
          ids.foreach(i => model(i) = model(i).copy(validated = true))
          Req("bulk_validate", "POST", "/api/transactions/bulk-validate", Json.obj("transaction_ids" -> ids),
            r => if (field(r, "updated_count") == flips.toDouble) None else Some(s"bulk-validate expected $flips: $r"))
        }
      }
    }

    /** Session `k` of client `c`: the kinds of request sit at fixed places,
      * so every seed sends the same mix; the seed draws their parameters
      * (page, transactions, categories, values). Steps are built lazily, in
      * order, so each check sees the model as of its own request. */
    def session(c: Int, k: Int): Seq[() => Req] = {
      val first = page()
      Seq(() => first) ++ categorize() ++ edit(validate = k % 2 == 0) :+ occasional((c + k) % 4)
    }
  }

  def send(http: HttpClient, base: String, r: Req): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + r.path)).timeout(Duration.ofMillis(Stats.FailedMs.toLong))
    val req =
      if (r.method == "GET") b.GET().build()
      else b.header("Content-Type", "application/json")
        .method(r.method, HttpRequest.BodyPublishers.ofString(r.body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val st = System.nanoTime()
    val spark = FinanceGen.session(ctx.cpus)
    val sessionS = (System.nanoTime() - st) / 1e9
    val gen = FinanceGen.generate(ctx.seed, sizes)
    val genOk = FinanceGen.fingerprint(FinanceGen.generate(ctx.seed, sizes)) == FinanceGen.fingerprint(gen)
    val wh = ctx.work.resolve("warehouse").toString
    val store = new TableStore(spark, wh)
    FinanceGen.write(spark, store, gen, withPredictions = true)
    new Jobs(spark, store).runAllModels()

    // set-up, three times: build the server, start it, serve the first page
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    var server: graft.finance.serving.ApiServer = null
    val setups = (1 to 3).map { i =>
      if (server != null) server.stop()
      val t0 = System.nanoTime()
      server = ApiMain.build(spark, wh).start()
      val (code, _) = send(http, s"http://127.0.0.1:${server.boundPort}",
        Req("transactions", "GET", "/api/transactions", null, _ => None))
      require(code == 200, s"first page answered $code")
      (System.nanoTime() - t0) / 1e9
    }
    val base = s"http://127.0.0.1:${server.boundPort}"

    // each client labels its own share of the unvalidated transactions
    val initialIds = gen.userInitial.map(_.id).toSet
    val open = gen.survivorsInit.filterNot(initialIds)
      .sortBy(id => (-gen.truth(id)._1.toEpochDay, id))
      .map(id => id -> gen.token(id)).toIndexedSeq
    val labels = FinanceGen.categories.map(_._1)
    val words = FinanceGen.categories.flatMap(_._2).map(_.split(" ").head.toLowerCase)
    val clients = (0 until ctx.cpus).map { c =>
      new Client(ctx.seed * 1000003L + c, open.zipWithIndex.collect { case (x, i) if i % ctx.cpus == c => x },
        labels, words)
    }

    val tally = new Tally
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val completed = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()

    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var minServedNs = 0L
    /** Run client `c`'s sessions until `done()`, checked between requests. */
    def drive(c: Int, done: () => Boolean, root: Long): Unit = {
      val clientHttp = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      tr.span(s"client.$c", parent = root, trace = root) {
        var s = 0
        while (!done()) {
          val sid = tr.newId()
          val s0 = tr.now()
          val steps = clients(c).session(c, s).iterator
          // stop at the deadline between requests; a cut session is not a sample of session walls
          while (steps.hasNext && !done()) {
            val r = steps.next()()
            val rid = tr.newId()
            val t0 = tr.now()
            val (ok, rows) =
              try {
                val (code, body) = send(clientHttp, base, r)
                val parsed = if (code == 200) ApiJson.parse(body) else null
                val problem = if (code != 200) Some(s"HTTP $code: ${body.take(200)}") else r.check(parsed)
                problem.foreach(p => failures.add(s"${r.route} ${r.path}: $p"))
                val n = Option(field(parsed, "transactions")).collect { case l: List[_] => l.size }.getOrElse(0)
                (problem.isEmpty, n)
              } catch { case e: Exception => failures.add(s"${r.route} ${r.path}: $e"); (false, 0) }
            val t1 = tr.now()
            tr.record(Span(rid, sid, sid, s"request:${r.route}", t0, t1))
            samples.add(Sample(c, s, r.route, r.isWrite, t0, t1, ok, rows, rid))
            if (served.incrementAndGet() == MinRequests) minServedNs = t1
          }
          tr.record(Span(sid, tr.currentId, sid, "session", s0, tr.now()))
          if (!steps.hasNext) completed.add((c, s))
          s += 1
        }
      }
    }

    if (ctx.trace) {
      tally.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(tally)
    }
    val rootId = tr.newId()
    val w0 = tr.now()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val done = () => System.nanoTime() >= deadline && served.get >= MinRequests
    val threads = (0 until ctx.cpus).map { c =>
      new Thread(() => drive(c, done, rootId), s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val w1 = tr.now()
    tr.record(Span(rootId, 0L, rootId, "serving.window", w0, w1))
    val windowS = (w1 - w0) / 1e9
    server.stop()

    // final state: the initial rows plus every client's acknowledged writes
    val expected = gen.userInitial.map(u => u.id -> Uc(u.master, u.notes, u.validated)) ++
      clients.flatMap(_.model)
    val stored = store.read("user_categories").select("transaction_id", "master_category", "notes", "validated")
      .collect().map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").toSeq
    val want = expected.map { case (id, u) => s"$id|${u.master}|${u.notes}|${u.validated}" }
    val finalOk = Digest.ofStrings(stored.iterator) == Digest.ofStrings(want.iterator)

    val all = samples.asScala.toSeq
    val lat = all.map(_.ms)
    val reads = all.filterNot(_.write).map(_.ms)
    val writes = all.filter(_.write).map(_.ms)
    def pct(xs: Seq[Double], p: Double): Option[Double] =
      if (Stats.reportable(xs.size, p)) Some(Stats.percentile(xs, p)) else None
    val sessionWalls = all.groupBy(s => (s.client, s.session)).filter(kv => completed.contains(kv._1)).values
      .map(ss => (ss.map(_.recvNs).max - ss.map(_.sendNs).min) / 1e9).toSeq
    val failed = all.count(!_.ok)

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        tally.drain(spark.sparkContext)
        // the server handles one request at a time: a Spark job belongs to
        // the request whose response came first after the job started
        val byRecv = all.sortBy(_.recvNs)
        val recvs = byRecv.map(_.recvNs).toArray
        def owner(startMs: Long): Option[Sample] = {
          val t = startMs * 1000000L
          val i = java.util.Arrays.binarySearch(recvs, t) match { case k if k >= 0 => k; case k => -k - 1 }
          byRecv.lift(i).filter(_.sendNs <= t + 1000000L)
        }
        val (byReq, _) = tally.attribute(j => owner(j.startMs).map(_.spanId.toString))
        tally.jobRecords.foreach(j => owner(j.startMs).foreach(s =>
          tr.record(Span(tr.newId(), s.spanId, s.spanId, s"spark.job.${j.id}",
            j.startMs * 1000000L, math.max(j.startMs, j.endMs) * 1000000L))))
        val n = all.size.toDouble
        val work = Work.sum(byReq.values)
        val pageReqs = all.filter(_.route == "transactions")
        val pageWork = Work.sum(pageReqs.flatMap(s => byReq.get(s.spanId.toString)))
        val writeWork = Work.sum(all.filter(_.write).flatMap(s => byReq.get(s.spanId.toString)))
        val nWrites = math.max(1, all.count(_.write)).toDouble
        Layers.executor(work, n, ctx.cpus, windowS * 1000) ++
          Layers.routes.map { r =>
            val xs = all.filter(_.route == r).map(_.ms)
            s"api.$r.p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.percentile(xs, 0.5))
          } ++ Map(
          "serving.spark_jobs_per_request" -> work.jobs / n,
          "serving.input_bytes_per_request" -> work.inputBytes / n,
          "serving.rows_read_per_row_returned" ->
            pageWork.inputRecords / math.max(1.0, pageReqs.map(_.rows).sum.toDouble),
          "tablestore.bytes_written" -> writeWork.outputBytes / nWrites,
          "tablestore.files_written" -> writeWork.outputFiles / nWrites,
          "jvm.jit_ms" -> Host.jitMs.toDouble, "jvm.gc_ms" -> Host.gcMs.toDouble,
          "session.start_ms" -> sessionS * 1000)
      }

    Outcome(
      attempted = all.size,
      failed = failed,
      endToEnd = Seq(
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("wall_s", (minServedNs - w0) / 1e9, "s"),
        Metric("p50_ms", Stats.percentile(lat, 0.5), "ms")),
      layers = layers,
      checks = Seq(
        Check("generator.deterministic", genOk, "same seed gave the same input rows"),
        Check("serving.responses", failed == 0,
          s"${all.size - failed}/${all.size} responses passed their checks" +
            failures.asScala.take(3).mkString("; ", "; ", "")),
        Check("serving.user_categories", finalOk,
          s"${stored.size} stored rows, ${want.size} expected from the acknowledged writes")),
      record = Map(
        "requests" -> all.size, "reads" -> reads.size, "writes" -> writes.size,
        "sessions_completed" -> sessionWalls.size,
        "session_wall_median_s" -> (if (sessionWalls.isEmpty) None else Some(Stats.median(sessionWalls))),
        "window_s" -> windowS,
        "requests_per_s" -> all.size / windowS,
        "read_p50_ms" -> pct(reads, 0.5), "read_p90_ms" -> pct(reads, 0.9),
        "write_p50_ms" -> pct(writes, 0.5), "write_p90_ms" -> pct(writes, 0.9),
        "setups_s" -> setups, "transactions_served" -> open.size,
        "host" -> Host.record(spark.version)),
      spans = tr.all)
  }
}
