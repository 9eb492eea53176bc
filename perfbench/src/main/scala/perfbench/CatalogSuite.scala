package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.catalog.Catalog

/** `catalog_suite`: the analyst's view. The committed query list (a fixed
  * stratified sample of `SparkEntry.queries`, see `catalog_expected.tsv`)
  * runs on the committed read-only fixture as a closed loop of `nproc`
  * clients sharing one SparkSession, each client taking the next query as
  * soon as its previous one returns. The seed permutes the submission
  * order of every pass; the data never changes.
  *
  * One unmeasured pass pays JIT and code generation; then passes run back
  * to back until `seconds` have elapsed at a pass boundary, and `wall_s` is
  * their mean wall. Every result, the warm-up's too, is collected and its
  * exact digest compared with the committed one; a mismatch or an error
  * fails that query.
  */
object CatalogSuite {

  final case class Expected(name: String, digest: String)

  /** Queries of the list that take several times the median at 4 cores. */
  val HeavyTail: Set[String] = Set("d13", "g6", "s12", "t16")

  def expectedFile(ctx: Ctx): Path = ctx.benchDir.resolve("catalog_expected.tsv")
  def fixture(checkout: Path): String = checkout.resolve("perfbench/fixture/sf0.001").toString

  def readExpected(f: Path): Seq[Expected] =
    Files.readAllLines(f, UTF_8).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); Expected(n, d) }

  def family(name: String): String = name.takeWhile(_.isLetter)

  /** A session as the catalog's entry points build it: the library's
    * builder, one local slot per core, FAIR pools for concurrent clients. */
  def session(cpus: Int): SparkSession = {
    val s = GraftSession.builder("perfbench-catalog", shufflePartitions = cpus)
      .master(s"local[$cpus]")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session start, catalog initialisation and the first schema read: the
    * set-up an analyst's fresh process pays before its first query. */
  def setUp(cpus: Int, dir: String): SparkSession = {
    val s = session(cpus)
    Catalog.queries.size
    graft.io.Tables(s, dir, "lineitem").schema
    s
  }

  /** One cold [[setUp]] in a fresh JVM started with this JVM's own command
    * line (`Main setup`), so the catalog, the schema memo and the JIT start
    * empty; returns the set-up's seconds as that JVM measured them. */
  def coldSetUp(ctx: Ctx, i: Int): Double = {
    val cmd = Seq(ProcessHandle.current().info().command().get()) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", sys.props("java.class.path"), "perfbench.Main", "setup", ctx.checkout.toString, ctx.cpus.toString)
    val log = ctx.work.resolve(s"setup-$i.log")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile).start()
    if (!p.waitFor(90, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      sys.error(s"cold set-up $i did not finish in 90 s; see $log")
    }
    val last = Files.readAllLines(log, UTF_8).asScala.reverse.find(_.startsWith("setup_s "))
    require(p.exitValue() == 0 && last.isDefined, s"cold set-up $i exited ${p.exitValue()}; see $log")
    last.get.stripPrefix("setup_s ").toDouble
  }

  final case class Sample(query: String, pass: Int, startNs: Long, endNs: Long, ok: Boolean, spanId: Long) {
    def ms: Double = if (ok) (endNs - startNs) / 1e6 else Stats.FailedMs
  }

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val dir = fixture(ctx.checkout)
    // set-up, cold three times: this run's own first, then two in fresh JVMs
    val t0 = System.nanoTime()
    val spark = tr.span("setup")(setUp(ctx.cpus, dir))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val setups = sessionS +: (1 to 2).map(coldSetUp(ctx, _))

    val expected = readExpected(expectedFile(ctx))
    val fns = Catalog.queries
    val missing = expected.map(_.name).filterNot(fns.contains)
    require(missing.isEmpty, s"queries in catalog_expected.tsv that the catalog lacks: ${missing.mkString(", ")}")
    val sc = spark.sparkContext
    val rng = new scala.util.Random(ctx.seed)
    // the heavy tail goes first, so a pass does not end on one straggler;
    // the seed permutes the order within each tier
    val (heavy, light) = expected.partition(e => HeavyTail.contains(e.name.takeWhile(_ != '_')))
    def order(): IndexedSeq[Expected] = (rng.shuffle(heavy) ++ rng.shuffle(light)).toIndexedSeq

    val tally = new Tally
    val plans = new PlanTimes
    val buildNs = new AtomicLong(0)

    /** Closed loop of `cpus` clients over passes of the query list; stops
      * claiming at the first pass boundary after `minSeconds`. Returns the
      * samples and the loop's wall. */
    def loop(minSeconds: Double, traced: Boolean, root: Long): (Seq[Sample], Double) = {
      val passes = new java.util.concurrent.CopyOnWriteArrayList[IndexedSeq[Expected]]()
      passes.add(order())
      val n = expected.size
      val cursor = new AtomicLong(0)
      @volatile var stopAt = Long.MaxValue
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val t0 = System.nanoTime()
      def claim(): Option[(Int, Expected)] = cursor.synchronized {
        val i = cursor.get()
        if (i >= stopAt) None
        else {
          if (i > 0 && i % n == 0 && (System.nanoTime() - t0) / 1e9 >= minSeconds) {
            stopAt = i; None
          } else {
            cursor.incrementAndGet()
            val p = (i / n).toInt
            while (passes.size <= p) passes.add(order())
            Some((p, passes.get(p)((i % n).toInt)))
          }
        }
      }
      val clients = (0 until ctx.cpus).map { c =>
        new Thread(() => {
          sc.setLocalProperty("spark.scheduler.pool", s"client$c")
          tr.span(s"client.$c", parent = root, trace = root) {
            var next = claim()
            while (next.isDefined) {
              val (p, q) = next.get
              val qid = tr.newId()
              val t = tr.now()
              val ok = try {
                if (traced) sc.setLocalProperty(Tally.Prop, s"$qid:${q.name}")
                val df = tr.span("catalog.build", parent = qid, trace = qid) {
                  val b0 = System.nanoTime()
                  try fns(q.name)(spark, dir) finally buildNs.addAndGet(System.nanoTime() - b0)
                }
                val d = tr.span("execute", parent = qid, trace = qid)(Digest.ofFrame(df))
                if (d != q.digest) System.err.println(s"[catalog] ${q.name}: digest $d != expected ${q.digest}")
                d == q.digest
              } catch { case e: Throwable =>
                System.err.println(s"[catalog] ${q.name} FAILED: $e"); false
              } finally if (traced) sc.setLocalProperty(Tally.Prop, null)
              val end = tr.now()
              tr.record(Span(qid, tr.currentId, qid, s"query:${q.name}", t, end))
              samples.add(Sample(q.name, p, t, end, ok, qid))
              next = claim()
            }
          }
        }, s"perfbench-client-$c")
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      (samples.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val (warm, warmS) = loop(0, traced = false, root = 0L)
    if (ctx.trace) {
      tally.drain(sc)
      sc.addSparkListener(tally)
      spark.listenerManager.register(plans)
      buildNs.set(0)
    }
    val rootId = tr.newId()
    val w0 = tr.now()
    val (samples, wall) = loop(ctx.seconds, ctx.trace, rootId)
    val w1 = tr.now()
    tr.record(Span(rootId, 0L, rootId, "catalog.passes", w0, w1))
    if (ctx.trace) tally.drain(sc)
    val passes = samples.map(_.pass).max + 1
    val lat = samples.map(_.ms)
    val failed = samples.count(!_.ok) + warm.count(!_.ok)

    val layers: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        val names = samples.map(s => s.spanId.toString -> s.query).toMap
        val (byQuery, _) = tally.attribute(_.key.map(_.takeWhile(_ != ':')))
        val perFamily = byQuery.toSeq.groupBy { case (k, _) => family(names.getOrElse(k, "")) }
          .map { case (f, ws) => s"catalog.$f.run_ms" -> Work.sum(ws.map(_._2)).runMs / passes.toDouble }
        val allWork = tally.total
        // spans for every attributed Spark job, under its query
        tally.jobRecords.foreach { j =>
          j.key.foreach { k =>
            val qid = k.takeWhile(_ != ':').toLong
            tr.record(Span(tr.newId(), qid, qid, s"spark.job.${j.id}", j.startMs * 1000000L,
              math.max(j.startMs, j.endMs) * 1000000L))
          }
        }
        Layers.executor(allWork, passes, ctx.cpus, wall * 1000) ++ perFamily ++ Map(
          "catalog.build_ms" -> buildNs.get / 1e6 / passes,
          "catalyst.plan_ms" -> plans.totalMs / passes.toDouble,
          "jvm.jit_ms" -> Host.jitMs.toDouble, "jvm.gc_ms" -> Host.gcMs.toDouble,
          "session.start_ms" -> sessionS * 1000)
      }

    val p90 = if (Stats.reportable(lat.size, 0.9)) Some(Stats.percentile(lat, 0.9)) else None
    Outcome(
      attempted = samples.size + warm.size,
      failed = failed,
      endToEnd = Seq(
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("wall_s", wall / passes, "s"),
        Metric("p50_ms", Stats.percentile(lat, 0.5), "ms")),
      layers = layers,
      checks = Seq(Check("catalog.digests", failed == 0,
        s"${samples.size + warm.size - failed}/${samples.size + warm.size} results match catalog_expected.tsv")),
      record = Map(
        "queries" -> expected.size, "passes" -> passes, "samples" -> lat.size,
        "warmup_pass_s" -> warmS, "measured_s" -> wall, "setups_s" -> setups,
        "query_p90_ms" -> p90, "query_p90_note" -> s"reported when >= ${Stats.MinBeyond} samples lie beyond it",
        "host" -> Host.record(spark.version)),
      spans = tr.all)
  }

  /** Run every query of the catalog once on the fixture and write the
    * digests of those named in `names` (all when empty) to `out`. */
  def recordExpected(checkout: Path, names: Seq[String], out: Path): Unit = {
    val spark = session(Host.nproc)
    val dir = fixture(checkout)
    val chosen = if (names.isEmpty) Catalog.queries.keys.toSeq.sorted else names
    val lines = chosen.map(n => s"$n\t${Digest.ofFrame(Catalog.queries(n)(spark, dir))}")
    Files.write(out, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    stop(spark)
  }
}
