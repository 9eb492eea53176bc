package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a percentile is reportable only with ten samples beyond it") {
    assert(!Stats.reportable(19, 0.5) && Stats.reportable(20, 0.5))
    assert(!Stats.reportable(99, 0.9) && Stats.reportable(100, 0.9))
    assert(!Stats.reportable(199, 0.95) && Stats.reportable(200, 0.95))
    assert(!Stats.reportable(0, 0.5))
    assert(Stats.beyond(100, 0.9) == 10)
  }

  test("nearest-rank percentiles, and a failed sample never reads fast") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
    val withFailure = xs.tail :+ Stats.FailedMs
    assert(Stats.percentile(withFailure, 0.5) >= Stats.percentile(xs, 0.5))
    assert(Stats.percentile(withFailure, 1.0) == Stats.FailedMs)
  }

  test("the digest ignores row and column order but sees every value and duplicate") {
    val rows = Seq(Row("a", 1L, 0.1), Row("b", 2L, 0.2), Row("c", null, 0.3))
    val d = Digest.ofRows(Seq("s", "n", "x"), rows.iterator)
    assert(Digest.ofRows(Seq("s", "n", "x"), rows.reverse.iterator) == d)
    val swapped = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(Digest.ofRows(Seq("x", "s", "n"), swapped.iterator) == d)
    assert(Digest.ofRows(Seq("s", "n", "x"), (rows :+ rows.head).iterator) != d)
    assert(Digest.ofRows(Seq("s", "n", "x"), Seq(Row("a", 1L, 0.1 + 0.2 - 0.2)).iterator) !=
      Digest.ofRows(Seq("s", "n", "x"), Seq(Row("a", 1L, 0.1)).iterator))
    assert(Digest.ofRows(Seq("s", "n", "x"), rows.take(2).iterator) != d)
  }

  test("the digest of a result does not depend on its partitioning") {
    val df = spark.range(0, 500).select(
      (col("id") % 7).as("k"), (col("id") * 1.5).as("v"), col("id").cast("string").as("s"))
    val d = Digest.ofFrame(df)
    assert(Digest.ofFrame(df.repartition(1)) == d)
    assert(Digest.ofFrame(df.repartition(7, col("k"))) == d)
    assert(Digest.ofFrame(df.orderBy(col("v").desc)) == d)
    assert(Digest.ofFrame(df.filter(col("k") =!= 3)) != d)
  }

  test("the generator gives identical rows for one seed and different rows for another") {
    val sizes = FinanceGen.Sizes(rawTxns = 300, batchTxns = 60, historic = 50, validatedInit = 10, validatedNew = 10)
    val a = FinanceGen.generate(7, sizes)
    assert(FinanceGen.fingerprint(FinanceGen.generate(7, sizes)) == FinanceGen.fingerprint(a))
    assert(FinanceGen.fingerprint(FinanceGen.generate(8, sizes)) != FinanceGen.fingerprint(a))
    // re-imports and reconnections leave one survivor per logical transaction
    assert(a.survivorsInit.distinct.size == a.survivorsInit.size)
    assert(a.survivorsInit.size == sizes.rawTxns + sizes.rawTxns / 50)
    assert(a.survivorsBatch.size == a.survivorsInit.size + sizes.batchTxns)
    assert(a.historicIds.distinct.size == a.historic.size)
  }

  test("listener totals equal the attributed work plus the unattributed rest") {
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    try {
      val threads = Seq("a", "b", null).map { key =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty(Tally.Prop, key)
          spark.range(0, 2000).groupBy((col("id") % 10).as("k")).count().collect()
          spark.range(0, 100).count()
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      tally.drain(spark.sparkContext)
      val (byKey, rest) = tally.attribute(_.key)
      assert(byKey.keySet == Set("a", "b"))
      assert(Work.sum(byKey.values) + rest == tally.total)
      assert(rest.jobs >= 2 && byKey("a").jobs >= 2 && byKey("a").tasks > 0)
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("attribution gives a shared stage to its first job and keeps orphans unattributed") {
    val jobs = Seq(
      JobRecord(1, Some("q1"), 0, 10, Seq(1, 2)),
      JobRecord(2, Some("q2"), 5, 20, Seq(2, 3)),
      JobRecord(3, None, 30, 40, Seq(4)))
    val stages = Map(1 -> Work(tasks = 1), 2 -> Work(tasks = 2), 3 -> Work(tasks = 4),
      4 -> Work(tasks = 8), 5 -> Work(tasks = 16))
    val (byKey, rest) = Tally.attribute(jobs, stages, _.key)
    assert(byKey("q1") == Work(jobs = 1, tasks = 3))
    assert(byKey("q2") == Work(jobs = 1, tasks = 4))
    assert(rest == Work(jobs = 1, tasks = 24))
  }

  test("a finance job's Spark jobs split into layers by the Jobs method in their call site") {
    def site(frames: String*): String = (frames :+ "graft.finance.JobsMain$.run(JobsMain.scala:40)").mkString("\n")
    val models = site("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)", "graft.finance.Marts.build(Marts.scala:9)",
      "graft.finance.Jobs.$anonfun$runAllModels$2(Jobs.scala:50)", "graft.finance.Jobs.runAllModels(Jobs.scala:48)")
    val train = site("graft.finance.ml.CategoryClassifier.train(CategoryClassifier.scala:3)",
      "graft.finance.Jobs.trainClassifier(Jobs.scala:70)")
    val own = site("graft.finance.ml.ModelStore.loadForPredict(ModelStore.scala:5)")
    val helper = "org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.doExecute(BroadcastExchangeExec.scala:1)"
    assert(FinanceRefresh.layerOf(models).contains("finance.models"))
    assert(FinanceRefresh.layerOf(train).contains("ml.train"))
    assert(FinanceRefresh.layerOf(own).contains("finance.other"))
    assert(FinanceRefresh.layerOf(helper).isEmpty)
    def job(id: Int, startMs: Long, s: String) = JobRecord(id, Some("cycle"), startMs, startMs + 5, Nil, s)
    val jobs = Seq(job(1, 10, models), job(2, 12, helper), job(3, 15, models), job(4, 20, train),
      job(5, 30, own), job(6, 32, models))
    assert(FinanceRefresh.segments(jobs.reverse, 40000000L) == Seq(
      ("finance.models", 10000000L, 20000000L), ("ml.train", 20000000L, 30000000L),
      ("finance.other", 30000000L, 32000000L), ("finance.models", 32000000L, 40000000L)))
  }

  test("self times along the blocking path add up to the root's wall") {
    val spans = Seq(
      Span(1, 0, 1, "root", 0, 100),
      Span(2, 1, 1, "a", 0, 40),
      Span(3, 1, 1, "b", 40, 100),
      Span(4, 3, 1, "c", 50, 60),
      Span(5, 1, 1, "parallel", 10, 30))
    val self = Tracer.selfTimes(spans)
    assert(self == Map(1L -> 0L, 2L -> 40L, 3L -> 50L, 4L -> 10L, 5L -> 20L))
    val path = Tracer.blockingPath(spans, spans.head)
    assert(path.map(_.name) == Seq("root", "a", "b", "c"))
    assert(path.map(s => self(s.id)).sum == 100)
  }
}
