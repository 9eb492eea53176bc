package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.finance.{Schemas, TableStore}

/** Seeded finance warehouse for `finance_refresh` and `serving_mixed`.
  *
  * Everything is drawn from one `scala.util.Random(seed)`, so the same seed
  * gives the same rows and a different seed different ones ([[fingerprint]]
  * is the check). The generator plants the cases the staging models must
  * handle, and keeps the transaction ids that must survive them, so the
  * outputs can be checked against what the seed expects:
  *  - re-imports: the same `transaction_id` at a later import (one survives);
  *  - reconnections: the same logical transaction under a second account id
  *    with the unmasked account name, imported later (the later copy survives);
  *  - legitimately identical same-day transactions under one account (both survive);
  *  - descriptions matching the exclusion patterns (none survives);
  *  - exact-duplicate historic rows (each gets its own id).
  */
object FinanceGen {

  final case class Sizes(rawTxns: Int, batchTxns: Int, historic: Int, validatedInit: Int, validatedNew: Int)

  final case class UserCat(id: String, master: String, notes: String, validated: Boolean)

  final case class Warehouse(
      rawInitial: Seq[Row],
      rawBatch: Seq[Row],
      historic: Seq[Row],
      mappingSimplefin: Seq[Row],
      mappingHistoric: Seq[Row],
      exclusions: Seq[Row],
      userInitial: Seq[UserCat],
      userNew: Seq[UserCat],
      predictions: Seq[Row],
      /** simplefin ids that survive staging, before and after the batch */
      survivorsInit: Seq[String],
      survivorsBatch: Seq[String],
      historicIds: Seq[String],
      /** survivor id -> (transacted date, category of its merchant) */
      truth: Map[String, (LocalDate, String)],
      /** survivor id -> unique search token of its description */
      token: Map[String, String])

  val categories: IndexedSeq[(String, IndexedSeq[String])] = IndexedSeq(
    "Groceries" -> IndexedSeq("WHOLE FOODS MARKET", "TRADER JOES", "SAFEWAY GROCERY", "KROGER"),
    "Restaurants" -> IndexedSeq("CHIPOTLE", "STARBUCKS COFFEE", "PIZZA PALACE", "SUSHI RESTAURANT"),
    "Gas" -> IndexedSeq("SHELL OIL", "CHEVRON GAS", "EXXONMOBIL FUEL"),
    "Travel" -> IndexedSeq("UNITED AIRLINES FLIGHT", "MARRIOTT HOTEL", "DELTA AIR"),
    "Transport" -> IndexedSeq("UBER TRIP", "LYFT RIDE", "METRO TRANSIT"),
    "Shopping" -> IndexedSeq("AMAZON MKTPLACE", "TARGET STORE", "BEST BUY SHOP"),
    "Utilities" -> IndexedSeq("PG AND E ELECTRIC", "COMCAST CABLE", "CITY WATER DEPT"),
    "Entertainment" -> IndexedSeq("NETFLIX", "SPOTIFY", "AMC THEATRES"),
    "Health" -> IndexedSeq("CVS PHARMACY", "WALGREENS", "KAISER CLINIC"),
    "Income" -> IndexedSeq("PAYROLL DEPOSIT ACME", "INTEREST PAYMENT", "TAX REFUND"))

  val exclusionPatterns: Seq[String] =
    Seq("%Credit Card Payment%", "%AUTOPAY PAYMENT%", "%Transfer%", "%Payment Thank You%")
  private val excludedDescriptions = IndexedSeq(
    "CHASE CREDIT CARD PAYMENT", "AUTOPAY PAYMENT AMEX", "ONLINE TRANSFER TO SAVINGS",
    "Payment Thank You - Web")

  private final case class Account(id: String, name: String, instName: String, instDomain: String)

  private val base = LocalDate.of(2025, 1, 1)
  private val initialImport = "2025-06-30 09:00:00"
  private val reimport = "2025-07-01 09:00:00"
  private val reconnectImport = "2025-07-01 10:00:00"
  private val batchImport = "2025-07-02 09:00:00"
  private val stamp = Timestamp.valueOf("2025-07-01 12:00:00")

  def generate(seed: Long, sizes: Sizes): Warehouse = {
    val rng = new scala.util.Random(seed)
    val tag = f"${seed & 0xffffff}%06x"
    val accounts = IndexedSeq(
      Account(s"ACT-$tag-1", "Everyday Checking (1234)", "Chase", "chase.com"),
      Account(s"ACT-$tag-2", "Sapphire Card (9876)", "Chase", "chase.com"),
      Account(s"ACT-$tag-3", "Joint Checking", "Wells Fargo", "wellsfargo.com"),
      Account(s"ACT-$tag-4", "Rewards Visa (5555)", "Citi", "citi.com"),
      Account(s"ACT-$tag-5", "Savings", "Ally", "ally.com"))
    // account 1 after a reconnection: new id, unmasked name
    val reconnected = Account(s"ACT-$tag-1R", "Everyday Checking", "Chase", "chase.com")

    var serial = 0
    def nextId(): Int = { serial += 1; serial }
    val truth = scala.collection.mutable.LinkedHashMap.empty[String, (LocalDate, String)]
    val token = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def raw(id: String, a: Account, day: LocalDate, amount: BigDecimal, desc: String,
        imported: String, pending: Boolean): Row = {
      val at = day.atTime(12, 0).toEpochSecond(ZoneOffset.UTC)
      val posted = day.plusDays(1)
      Row(id, a.id, a.name, a.instDomain, a.instName, amount.bigDecimal,
        posted.atStartOfDay().toEpochSecond(ZoneOffset.UTC), posted.toString,
        at, day.toString, desc, pending, null, imported, imported.take(10))
    }

    /** A fresh transaction: merchant of a random category, unique token. */
    def fresh(imported: String, dayRange: Int): (String, Row) = {
      val n = nextId()
      val (cat, merchants) = categories(rng.nextInt(categories.size))
      val a = accounts(rng.nextInt(accounts.size))
      val day = base.plusDays(rng.nextInt(dayRange).toLong)
      val tok = f"R$tag%s$n%06d"
      val cents = 100 + rng.nextInt(if (cat == "Income") 400000 else 40000)
      val amount = BigDecimal(if (cat == "Income") cents else -cents, 2)
      val id = f"TRN-$tag%s-$n%07d"
      truth(id) = (day, cat)
      token(id) = tok
      id -> raw(id, a, day, amount, s"${merchants(rng.nextInt(merchants.size))} #$tok", imported, false)
    }

    def excluded(imported: String): Row = {
      val n = nextId()
      raw(f"TRN-$tag%s-$n%07d", accounts(rng.nextInt(accounts.size)), base.plusDays(rng.nextInt(170).toLong),
        BigDecimal(-(1000 + rng.nextInt(200000)), 2),
        excludedDescriptions(rng.nextInt(excludedDescriptions.size)) + f" $n%06d", imported, false)
    }

    // initial extract
    val initial = (0 until sizes.rawTxns).map(_ => fresh(initialImport, 170))
    val survivors = scala.collection.mutable.LinkedHashSet.empty[String] ++ initial.map(_._1)
    val rawInit = scala.collection.mutable.ArrayBuffer.empty[Row] ++ initial.map(_._2)
    val byId = initial.toMap
    // re-imports: same id, later import, pending flag cleared
    rng.shuffle(initial.map(_._1)).take(sizes.rawTxns / 20).foreach { id =>
      val r = byId(id)
      rawInit += Row.fromSeq(r.toSeq.updated(11, false).updated(13, reimport).updated(14, reimport.take(10)))
    }
    // reconnections: account-1 transactions seen again under the new account id
    initial.filter(_._2.getString(1) == accounts(0).id).take(sizes.rawTxns / 25).foreach { case (id, r) =>
      val n = nextId()
      val copy = f"TRN-$tag%s-$n%07d"
      rawInit += Row.fromSeq(r.toSeq.updated(0, copy).updated(1, reconnected.id)
        .updated(2, reconnected.name).updated(13, reconnectImport).updated(14, reconnectImport.take(10)))
      survivors -= id; survivors += copy
      truth(copy) = truth(id); token(copy) = token(id)
      truth -= id; token -= id
    }
    // legitimately identical same-day transactions under one account
    initial.filter(_._2.getString(1) != accounts(0).id).take(sizes.rawTxns / 50).foreach { case (id, r) =>
      val n = nextId()
      val twin = f"TRN-$tag%s-$n%07d"
      rawInit += Row.fromSeq(r.toSeq.updated(0, twin))
      survivors += twin
      truth(twin) = truth(id); token(twin) = token(id)
    }
    (0 until sizes.rawTxns / 20).foreach(_ => rawInit += excluded(initialImport))
    val survivorsInit = survivors.toSeq

    // the fresh batch appended before the ingest job
    val batchFresh = (0 until sizes.batchTxns).map(_ => fresh(batchImport, 180))
    val batch = scala.collection.mutable.ArrayBuffer.empty[Row] ++ batchFresh.map(_._2)
    rng.shuffle(initial.map(_._1).filter(survivors.contains)).take(sizes.batchTxns / 10).foreach { id =>
      batch += Row.fromSeq(byId(id).toSeq.updated(13, batchImport).updated(14, batchImport.take(10)))
    }
    (0 until sizes.batchTxns / 20).foreach(_ => batch += excluded(batchImport))
    val survivorsBatch = survivorsInit ++ batchFresh.map(_._1)

    // historic CSV seed: categorised, with exact-duplicate rows
    val histAccounts = IndexedSeq(("cash", null), ("Old Checking", "Checking"), ("Old Checking", "Savings"),
      ("Store Card", null))
    val historicBase = (0 until sizes.historic).map { _ =>
      val (cat, merchants) = categories(rng.nextInt(categories.size))
      val (acct, detail) = histAccounts(rng.nextInt(histAccounts.size))
      val day = LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(360).toLong)
      val cents = 100 + rng.nextInt(40000)
      val amount = BigDecimal(if (cat == "Income") cents else -cents, 2).toString
      // ISO dates: stgHistoric casts transaction_date straight to DATE, and
      // the reference CSV's M/D/YYYY form fails that cast
      Row(acct, detail, amount, day.toString,
        merchants(rng.nextInt(merchants.size)) + s" ${rng.nextInt(1000)}", null, cat, "01/15/2025")
    }
    val historic = historicBase ++ historicBase.take(sizes.historic / 50)
    val historicIds = {
      val counts = scala.collection.mutable.Map.empty[String, Int]
      historic.map { r =>
        val key = Seq(0, 2, 3, 4).map(i => Option(r.getString(i)).getOrElse("")).mkString
        val k = counts.getOrElse(key, 0) + 1
        counts(key) = k
        "HIST_TRN_" + md5(key + k)
      }
    }

    val mappingSimplefin = Seq(
      Row("Everyday Checking (1234)", null, "Chase Checking"),
      Row("Everyday Checking", "", "Chase Checking"),
      Row("Sapphire Card (9876)", accounts(1).id, "Chase Sapphire"),
      Row("Sapphire Card (9876)", "ACT-other", "Someone Else's Sapphire"),
      Row("Joint Checking", null, "Wells Joint"))
    val mappingHistoric = Seq(
      Row("Old Checking", "Checking", "Legacy Checking", "Alex"),
      Row("Old Checking", "Savings", "Legacy Savings", "Alex"),
      Row("cash", null, "Cash", "Sam"))

    // user categories: validated rows on surviving simplefin transactions
    val pool = rng.shuffle(survivorsInit).toIndexedSeq
    def userCat(id: String, validated: Boolean): UserCat =
      UserCat(id, truth(id)._2, if (rng.nextInt(4) == 0) s"note ${rng.nextInt(100)}" else null, validated)
    val userInitial = pool.take(sizes.validatedInit).map(userCat(_, validated = true)) ++
      pool.slice(sizes.validatedInit, sizes.validatedInit + sizes.validatedInit / 4).map(userCat(_, validated = false))
    val userNew = pool.slice(sizes.validatedInit * 2, sizes.validatedInit * 2 + sizes.validatedNew)
      .map(userCat(_, validated = true))

    // stored predictions (serving reads them without a training run)
    val labels = categories.map(_._1)
    val predictions = survivorsInit.map { id =>
      val conf = BigDecimal(1000 + rng.nextInt(9000), 4)
      val label = if (conf < BigDecimal("0.2500")) "UNCERTAIN"
        else if (rng.nextInt(5) == 0) labels(rng.nextInt(labels.size)) else truth(id)._2
      Row(id, label, conf.bigDecimal, "model_seeded", stamp)
    }

    Warehouse(rawInit.toSeq, batch.toSeq, historic, mappingSimplefin, mappingHistoric,
      exclusionPatterns.map(Row(_)), userInitial, userNew, predictions,
      survivorsInit, survivorsBatch, historicIds, truth.toMap, token.toMap)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def userRows(us: Seq[UserCat]): Seq[Row] =
    us.map(u => Row(u.id, u.master, null, u.notes, u.validated, false, "perfbench", stamp))

  /** Digest of every generated input row: equal for equal seeds. */
  def fingerprint(w: Warehouse): String =
    Digest.ofStrings(
      (Seq("raw" -> w.rawInitial, "batch" -> w.rawBatch, "historic" -> w.historic,
        "map_sf" -> w.mappingSimplefin, "map_hist" -> w.mappingHistoric, "excl" -> w.exclusions,
        "user" -> userRows(w.userInitial), "user_new" -> userRows(w.userNew),
        "pred" -> w.predictions).iterator.flatMap { case (t, rows) =>
        rows.iterator.map(r => t + "|" + Digest.render(r)) }))

  def frame(spark: SparkSession, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** A session configured as `JobsMain.main` and `ApiMain.main` configure
    * theirs; both finance workloads run on it. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Write the warehouse's input tables (raw extract, seeds, user
    * categories and, for serving, stored predictions) through TableStore. */
  def write(spark: SparkSession, store: TableStore, w: Warehouse, withPredictions: Boolean): Unit = {
    store.overwrite("raw_simplefin", frame(spark, w.rawInitial, Schemas.simplefinRaw))
    store.overwrite("historic_transactions", frame(spark, w.historic, Schemas.historicRaw))
    store.overwrite("seed_account_mapping_simplefin", frame(spark, w.mappingSimplefin, Schemas.accountMappingSimplefin))
    store.overwrite("seed_account_mapping_historic", frame(spark, w.mappingHistoric, Schemas.accountMappingHistoric))
    store.overwrite("seed_transaction_exclusions", frame(spark, w.exclusions, Schemas.transactionExclusions))
    store.overwrite("user_categories", frame(spark, userRows(w.userInitial), Schemas.userCategories))
    if (withPredictions)
      store.overwrite("predicted_transactions", frame(spark, w.predictions, Schemas.predictedTransactions))
  }
}
