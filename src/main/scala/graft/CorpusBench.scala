package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end bench of the corpus capstone: run
  * [[graft.corpus.CorpusPipeline]] over the documents fixture (held-out
  * set = every 97th doc, removed from the input; embeddings joined where
  * the fixture has one for the doc id) and print ONE JSON line with the
  * wall and the per-stage manifest — the capstone's own evidence that the
  * composed chain (quality → exact dedup → near-dup → ExactSubstr →
  * SemDeDup → decontaminate → tokenize → pack → shard) runs at fixture
  * scale as one job graph, not just per-stage in specs.
  *
  * Modes:
  *   runMain graft.CorpusBench [sfDir] [bpe|unigram] [minimal|production]
  *     — full rebuild; `production` switches the stage-1 gate to the
  *       full Gopher+repetition+langid battery (per-rule drop counts land
  *       in the manifest), `minimal` (default) is the token-count core.
  *   runMain graft.CorpusBench incremental <corpusSfDir> <sliceSfDir> [plain|bucketed]
  *     — build the corpus WITH state capture from corpusSfDir, then
  *       ingest sliceSfDir's documents (and embeddings — the semantic
  *       probe runs) as an id-shifted new slice via runIncremental;
  *       prints base_wall vs incremental_wall — the daily-operating-mode
  *       evidence that a slice costs O(slice), not O(corpus+slice).
  *       With a layout arg the state goes through the DEPLOYMENT shape:
  *       persisted to disk and RELOADED before the slice runs ("plain" =
  *       parquet, "bucketed" = probe indexes as bucketBy tables), and the
  *       record carries the probe-plan audit: exchanges between each
  *       probe join and its index scan under forced shuffle joins —
  *       0 everywhere for "bucketed" (the co-located-probe claim,
  *       asserted, not just printed), 1 per probe for "plain".
  *   runMain graft.CorpusBench chain <corpusSfDir> <sliceSfDir> <nSlices> [plain|bucketed]
  *     — the endurance leg: n consecutive slices
  *       roll the state forward (each slice gets a fresh id range AND a
  *       slice-specific vocabulary so survivors flow every day), with
  *       per-slice walls recorded and the final corpus GATED equal to a
  *       full rebuild of corpus ∪ all slices under the pinned base
  *       tokenizer (multiset of doc_id/lang/n_tokens/shard via exact
  *       xxhash64-sum compare; the job aborts on mismatch). Layouts:
  *       "plain" (default) round-trips once mid-chain through
  *       CorpusState.write/load; "bucketed" round-trips EVERY slice through
  *       writeBucketed/loadBucketed with a fresh directory AND a fresh
  *       tablePrefix per day — the actual daily rotation the writeGuard
  *       and the catalog-identity guard prescribe, yesterday's directory
  *       retired and its catalog entries dropped after the new state
  *       commits — and ASSERTS the probe-plan audit per slice: every
  *       post-reload probe join must show 0 index-side Exchanges (the
  *       co-located plan, proven on the same run as the flat walls and
  *       the rebuild equality, not on a separate one-slice leg).
  *   runMain graft.CorpusBench divergence <corpusSfDir>
  *     — measured incremental-vs-rebuild divergence RATES: see
  *       [[divergence]].
  */
object CorpusBench {

  private def session(): SparkSession = {
    val spark = GraftSession.local("graft-corpusbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fixture docs, repartitioned for per-doc CPU (the fixture parquet is
    * one row group → one task otherwise). */
  private def docsOf(spark: SparkSession, sfDir: String) =
    graft.io.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(GraftSession.cpus * 2)

  private def stagesJson(ms: Seq[graft.corpus.CorpusPipeline.Manifest]): String =
    ms.map(m => s""""${m.stage}":${m.rows}""").mkString("{", ",", "}")

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("incremental"))
      incremental(args(1), args(2), args.drop(3).headOption.getOrElse("memory"))
    else if (args.headOption.contains("chain"))
      chain(args(1), args(2), args.drop(3).headOption.map(_.toInt).getOrElse(5),
        args.drop(4).headOption.getOrElse("plain"))
    else if (args.headOption.contains("divergence"))
      divergence(args.drop(1).headOption.getOrElse("/root/testdata/sf0.01"))
    else full(
      args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.drop(1).headOption.getOrElse("bpe"),
      args.drop(2).headOption.getOrElse("minimal"))

  private def full(sfDir: String, tokenizer: String, preset: String): Unit = {
    val spark = session()
    val docs = docsOf(spark, sfDir)
    // held-out evaluation set: every 97th doc, EXCLUDED from the corpus
    // (decontamination then has real work: near-copies of held-out docs
    // exist in the fixture's duplicate pairs)
    val heldOut = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val emb = graft.io.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val quality = preset match {
      case "production" => graft.corpus.Quality.production()
      case _ => Seq.empty[graft.corpus.QualityRule]
    }

    val t0 = System.nanoTime()
    // decontamShingle = 8: the long-n-gram production posture (see the
    // pipeline's stage-4 comment) — a 3-gram any-match rule on this
    // templated synthetic corpus flags ~94 % of documents
    val r = graft.corpus.CorpusPipeline.run(
      corpus, heldOut, embeddings = Some(emb), tokenizer = tokenizer,
      decontamShingle = 8, quality = quality)
    val outRows = r.corpus.count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"metric":"corpus_pipeline","value":${math.round(wall * 10) / 10.0},""" +
        s""""unit":"sec","tokenizer":"$tokenizer","preset":"$preset","sf":"$sfDir",""" +
        s""""stages":${stagesJson(r.manifest)},"corpus_rows":$outRows,""" +
        s""""bpe_merges":${r.merges.size},"unigram_vocab":${r.unigramVocab.size}}""")
    spark.stop()
  }

  /** Exchanges BETWEEN each incremental probe join and its index-side
    * scan, under forced shuffle joins (broadcast + AQE off, so the plan
    * is the one a corpus-sized index gets): 0 = the index arrives
    * pre-partitioned (bucketed co-location), 1 = the index re-shuffles
    * per slice (plain parquet). Identification is by scan location under
    * `stateDir` — works for plain AND bucketed layouts. */
  private def probeIndexExchanges(
      spark: SparkSession,
      slice: DataFrame,
      state: graft.corpus.CorpusPipeline.CorpusState,
      stateDir: String): Map[String, Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def isJoin(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
      case _ => false
    }
    def pathTo(p: SparkPlan, target: SparkPlan): Option[List[SparkPlan]] =
      if (p eq target) Some(List(p))
      else p.children.view.flatMap(c => pathTo(c, target)).headOption.map(p :: _)
    def exchangesToIndexScan(df: DataFrame, table: String): Int = {
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          p => p.toString.contains(stateDir) && p.toString.contains(table)) => s
      }
      require(scans.nonEmpty, s"probe audit: no $table scan under $stateDir in\n$plan")
      scans.map { scan =>
        val path = pathTo(plan, scan).get
        val joinIdx = path.lastIndexWhere(isJoin)
        require(joinIdx >= 0, s"probe audit: $table scan has no join ancestor")
        path.drop(joinIdx + 1).count(_.isInstanceOf[ShuffleExchangeExec])
      }.max
    }
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cp = graft.corpus.CorpusPipeline
      Map(
        "content_hashes" -> exchangesToIndexScan(cp.exactProbe(slice, state), "content_hashes"),
        "band_index" -> exchangesToIndexScan(cp.bandProbe(cp.bandsOf(slice), state), "band_index"),
        "window_index" -> exchangesToIndexScan(
          graft.operators.ExactSubstr.scrubAgainst(
            slice, state.windowIndex, state.exactSubstrWindow), "window_index"))
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    }
  }

  private def incremental(corpusSf: String, sliceSf: String, layout: String): Unit = {
    val spark = session()
    val docs = docsOf(spark, corpusSf)
    val heldOut = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val emb = graft.io.Tables.embeddings(spark, corpusSf)
      .select(col("vec_id").as("doc_id"), col("embedding"))

    val t0 = System.nanoTime()
    val base = graft.corpus.CorpusPipeline.run(
      corpus, heldOut, embeddings = Some(emb), tokenizer = "bpe",
      decontamShingle = 8, captureState = true)
    val baseRows = base.corpus.count()
    val baseWall = (System.nanoTime() - t0) / 1e9

    // deployment shape when a layout is named: persist the state and
    // RELOAD it — the slice job reads yesterday's tables, not this JVM's
    // cached frames
    val stateDir = java.nio.file.Files.createTempDirectory("corpus_state_bench").toString
    val prefix = "graft_bench_corpus_state"
    val cs = graft.corpus.CorpusPipeline.CorpusState
    val state = layout match {
      case "bucketed" =>
        cs.writeBucketed(base.state.get, stateDir, prefix)
        cs.loadBucketed(spark, stateDir, prefix)
      case "plain" =>
        cs.write(base.state.get, stateDir)
        cs.load(spark, stateDir)
      case _ => base.state.get
    }

    // the slice: the smaller fixture's docs, id-shifted above the corpus
    // high-water mark (the append-only contract a real crawl slice gets
    // from its ingestion sequence numbers); embeddings shift with it so
    // the semantic probe runs
    val offset = state.maxDocId + 1L
    val slice = docsOf(spark, sliceSf)
      .withColumn("doc_id", col("doc_id") + lit(offset))
    val sliceEmb = graft.io.Tables.embeddings(spark, sliceSf)
      .select((col("vec_id") + lit(offset)).as("doc_id"), col("embedding"))

    // probe-plan audit (persisted layouts only): the bucketed claim is
    // ASSERTED — an exchange on the index side aborts the leg
    val exchanges =
      if (layout == "bucketed" || layout == "plain")
        Some(probeIndexExchanges(spark, slice, state, stateDir))
      else None
    exchanges.foreach { ex =>
      if (layout == "bucketed") require(ex.values.forall(_ == 0),
        s"bucketed state: expected 0 index-side exchanges, got $ex")
    }

    val t1 = System.nanoTime()
    val inc = graft.corpus.CorpusPipeline.runIncremental(slice, state,
      embeddings = Some(sliceEmb))
    val incRows = inc.corpus.count()
    val incWall = (System.nanoTime() - t1) / 1e9
    val exchangesJson = exchanges.map(ex =>
      ex.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString(""","index_side_exchanges":{""", ",", "}")).getOrElse("")
    println(
      s"""{"metric":"corpus_incremental","base_wall_sec":${math.round(baseWall * 10) / 10.0},""" +
        s""""incremental_wall_sec":${math.round(incWall * 10) / 10.0},""" +
        s""""corpus_sf":"$corpusSf","slice_sf":"$sliceSf","state_layout":"$layout"$exchangesJson,""" +
        s""""base_stages":${stagesJson(base.manifest)},""" +
        s""""slice_stages":${stagesJson(inc.manifest)},""" +
        s""""base_corpus_rows":$baseRows,"appended_corpus_rows":$incRows}""")
    spark.stop()
  }

  // ---- divergence leg -------------------------------------------------------
  //
  // The incremental mode documents FIVE divergence surfaces vs a full
  // rebuild (CorpusPipeline.runIncremental + SemDeDup.probeDrops
  // scaladoc). This leg turns each from a qualitative note into a
  // MEASURED rate: a fixture engineered to contain every class, one
  // slice-probe run vs one pinned-tokenizer rebuild, kept-doc-id set
  // diffed, every divergent id attributed to its engineered class, and
  // the counts printed — with a require that divergence is CONFINED to
  // the engineered classes (the filler corpus must agree exactly).
  //
  // Classes and their engineered mechanics (all deterministic — fixed
  // minhash coefficients, id-seeded k-means, no RNG):
  //  hot_bucket  — 100 near-dup variants of one template put all three
  //                LSH band buckets over MaxBucket(64): the state freezes
  //                them at the cap, so slice probes of the template DROP;
  //                a rebuild's pair generation SKIPS over-cap buckets
  //                (BoundedLongCollect evals null past the cap) and keeps
  //                them. Direction: dropped_by_probe, kept_by_rebuild.
  //  lsh_bridge  — a slice doc spliced from two dissimilar corpus
  //                near-dup clusters A and B bands with both: the rebuild
  //                merges A∪B∪{bridge} into one component and keeps only
  //                min(A); the incremental corpus is immutable, so B's
  //                keeper survives. Direction: kept_by_probe (B's keeper),
  //                dropped_by_rebuild.
  //  sem_prefer  — slice embedding FARTHER from its stored centroid than
  //                its corpus duplicate: the d16 anti-memorization keep
  //                prefers the slice doc, so a rebuild drops the CORPUS
  //                doc; the probe can only drop slice docs — both
  //                survive. Direction: kept_by_probe, dropped_by_rebuild.
  //  sem_cap     — per-cell member cap (4 here) interacts with stage
  //                order: the stored members are capped over the FINAL
  //                corpus (post-decontamination), the rebuild caps over
  //                the sem-stage survivors (pre-decontamination); a
  //                contaminated early-id member shifts the capped window,
  //                so the slice doc's dropper is stored in the state but
  //                outside the rebuild's cap. Direction: dropped_by_probe,
  //                kept_by_rebuild.
  //  sem_drift   — a rebuild REFITS centroids over corpus ∪ slice: a
  //                slice mass along a direction orthogonal to every seed
  //                drags one centroid, co-locating two corpus docs that
  //                the stored (build-time) cells kept apart — the rebuild
  //                compares and drops one; the probe never re-cells the
  //                corpus. Direction: kept_by_probe, dropped_by_rebuild.
  private def divergence(fillerSf: String): Unit = {
    val spark = session()
    import spark.implicits._
    val cp = graft.corpus.CorpusPipeline

    def doc(id: Long, text: String): (Long, String, String) = (id, "en", text)
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")

    // -- filler: real fixture docs re-id'd into 1000.. (bulk + BPE realism)
    val filler = graft.io.Tables.documents(spark, fillerSf)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy(col("doc_id")).limit(200)
      .withColumn("doc_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))).cast("long") + lit(999L))

    // -- hot_bucket: 100 corpus variants (31 words: base 30 + unique tail;
    // < the 50-token ExactSubstr window, so the scrub never interferes),
    // 5 slice probes of the same template
    val hotBase = words("hotw", 30).mkString(" ")
    val hotCorpus = (0 until 100).map(i => doc(3000L + i, s"$hotBase hottail$i"))
    val hotProbes = (0 until 5).map(i => doc(10000L + i, s"$hotBase probetail$i"))

    // -- lsh_bridge: 4 cluster pairs (a1,a2) / (b1,b2) plus one slice doc
    // spliced from both base texts that LSH-bands into BOTH clusters.
    // Which band a splice lands in is decided by minhash minima over the
    // union of the two shingle sets — not hand-predictable, and for a
    // FIXED vocabulary pair the per-permutation winners are fixed (a
    // splice can only ever match the side that wins a whole band), so
    // the fixture searches vocabulary VARIANTS for both sides as well as
    // word-removal windows, computes every candidate's ACTUAL bands, and
    // picks the first (variant, window) combo — per pair — where
    //   a1~a2 share a band, b1~b2 share a band, and the splice shares a
    //   band with a1 AND with b1.
    // Deterministic: fixed candidate enumeration, fixed minhash seeds,
    // first hit in enumeration order.
    val nBridges = 4
    final case class BridgePick(a1: String, a2: String, b1: String, b2: String,
        splice: String)
    val bridgePicks: Seq[BridgePick] = {
      def aWords(j: Int, v: Int) = words(s"bA${j}v${v}w", 36)
      def bWords(j: Int, v: Int) = words(s"bB${j}v${v}w", 36)
      def spliceOf(aw: Seq[String], bw: Seq[String], da: Int, db: Int): String =
        (aw.patch(da, Nil, 6) ++ bw.patch(db, Nil, 6)).mkString(" ")
      final case class Meta(kind: String, j: Int, av: Int, bv: Int, da: Int, db: Int)
      val texts = Seq.newBuilder[(Long, String)]
      val metaOf = scala.collection.mutable.HashMap.empty[Long, Meta]
      var nextId = 20000L
      def reg(kind: String, j: Int, av: Int, bv: Int, da: Int, db: Int,
          text: String): Unit = {
        texts += ((nextId, text)); metaOf(nextId) = Meta(kind, j, av, bv, da, db)
        nextId += 1
      }
      val nV = 5
      for (j <- 0 until nBridges; v <- 0 until nV) {
        reg("a1", j, v, -1, -1, -1, (aWords(j, v) :+ s"bA${j}v${v}t1").mkString(" "))
        reg("a2", j, v, -1, -1, -1, (aWords(j, v) :+ s"bA${j}v${v}t2").mkString(" "))
        reg("b1", j, -1, v, -1, -1, (bWords(j, v) :+ s"bB${j}v${v}t1").mkString(" "))
        reg("b2", j, -1, v, -1, -1, (bWords(j, v) :+ s"bB${j}v${v}t2").mkString(" "))
      }
      for (j <- 0 until nBridges; av <- 0 until nV; bv <- 0 until nV;
           da <- 0 to 30 by 6; db <- 0 to 30 by 6)
        reg("s", j, av, bv, da, db, spliceOf(aWords(j, av), bWords(j, bv), da, db))
      val textById = texts.result().toMap
      val bands: Map[Long, Set[(Int, String)]] = cp.bandsOf(
          textById.toSeq.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("b"), r.getAs[String]("band_key"))))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
      def bandsFor(kind: String, j: Int, av: Int, bv: Int,
          da: Int = -1, db: Int = -1): (Long, Set[(Int, String)]) = {
        val id = metaOf.collectFirst { case (i, Meta(`kind`, `j`, `av`, `bv`, `da`, `db`)) => i }.get
        (id, bands.getOrElse(id, Set.empty))
      }
      (0 until nBridges).map { j =>
        val combos = for (av <- 0 until nV; bv <- 0 until nV) yield (av, bv)
        val pick = combos.iterator.flatMap { case (av, bv) =>
          val (_, a1b) = bandsFor("a1", j, av, -1)
          val (_, a2b) = bandsFor("a2", j, av, -1)
          val (_, b1b) = bandsFor("b1", j, -1, bv)
          val (_, b2b) = bandsFor("b2", j, -1, bv)
          if ((a1b & a2b).isEmpty || (b1b & b2b).isEmpty) None
          else {
            val win = (for (da <- 0 to 30 by 6; db <- 0 to 30 by 6) yield (da, db))
              .iterator.find { case (da, db) =>
                val (_, sb) = bandsFor("s", j, av, bv, da, db)
                (sb & a1b).nonEmpty && (sb & b1b).nonEmpty
              }
            win.map { case (da, db) => (av, bv, da, db) }
          }
        }.nextOption().getOrElse(sys.error(
          s"divergence fixture: no (vocab variant, window) splice of bridge " +
            s"pair $j bands with both clusters"))
        val (av, bv, da, db) = pick
        BridgePick(
          (aWords(j, av) :+ s"bA${j}v${av}t1").mkString(" "),
          (aWords(j, av) :+ s"bA${j}v${av}t2").mkString(" "),
          (bWords(j, bv) :+ s"bB${j}v${bv}t1").mkString(" "),
          (bWords(j, bv) :+ s"bB${j}v${bv}t2").mkString(" "),
          spliceOf(aWords(j, av), bWords(j, bv), da, db))
      }
    }
    val bridgeCorpus = bridgePicks.zipWithIndex.flatMap { case (p, j) =>
      Seq(doc(4000L + 4 * j, p.a1), doc(4001L + 4 * j, p.a2),
        doc(4002L + 4 * j, p.b1), doc(4003L + 4 * j, p.b2))
    }
    val bridgeSlice: Seq[(Long, String, String)] =
      bridgePicks.zipWithIndex.map { case (p, j) => doc(10100L + j, p.splice) }

    // -- semantic classes: d=16 embeddings; dims 0..4 are the five
    // k-means seed directions (seeds = the 5 smallest vec_ids, so the
    // seed docs PIN the cell structure), dims 5..15 are orthogonal slots
    // that keep same-cell members below the 0.9 cosine threshold
    val D = 16
    def vec(parts: (Int, Double)*): Array[Double] = {
      val a = Array.fill(D)(0.0)
      parts.foreach { case (i, v) => a(i) = v }
      a
    }
    def semText(id: Long): String = words(s"sem${id}w", 6).mkString(" ")
    val heldOutGram = words("hx", 12)

    val semCorpus = Seq.newBuilder[(Long, String, String, Array[Double])]
    // seeds: one per cell, pure directions
    (0 to 4).foreach { c =>
      semCorpus += ((5000L + c, "en", semText(5000L + c), vec(c -> 1.0)))
    }
    // sem_prefer (cell 4): corpus doc p close to the centroid; the slice
    // doc is 1.5x the same vector (cosine 1, farther out)
    val pVec = vec(4 -> 0.8, 5 -> 0.6)
    semCorpus += ((5010L, "en", semText(5010L), pVec))
    // sem_cap (cell 1): six members on orthogonal slots 9..14; member
    // 5021 carries a held-out 8-gram so decontamination drops it AFTER
    // the sem stage — the stored cap window shifts to include 5024,
    // which the rebuild's pre-decontam cap excludes
    (0 until 6).foreach { i =>
      val id = 5021L + i
      val text =
        if (i == 0) (words(s"cap${id}w", 3) ++ heldOutGram.take(8) ++
          words(s"cap${id}x", 2)).mkString(" ")
        else semText(id)
      semCorpus += ((id, "en", text, vec(1 -> 0.8, (9 + i) -> 0.6)))
    }
    // sem_drift (cells 2/3): u and w share a dominant dim-15 component
    // (cosine 0.909 to each other) but split to cells 2 and 3 under the
    // stored centroids; the slice mass on pure dim 15 drags a centroid in
    // the rebuild's refit and co-locates them
    semCorpus += ((5040L, "en", semText(5040L), vec(2 -> 0.3, 15 -> 0.95)))
    semCorpus += ((5041L, "en", semText(5041L), vec(3 -> 0.3, 15 -> 0.95)))
    val semCorpusRows = semCorpus.result()

    val semSlice = Seq(
      (10200L, "en", semText(10200L), vec(4 -> 1.2, 5 -> 0.9)),   // sem_prefer
      (10210L, "en", semText(10210L), vec(1 -> 0.64, 12 -> 0.48)) // sem_cap (0.8x member 5024)
    ) ++ (0 until 20).map { i => // sem_drift mass: identical vectors, unique texts
      (10300L + i, "en", semText(10300L + i), vec(15 -> 1.0))
    }

    val heldOut = Seq(
      doc(90001L, heldOutGram.mkString(" ")),
      doc(90002L, words("hy", 12).mkString(" ")),
      doc(90003L, words("hz", 12).mkString(" "))
    ).toDF("doc_id", "lang", "text")

    val corpusDocs = filler.unionByName(
      (hotCorpus ++ bridgeCorpus ++ semCorpusRows.map(t => (t._1, t._2, t._3)))
        .toDF("doc_id", "lang", "text"))
    val corpusEmb = semCorpusRows.map(t => (t._1, t._4)).toDF("vec_id", "embedding")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val sliceDocs = (hotProbes ++ bridgeSlice ++ semSlice.map(t => (t._1, t._2, t._3)))
      .toDF("doc_id", "lang", "text")
    val sliceEmb = semSlice.map(t => (t._1, t._4)).toDF("doc_id", "embedding")

    // -- base build with state, slice probe, pinned rebuild
    val base = cp.run(corpusDocs, heldOut, embeddings = Some(corpusEmb),
      decontamShingle = 8, tokenizer = "bpe",
      semK = 5, semIters = 2, semThreshold = 0.9, semMaxCell = 4,
      captureState = true)
    val state = base.state.get
    // fixture validity: the hot template's buckets really froze at the cap
    val saturated = state.bandIndex
      .filter(col("cnt") === lit(graft.corpus.CorpusPipeline.MaxBucket.toLong))
      .count()
    require(saturated >= 1,
      s"divergence fixture: expected >=1 LSH bucket frozen at the cap, got $saturated")

    val inc = cp.runIncremental(sliceDocs, state, embeddings = Some(sliceEmb))
    val rebuilt = cp.run(
      corpusDocs.unionByName(sliceDocs), heldOut,
      embeddings = Some(corpusEmb.unionByName(
        sliceEmb.toDF("doc_id", "embedding"))),
      decontamShingle = 8, tokenizer = "bpe",
      semK = 5, semIters = 2, semThreshold = 0.9, semMaxCell = 4,
      pinnedTokenizer = Some((base.merges, base.unigramVocab)))

    val incIds = inc.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val rebIds = rebuilt.corpus.select("doc_id").collect().map(_.getLong(0)).toSet

    def classOf(id: Long): String = id match {
      case i if (i >= 3000L && i < 3100L) || (i >= 10000L && i < 10010L) => "hot_bucket"
      case i if (i >= 4000L && i < 4100L) || (i >= 10100L && i < 10150L) => "lsh_bridge"
      case i if i == 5010L || i == 10200L => "sem_prefer"
      case i if (i >= 5021L && i < 5027L) || i == 10210L => "sem_cap"
      case i if i == 5040L || i == 5041L || (i >= 10300L && i < 10320L) => "sem_drift"
      case _ => "other"
    }
    val classes = Seq("hot_bucket", "lsh_bridge", "sem_prefer", "sem_cap",
      "sem_drift", "other")
    val keptByProbeOnly = (incIds -- rebIds).groupBy(classOf)
    val keptByRebuildOnly = (rebIds -- incIds).groupBy(classOf)
    def cnt(m: Map[String, Set[Long]], c: String): Int = m.get(c).map(_.size).getOrElse(0)

    val classJson = classes.map { c =>
      s""""$c":{"kept_by_probe_dropped_by_rebuild":${cnt(keptByProbeOnly, c)},""" +
        s""""dropped_by_probe_kept_by_rebuild":${cnt(keptByRebuildOnly, c)}}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"corpus_divergence","corpus_rows":${incIds.size},""" +
        s""""rebuild_rows":${rebIds.size},"saturated_buckets":$saturated,""" +
        s""""divergent_total":${(incIds -- rebIds).size + (rebIds -- incIds).size},""" +
        s""""classes":$classJson}""")

    // every engineered class must FIRE in its documented direction, and
    // divergence must be CONFINED to the engineered classes — a nonzero
    // "other" count would mean the incremental mode diverges somewhere
    // the operator scaladoc does not document
    require(cnt(keptByRebuildOnly, "hot_bucket") >= 1,
      "hot_bucket divergence did not fire (probe-dropped, rebuild-kept)")
    require(cnt(keptByProbeOnly, "lsh_bridge") >= 1,
      "lsh_bridge divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByProbeOnly, "sem_prefer") >= 1,
      "sem_prefer divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByRebuildOnly, "sem_cap") >= 1,
      "sem_cap divergence did not fire (probe-dropped, rebuild-kept)")
    require(cnt(keptByProbeOnly, "sem_drift") >= 1,
      "sem_drift divergence did not fire (probe-kept, rebuild-dropped)")
    require(cnt(keptByProbeOnly, "other") == 0 && cnt(keptByRebuildOnly, "other") == 0,
      s"UNDOCUMENTED divergence outside the engineered classes: " +
        s"probe-only=${keptByProbeOnly.get("other")} rebuild-only=${keptByRebuildOnly.get("other")}")
    spark.stop()
  }

  /** Exact multiset fingerprint of the corpus-defining columns: count +
    * xxhash64 summed exactly (decimal(38,0) — no overflow, no float).
    * Shared with StreamBench's corpus leg (streamed ≡ chained gate). */
  private[graft] def corpusFingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val row = df.select(
        xxhash64(col("doc_id"), col("lang"), col("n_tokens"), col("shard")).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
      .head
    (row.getLong(0), if (row.isNullAt(1)) java.math.BigDecimal.ZERO else row.getDecimal(1))
  }

  private def chain(corpusSf: String, sliceSf: String, nSlices: Int,
      layout: String): Unit = {
    require(layout == "plain" || layout == "bucketed",
      s"chain layout must be 'plain' or 'bucketed', got '$layout'")
    val spark = session()
    val cs = graft.corpus.CorpusPipeline.CorpusState
    val docs = docsOf(spark, corpusSf)
    val heldOut = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)

    val t0 = System.nanoTime()
    val base = graft.corpus.CorpusPipeline.run(
      corpus, heldOut, tokenizer = "bpe", decontamShingle = 8,
      captureState = true)
    val baseWall = (System.nanoTime() - t0) / 1e9

    // each day's slice: the slice fixture re-vocabularied per slice
    // (prefix every word with the slice tag) so consecutive days carry
    // genuinely NEW documents — the fixture replayed verbatim would
    // exact-dedup to nothing after day 1 — and id-shifted above the
    // rolling high-water mark
    def sliceFor(i: Int, offset: Long): DataFrame =
      docsOf(spark, sliceSf)
        .withColumn("doc_id", col("doc_id") + lit(offset))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(lit(s"s${i}x"), w)), " "))

    // daily rotation (bucketed layout): each day's state goes to a FRESH
    // directory under one root with a FRESH table prefix (the shape the
    // writeGuard and the catalog-identity guard both enforce); after the
    // new state commits and reloads, yesterday's directory is deleted and
    // its catalog entries dropped — nothing lazy references them anymore,
    // which is exactly what the rotation is supposed to guarantee
    val rotRoot = java.nio.file.Files.createTempDirectory("chain_bucketed").toString
    def dayDir(i: Int) = s"$rotRoot/day_$i"
    def dayPrefix(i: Int) = s"graft_chain_day_$i"
    def retire(i: Int): Unit = {
      graft.corpus.CorpusPipeline.CorpusState.BucketedTables.foreach {
        case (name, _) => spark.sql(s"DROP TABLE IF EXISTS ${dayPrefix(i)}_$name")
      }
      val p = new org.apache.hadoop.fs.Path(dayDir(i))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }

    var state = base.state.get
    var stateDir = ""
    val persistWalls = Seq.newBuilder[Double]
    if (layout == "bucketed") {
      val t = System.nanoTime()
      cs.writeBucketed(state, dayDir(0), dayPrefix(0))
      state = cs.loadBucketed(spark, dayDir(0), dayPrefix(0))
      stateDir = dayDir(0)
      persistWalls += (System.nanoTime() - t) / 1e9
    }

    val walls = Seq.newBuilder[Double]
    val survivors = Seq.newBuilder[Long]
    val probeAudits = Seq.newBuilder[Int]
    val roundTripAt = math.max(1, nSlices / 2)
    var slices = Seq.empty[DataFrame]
    (1 to nSlices).foreach { i =>
      val slice = sliceFor(i, state.maxDocId + 1L)
      slices = slices :+ slice
      if (layout == "bucketed") {
        // the co-located-probe claim, asserted on EVERY day of the chain:
        // under forced shuffle joins, no Exchange between any probe join
        // and its bucketed index scan (the slice side shuffles; the
        // corpus-sized index side must not)
        val ex = probeIndexExchanges(spark, slice, state, stateDir)
        require(ex.values.forall(_ == 0),
          s"chain slice $i: expected 0 index-side exchanges on bucketed state, got $ex")
        probeAudits += ex.values.max
      }
      val t = System.nanoTime()
      val r = graft.corpus.CorpusPipeline.runIncremental(slice, state)
      val packed = r.manifest.find(_.stage == "packed_sharded").map(_.rows).getOrElse(0L)
      walls += (System.nanoTime() - t) / 1e9
      survivors += packed
      state = r.state.get
      if (layout == "bucketed") {
        // today's rolled state commits to day i's fresh dir+prefix, then
        // the chain continues off the RELOADED bucketed tables; day i-1
        // retires only after the commit (crash-safe rotation order)
        val tp = System.nanoTime()
        cs.writeBucketed(state, dayDir(i), dayPrefix(i))
        state = cs.loadBucketed(spark, dayDir(i), dayPrefix(i))
        stateDir = dayDir(i)
        persistWalls += (System.nanoTime() - tp) / 1e9
        retire(i - 1)
      } else if (i == roundTripAt) {
        // mid-chain parquet round-trip: the rest of the chain runs off
        // yesterday's persisted tables, the actual daily deployment shape
        val dir = java.nio.file.Files.createTempDirectory(s"chain_state_$i").toString
        cs.write(state, dir)
        state = cs.load(spark, dir)
      }
    }

    // the endurance gate: final chained corpus ≡ one full rebuild of
    // corpus ∪ every slice under the PINNED base tokenizer
    val t2 = System.nanoTime()
    val rebuilt = graft.corpus.CorpusPipeline.run(
      slices.foldLeft(corpus)(_ unionByName _), heldOut, tokenizer = "bpe",
      decontamShingle = 8,
      pinnedTokenizer = Some((base.merges, base.unigramVocab)))
    val (rn, rs) = corpusFingerprint(rebuilt.corpus)
    val rebuildWall = (System.nanoTime() - t2) / 1e9
    val (cn, csum) = corpusFingerprint(state.corpus)
    val equal = rn == cn && rs.compareTo(csum) == 0
    def secsJson(xs: Seq[Double]): String =
      xs.map(w => math.round(w * 10) / 10.0).mkString("[", ",", "]")
    val wallsJson = secsJson(walls.result())
    val survJson = survivors.result().mkString("[", ",", "]")
    val layoutJson = layout match {
      case "bucketed" =>
        s""","state_persist_walls_sec":${secsJson(persistWalls.result())}""" +
          s""","index_side_exchanges_max_per_slice":${
            probeAudits.result().mkString("[", ",", "]")}"""
      case _ => s""","round_trip_after_slice":$roundTripAt"""
    }
    println(
      s"""{"metric":"corpus_chain","n_slices":$nSlices,""" +
        s""""corpus_sf":"$corpusSf","slice_sf":"$sliceSf",""" +
        s""""state_layout":"$layout",""" +
        s""""base_wall_sec":${math.round(baseWall * 10) / 10.0},""" +
        s""""slice_walls_sec":$wallsJson,"slice_survivors":$survJson$layoutJson,""" +
        s""""rebuild_wall_sec":${math.round(rebuildWall * 10) / 10.0},""" +
        s""""final_rows":$cn,"final_equals_rebuild":$equal}""")
    require(equal,
      s"chain final corpus != full rebuild: chained ($cn, $csum) vs rebuilt ($rn, $rs)")
    spark.stop()
  }
}
