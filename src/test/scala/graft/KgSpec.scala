package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._
import graft.model.Vocab

/** End-to-end KG pipeline tests: P/R gate, connected components,
  * resumability, salted-join equivalence. */
class KgSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-kg-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-kg-test")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** count() of each stage table that a Summary count reports. */
  private def tableRows(workDir: String): Map[String, Long] =
    Seq("docs", "failures", "mentions", "link_triples", "triples").map(t =>
      t -> spark.read.parquet(s"$workDir/$t").count()).toMap

  test("corpus generation is deterministic and order-independent") {
    val a = Corpus.doc(42L, 17L, 100L)
    val b = Corpus.doc(42L, 17L, 100L)
    assert(a == b)
    assert(a.src.content.nonEmpty && a.truth.nonEmpty)
    // different index, different doc
    assert(Corpus.doc(42L, 18L, 100L).src.content != a.src.content)
  }

  test("mixed corpus: one range yields the former 8-way union's documents") {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    // the former formulation, kept as the reference
    def union(n: Long, seed: Long) = {
      val rfc = spark.range(0, n, 1, par * 8).map(i => Corpus.doc(seed, i, n).src)
      val md = spark.range(0, n / 4, 1, par)
        .map(i => Corpus.mdDoc(seed, i, n).src)
      val html = spark.range(0, n / 4, 1, par)
        .map(i => Corpus.htmlDoc(seed, i, n).src)
      val law = spark.range(0, n / 4, 1, par)
        .map(i => Corpus.lawDoc(seed, i, n / 4).src)
      val dv = spark.range(0, n / 8, 1, par)
        .map(i => Corpus.dvDoc(seed, i, n / 8, n / 4).src)
      val w3c = spark.range(0, n / 8, 1, par)
        .map(i => Corpus.w3cDoc(seed, i).src)
      val wiki = spark
        .range(0, Corpus.wikiCategoryLabels.length.toLong, 1, par)
        .map(i => Corpus.wikiDoc(i).src)
      val eu = spark.range(0, Corpus.EuActN.toLong, 1, par)
        .map(i => Corpus.euDoc(i).src)
      rfc.union(md).union(html).union(law).union(dv).union(w3c)
        .union(wiki).union(eu)
    }
    // n = 7 leaves the n / 8 families empty
    Seq(KgQueries.N, 7L).foreach { n =>
      val ds = KgPipeline.synthesizeMixedInput(spark, n, KgQueries.Seed)
      assert(ds.rdd.getNumPartitions <= 2 * par)
      val got = ds.collect().toSeq.sortBy(_.toString)
      assert(got == union(n, KgQueries.Seed).collect().toSeq.sortBy(_.toString),
        s"n = $n")
    }
  }

  test("every generated document parses without error") {
    spark // force init
    val docs = Corpus.gen(7L, 60)
    docs.foreach { gd =>
      val p = graft.parse.RfcDoc.parse(gd.src)
      assert(p.uri.nonEmpty, s"no uri for ${gd.src.path}")
    }
  }

  test("connected components: chain, star, cycle, singleton-free") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),          // chain -> comp a
      ("x", "hub"), ("y", "hub"), ("z", "hub"),    // star  -> comp hub
      ("p", "q"), ("q", "r"), ("r", "p")           // cycle -> comp p
    ).toDF("src", "dst")
    val cc = Cc.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d").forall(cc(_) == "a"))
    assert(Seq("x", "y", "z", "hub").forall(cc(_) == "hub"))
    assert(Seq("p", "q", "r").forall(cc(_) == "p"))
  }

  test("connected components match union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    (0 until 3).foreach { round =>
      val nNodes = 60 + round * 40
      val nEdges = nNodes + rnd.nextInt(nNodes)
      val edges = (0 until nEdges).map { _ =>
        (s"n${rnd.nextInt(nNodes)}", s"n${rnd.nextInt(nNodes)}")
      }.filter { case (a, b) => a != b }
      // independent oracle: classic union-find
      val parent = scala.collection.mutable.Map.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra < rb) rb else ra) = math.Ordering[String].min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // min-label within component must equal the union-find root-min:
      // normalize both sides to (node -> min member of its component)
      val byComp = expected.groupBy(_._2).view
        .mapValues(_.keys.min).toMap
      val want = expected.map { case (v, r) => v -> byComp(r) }
      // exercise BOTH implementations: driver union-find fast path and
      // the distributed min-label loop (localByteBudget = 0 forces it)
      val gotLocal = Cc.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val gotDist = Cc.connectedComponents(edges.toDF("src", "dst"),
          localByteBudget = 0)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotLocal == want, s"round $round: local CC mismatch")
      assert(gotDist == want, s"round $round: distributed CC mismatch")
    }
  }

  test("driver fast-path gate is byte-budgeted: flips on width, not just count") {
    import spark.implicits._
    // same ROW count, different widths (VERDICT r3 "What's wrong" #2): 500
    // narrow edges fit a 256 KB budget; 500 edges of 512-char URIs must not
    val narrow = (0 until 500).map(i => (s"a$i", s"b$i")).toDF("src", "dst")
    val pad = "x" * 512
    val wide = (0 until 500).map(i => (s"a$i$pad", s"b$i$pad"))
      .toDF("src", "dst")
    val budget = 256L << 10
    assert(Cc.fitsDriverBudget(narrow, "src", "dst", budget))
    assert(!Cc.fitsDriverBudget(wide, "src", "dst", budget))
    // ... and still flips on count: the row ceiling alone busts a budget
    // sized below the row count (probe is limit-bounded, never a full scan)
    assert(!Cc.fitsDriverBudget(narrow, "src", "dst", 100 * 16))
    // both gate outcomes produce IDENTICAL components on the wide graph
    val wideChain = (0 until 20).map(i => (s"n$i$pad", s"n${i + 1}$pad"))
      .toDF("src", "dst")
    val viaLocal = Cc.connectedComponents(wideChain) // default budget: local
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaDist = Cc.connectedComponents(wideChain, localByteBudget = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaLocal == viaDist)
    assert(viaLocal.nonEmpty)
  }

  test("the driver byte gate runs one query per call") {
    import spark.implicits._
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    // a marker query flushes the listener queue (events arrive in order)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("graft_marker"))
          flushed.countDown()
        else calls.add(f)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = calls.add(f)
    }
    val narrow = (0 until 500).map(i => (s"a$i", s"b$i")).toDF("src", "dst")
    spark.listenerManager.register(listener)
    try {
      assert(Cc.fitsDriverBudget(narrow, "src", "dst", 256L << 10))
      assert(!Cc.fitsDriverBudget(narrow, "src", "dst", 100 * 16))
      assert(Cc.fitsDriverBudget(narrow.limit(0), "src", "dst", 0L))
      spark.range(1).toDF("graft_marker").collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(calls.size == 3, s"executions: $calls")
  }

  test("lineage longKey equals the hex-string key on edge and random longs") {
    import spark.implicits._
    val rnd = new scala.util.Random(60)
    val vs = Seq(0L, (1L << 60) - 1, 1L << 60, -1L, Long.MinValue) ++
      Seq.fill(2000)(rnd.nextLong() >>> rnd.nextInt(64))
    // the former m2 key: hex, lower-cased, first 15 digits, back to a long
    val keys = vs.toDF("v").repartition(2).select(
        conv(substring(lower(hex(col("v"))), 1, 15), 16, 10).cast("long"),
        KgStages.longKey(col("v")))
      .as[(Long, Long)].collect()
    assert(keys.length == vs.length)
    keys.foreach { case (old, key) => assert(key == old) }
  }

  test("canonFromEdges prefers the minted /rfc/ URI over lexicographic min") {
    import spark.implicits._
    val edges = Seq(
      ("https://example.org/legacy/rfc1000", "https://example.org/rfc/1000"),
      ("https://example.org/old/ietf-doc-1000", "https://example.org/legacy/rfc1000"))
      .toDF("src", "dst")
    val canon = KgPipeline.canonFromEdges(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon("https://example.org/legacy/rfc1000") == "https://example.org/rfc/1000")
    assert(canon("https://example.org/old/ietf-doc-1000") == "https://example.org/rfc/1000")
    assert(!canon.contains("https://example.org/rfc/1000")) // identity rows dropped
  }

  test("depsFromMentions/skeletonFromMentions == linked-cache formulations") {
    // the pipeline's aggregate-first L stage must match the formulations
    // over the mention x dictionary join (the oracle's kg_linked table),
    // row for row
    val input = KgPipeline.synthesizeInput(spark, 300, 42L)
    val parsed = KgStages.parseStage(input).persist()
    val mentions = KgStages.mentionsDf(parsed)
    val dict = KgStages.entityDictionary(KgStages.docTriplesDf(parsed))
    val linked = KgStages.linkStage(mentions, dict).persist()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // the reference side: resolved rows grouped by target, and the
    // distinct unresolved non-URLRef keys
    val depsA = linked.filter(col("resolved"))
      .groupBy(col("candidateKey").as("target"))
      .agg(sort_array(collect_set(col("docId"))).as("sources"),
        count(lit(1)).as("n_refs"))
    val skelA = linked.filter(!col("resolved") && col("grammar") =!= "URLRef")
      .select(col("candidateKey").as("uri")).distinct()
    // both settings of the pipeline's broadcastDict knob
    for (bc <- Seq(true, false)) {
      val depsB = KgStages.depsFromMentions(mentions, dict, broadcastDict = bc)
      assert(rows(depsA) == rows(depsB), s"deps, broadcastDict=$bc")
      assert(depsA.columns.toSeq == depsB.columns.toSeq)
      val skelB = KgStages.skeletonFromMentions(mentions,
        depsB.select(org.apache.spark.sql.functions.col("target")),
        broadcastDict = bc)
      assert(rows(skelA) == rows(skelB), s"skeleton, broadcastDict=$bc")
      assert(skelA.columns.toSeq == skelB.columns.toSeq)
    }
    assert(rows(depsA).nonEmpty && rows(skelA).nonEmpty)
    linked.unpersist(); parsed.unpersist()
  }

  test("canonFromEdges: driver fast path and distributed path produce identical rows") {
    import spark.implicits._
    // chains + a star, mixing minted (/rfc/) and plain URIs so the rep
    // pick exercises both rank tiers
    val edges = ((0 until 40).map(i =>
        (s"https://example.org/alias/a$i", s"https://example.org/rfc/${i % 7}")) ++
      (0 until 10).map(i =>
        (s"https://example.org/alias/b$i", s"https://example.org/alias/a$i")))
      .toDF("src", "dst")
    val viaLocal = KgPipeline.canonFromEdges(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaDist = KgPipeline.canonFromEdges(edges, localByteBudget = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaLocal == viaDist)
    assert(viaLocal.nonEmpty)
  }

  test("pipeline end-to-end: P/R >= 0.95 vs ground truth (target: 1.0)") {
    val conf = KgPipeline.Conf(workDir = tmpDir(), n = 80, seed = 42L)
    val s = KgPipeline.runSynthetic(spark, conf)
    assert(s.failedRows == 0, s"parse failures: ${s.failedRows}")
    assert(s.parsedRows == 80)
    assert(s.tripleCount > 0 && s.linkCount > 0)
    // every Summary count is the row count of the table its write produced
    assert(s.inputRows == 80)
    assert(tableRows(conf.workDir) == Map("docs" -> s.parsedRows,
      "failures" -> s.failedRows, "mentions" -> s.mentionCount,
      "link_triples" -> s.linkCount, "triples" -> s.tripleCount))

    val actual = spark.read.parquet(s"${conf.workDir}/triples")
    val expected = KgPipeline.groundTruth(spark, conf.n, conf.seed).toDF()
    val prf = Scoring.score(actual, expected)
    info(f"P=${prf.precision}%.4f R=${prf.recall}%.4f " +
      f"(tp=${prf.tp} fp=${prf.fp} fn=${prf.fn})")
    if (prf.precision < 1.0 || prf.recall < 1.0) {
      Scoring.diff(actual, expected).orderBy("side", "subj", "pred")
        .show(40, 120)
    }
    assert(prf.precision >= 0.95, f"precision ${prf.precision}%.4f < 0.95")
    assert(prf.recall >= 0.95, f"recall ${prf.recall}%.4f < 0.95")
  }

  test("sha256 invariant: docs table hash equals sha256 of input content") {
    import spark.implicits._
    val conf = KgPipeline.Conf(workDir = tmpDir(), n = 20, seed = 9L)
    KgPipeline.runSynthetic(spark, conf)
    val input = KgPipeline.synthesizeInput(spark, 20, 9L)
      .withColumn("insha", sha2(col("content"), 256))
      .withColumn("docId", concat_ws("", col("repo"), lit("/"), col("path"),
        lit("@"), col("commit")))
      .select("docId", "insha")
    val docs = spark.read.parquet(s"${conf.workDir}/docs")
      .select("docId", "sha256")
    val mismatches = docs.join(input, "docId")
      .filter(col("sha256") =!= col("insha")).count()
    val joined = docs.join(input, "docId").count()
    assert(joined == 20 && mismatches == 0)
  }

  test("resume: second run with same input parses zero new rows") {
    val wd = tmpDir()
    val c1 = KgPipeline.Conf(workDir = wd, n = 30, seed = 5L)
    val s1 = KgPipeline.runSynthetic(spark, c1)
    assert(s1.inputRows == 30)
    val c2 = c1.copy(resume = true, runId = "run1")
    val s2 = KgPipeline.runSynthetic(spark, c2)
    assert(s2.inputRows == 0, s"resume should skip all rows, got ${s2.inputRows}")
    // triple table unchanged in content
    assert(s2.tripleCount == s1.tripleCount)
  }

  test("resume over added documents: counts are this run's writes, no count job") {
    val wd = tmpDir()
    val all = KgPipeline.synthesizeInput(spark, 30, 5L)
    val keep = new scala.util.Random(5L)
      .shuffle(all.collect().map(_.path).toSeq).take(20).toSet
    val conf = KgPipeline.Conf(workDir = wd, n = 30, seed = 5L)
    def run(input: org.apache.spark.sql.Dataset[graft.model.SourceFile],
            c: KgPipeline.Conf) = KgPipeline.run(spark, c, input,
      KgPipeline.sameAsEdges(spark, 30), KgPipeline.curatedTriples(spark, 30))
    val s1 = run(all.filter(f => keep(f.path)), conf)
    assert(s1.inputRows == 20)
    val before = tableRows(wd)

    // record the call site of every job (its result stage's name) and of
    // every SQL action (its description: under AQE a Dataset action's jobs
    // are submitted from a stage-materialization thread and carry that
    // thread's call site instead); a marker job flushes the listener queue
    // (events reach one listener in order), so no start event is missed
    val callSites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.marker") != null) flushed.countDown()
        else callSites.add(e.stageInfos.maxBy(_.stageId).name)
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case q: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          callSites.add(q.description)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val s2 = try {
      val s = run(all, conf.copy(resume = true, runId = "run1"))
      spark.sparkContext.setLocalProperty("graft.marker", "end")
      spark.range(1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      s
    } finally {
      spark.sparkContext.setLocalProperty("graft.marker", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    val after = tableRows(wd)
    assert(s2.inputRows == s2.parsedRows + s2.failedRows)
    assert(s2.inputRows == 30 - before("docs"), "pending = documents not in docs")
    assert(s2.parsedRows == after("docs") - before("docs"))
    assert(s2.failedRows == after("failures") - before("failures"))
    assert(s2.mentionCount == after("mentions") - before("mentions"))
    assert(s2.tripleCount == after("triples"))
    assert(s2.linkCount == after("link_triples"))
    import scala.jdk.CollectionConverters._
    val countJobs = callSites.asScala
      .filter(_.startsWith("count at KgPipeline.scala:"))
    assert(countJobs.isEmpty, s"count jobs in the resume run: $countJobs")
    assert(callSites.asScala.exists(_.startsWith("save at KgPipeline.scala:")))
    // the added documents were parsed, not only recorded in docs: the
    // resumed tables hold what a clean run over all 30 documents commits
    assert(after("mentions") > before("mentions"), "no mentions appended")
    val clean = tmpDir()
    run(all, conf.copy(workDir = clean))
    def bag(dir: String): Map[String, Int] = {
      val t = spark.read.parquet(s"$dir/triples")
      t.select(t.columns.sorted.map(col).toIndexedSeq: _*).collect()
        .groupBy(_.toString).view.mapValues(_.length).toMap
    }
    assert(bag(wd) == bag(clean))
  }

  /** One pipeline run over a corpus of more than 32 repos (Spark's
    * parallel partition-discovery threshold), recording every job's
    * description and the plan of the `triples` write. AQE partition
    * coalescing is off for the run: a test-sized corpus would otherwise
    * merge all shuffle partitions into one write task, which hides the
    * salt's split of a mega-repo that a full-sized corpus keeps. */
  private lazy val laidOut = {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val n = 160L
    val conf = KgPipeline.Conf(workDir = tmpDir(), n = n, seed = 21L)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.marker") != null) flushed.countDown()
        else Option(e.properties.getProperty("spark.job.description"))
          .foreach(descriptions.add)
    }
    @volatile var writePlan: org.apache.spark.sql.execution.SparkPlan = null
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.getName == "triples" =>
            writePlan = qe.executedPlan
          case _ =>
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    try {
      KgPipeline.runSynthetic(spark, conf)
      spark.sparkContext.setLocalProperty("graft.marker", "end")
      spark.range(1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.setLocalProperty("graft.marker", null)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      spark.conf.unset(coalesce)
    }
    import scala.jdk.CollectionConverters._
    (conf, descriptions.asScala.toSeq, writePlan)
  }

  test("triples: lang directories only, each file clustered by repo") {
    val (conf, _, _) = laidOut
    val dir = new java.io.File(s"${conf.workDir}/triples")
    // hidden entries are the local filesystem's .crc checksums
    val (dirs, files) = dir.listFiles().filterNot(_.getName.startsWith("."))
      .partition(_.isDirectory)
    assert(files.map(_.getName).toSeq == Seq("_SUCCESS"))
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("lang=")),
      dirs.map(_.getName).mkString(", "))
    val parquet = dirs.toSeq.flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    assert(parquet.nonEmpty)
    import spark.implicits._
    parquet.foreach { f =>
      // one small file is one read partition, read in file order
      val repos = spark.read.parquet(f.getPath).select("repo")
        .as[Option[String]].collect().toSeq
      assert(repos == repos.sorted, s"${f.getName} is not clustered by repo")
    }
  }

  test("triples: same rows, schema and m2 lineage as the (repo, lang) layout") {
    val (conf, _, _) = laidOut
    def rd(t: String) = spark.read.parquet(s"${conf.workDir}/$t")
    // the same materialize output, written with the former layout
    val formerDir = s"${tmpDir()}/triples"
    KgStages.materialize(
        KgStages.fuzzyUpgrade(rd("doc_triples"), EntityDict.publishers,
          Seq(Vocab.dcterms("publisher"))),
        rd("link_triples"), KgPipeline.curatedTriples(spark, conf.n),
        rd("canon"))
      .write.partitionBy("repo", "lang").parquet(formerDir)
    val (now, former) = (rd("triples"), spark.read.parquet(formerDir))
    assert(now.schema == former.schema)
    assert(now.columns.toSeq.takeRight(3) == Seq("graph", "repo", "lang"))
    def bag(t: org.apache.spark.sql.DataFrame): Map[String, Int] =
      t.collect().groupBy(_.toString).view.mapValues(_.length).toMap
    assert(former.filter(col("repo").isNull).count() > 0, "no curated rows")
    assert(bag(now) == bag(former))
    // m2 lineage as the former layout's read-back yields it
    def m2(l: org.apache.spark.sql.DataFrame) =
      bag(l.drop("runId", "committedAt"))
    assert(m2(rd("lineage").filter(col("stage") === "materialize")) ==
      m2(KgStages.lineageDf(former, KgStages.longKey(xxhash64(col("subj"),
        col("pred"), col("obj"), col("graph"))), "materialize", "former")))
  }

  test("triples: the write plans one Exchange and one Sort, on (lang, repo)") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    val (_, _, plan) = laidOut
    assert(plan != null, "no triples write seen")
    // the broadcast canon map and upgrade table are built by their own
    // jobs; only the path from the scan to the writer counts here
    def main(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => main(a.executedPlan)
      case q: QueryStageExec => main(q.plan)
      case _ => p +: p.children.flatMap(main)
    }
    val nodes = main(plan)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1, plan)
    val sorts = nodes.collect { case s: SortExec => s }
    assert(sorts.map(_.sortOrder.map(_.child.references.head.name)) ==
      Seq(Seq("lang", "repo")), plan)
  }

  test("triples read-back launches no partition-listing job") {
    val (conf, descriptions, _) = laidOut
    // the premise: the former layout put more than 32 repo= directories
    // under the table root, which Spark lists with a distributed job
    val repos = spark.read.parquet(s"${conf.workDir}/triples")
      .select("repo").distinct().count()
    assert(repos > 32, s"only $repos repos")
    assert(!descriptions.exists(_.startsWith("Listing leaf files")),
      descriptions.filter(_.startsWith("Listing")).mkString("; "))
  }

  test("materialize's salt spreads the mega-repo over several files") {
    val (conf, _, _) = laidOut
    val files = spark.read.parquet(s"${conf.workDir}/triples")
      .filter(col("repo") === Corpus.megaRepo)
      .select(input_file_name()).distinct().count()
    assert(files >= 2, s"$files file(s) hold ${Corpus.megaRepo}")
  }

  test("parse isolates a document whose parser overflows the stack") {
    import spark.implicits._
    // one tag with 100 000 attributes: HtmlDoc's tag regex recurses once
    // per attribute
    val hostile = graft.model.SourceFile("hostile", "deep.html", "c0", "en",
      "<html><body><p" + " a=\"1\"" * 100000 + ">x</p></body></html>")
    val input = hostile +: Corpus.gen(7L, 20).map(_.src)
    val parsed = KgStages.parseStage(spark.createDataset(input)).persist()
    val docs = KgStages.docsDf(parsed).select("path").as[String].collect()
    val failed = KgStages.failuresDf(parsed).select("path", "error")
      .as[(String, String)].collect()
    parsed.unpersist()
    assert((docs ++ failed.map(_._1)).sorted.toSeq == input.map(_.path).sorted)
    assert(failed.map(_._1).toSeq == Seq("deep.html"))
    assert(failed.head._2.startsWith("StackOverflowError"), failed.head._2)
  }

  test("inParallel waits for every branch before rethrowing the first failure") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](KgPipeline.inParallel(
      () => { started.await(); throw new IllegalStateException("boom") },
      () => { started.countDown(); Thread.sleep(500); slowDone.set(true) },
      () => throw new IllegalArgumentException("second")))
    assert(slowDone.get, "returned while a sibling branch was still running")
    assert(e.getMessage == "boom")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("fuzz: arbitrary text never crashes the parse stage (parse or fail-capture)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val junkChars = "ab \n\f#-:.[]()0123456789```RFCsection of"
    val docs = (0 until 120).map { i =>
      val len = rnd.nextInt(400)
      val content = (0 until len).map(_ => junkChars(rnd.nextInt(junkChars.length))).mkString
      graft.model.SourceFile(s"r${i % 3}", s"f/$i${if (i % 4 == 0) ".md" else ".txt"}",
        s"c$i", "en", content)
    }
    val parsed = KgStages.parseStage(spark.createDataset(docs)).persist()
    val ok = KgStages.docsDf(parsed).count()
    val bad = KgStages.failuresDf(parsed).count()
    assert(ok + bad == 120)
    parsed.unpersist()
  }

  test("poison rows land in the failures table, never kill the job") {
    import spark.implicits._
    val good = Corpus.gen(3L, 4).map(_.src)
    val poison = graft.model.SourceFile("repo-x", "bad/one.txt", "c1", "en",
      "no rfc header here\n\njust prose.")
    val empty = graft.model.SourceFile("repo-x", "bad/two.txt", "c2", "en", "")
    val parsed = KgStages.parseStage(
      spark.createDataset(good :+ poison :+ empty))
    val failures = KgStages.failuresDf(parsed).collect()
    val docs = KgStages.docsDf(parsed).collect()
    assert(docs.length == 4)
    assert(failures.length == 2)
    assert(failures.forall(_.getAs[String]("error") != null))
    // failed rows still carry the content hash (lineage invariant)
    assert(failures.forall(_.getAs[String]("sha256").length == 64))
  }

  test("salted link join produces identical results to broadcast join") {
    import spark.implicits._
    val conf = KgPipeline.Conf(workDir = tmpDir(), n = 40, seed = 11L)
    val input = KgPipeline.synthesizeInput(spark, 40, 11L)
    val parsed = KgStages.parseStage(input).persist()
    val mentions = KgStages.mentionsDf(parsed)
    val dict = KgStages.entityDictionary(KgStages.docTriplesDf(parsed))
    def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(concat_ws("|", col("subj"), col("pred"), col("obj"),
        col("graph"))).collect().map(_.getString(0)).toSet
    val a = asSet(KgStages.linkTriplesDf(
      KgStages.linkStage(mentions, dict, broadcastDict = true)))
    val b = asSet(KgStages.linkTriplesDf(
      KgStages.linkStage(mentions, dict, broadcastDict = false, salt = 4)))
    assert(a == b)
    assert(a.nonEmpty)
    parsed.unpersist()
  }

  test("confFromArgs parses every option and rejects malformed arguments") {
    val (conf, patchDir) = KgPipeline.confFromArgs(Seq(
      "--work-dir", "/w", "--n", "500", "--seed", "7", "--format", "orc",
      "--resume", "true", "--broadcast-dict", "false", "--run-id", "r9",
      "--patch-dir", "/p"))
    assert(conf == KgPipeline.Conf(workDir = "/w", n = 500, seed = 7L,
      format = "orc", resume = true, broadcastDict = false, runId = "r9"))
    assert(patchDir.contains("/p"))
    assert(KgPipeline.confFromArgs(Nil) ==
      (KgPipeline.Conf(workDir = "/tmp/graft-kg"), None))
    for ((args, named) <- Seq(
        Seq("--resum", "true") -> "--resum",
        Seq("--seed", "1", "--n") -> "--n",
        Seq("--salt", "8") -> "--salt",
        Seq("--n", "many") -> "--n")) {
      val e = intercept[IllegalArgumentException](KgPipeline.confFromArgs(args))
      assert(e.getMessage.contains(named), e.getMessage)
    }
  }

  test("fuzzy upgrade links typo'd publisher literals at ratio >= 0.8") {
    import spark.implicits._
    val g = "g"
    val triples = Seq(
      graft.model.Triple.lit("d1", Vocab.dcterms("publisher"),
        "Internet Enginering Task Force (IETF)", g),
      graft.model.Triple.lit("d2", Vocab.dcterms("publisher"),
        "Acme Packet Industries", g),
      graft.model.Triple.lit("d1", Vocab.dcterms("title"), "T", g))
      .toDS().toDF()
      .withColumn("repo", lit("r")).withColumn("lang", lit("en"))
    val up = KgStages.fuzzyUpgrade(triples, EntityDict.publishers,
      Seq(Vocab.dcterms("publisher")))
    val rows = up.collect()
    val d1 = rows.find(r => r.getAs[String]("subj") == "d1" &&
      r.getAs[String]("pred") == Vocab.dcterms("publisher")).get
    assert(d1.getAs[String]("obj") == "https://example.org/org/ietf")
    assert(!d1.getAs[Boolean]("objIsLiteral"))
    val d2 = rows.find(r => r.getAs[String]("subj") == "d2").get
    assert(d2.getAs[Boolean]("objIsLiteral")) // no close label -> stays literal
    // unrelated predicate untouched
    assert(rows.exists(r => r.getAs[String]("pred") == Vocab.dcterms("title") &&
      r.getAs[Boolean]("objIsLiteral")))
  }
  test("patch_if_needed: unified diff applied before parse, desc carried, conflicts captured") {
    import spark.implicits._
    val d = Corpus.doc(42L, 3L, 10L)
    // craft a patch against the real document: retitle its first section
    val lines = d.src.content.split("\n", -1)
    val idx = lines.indexWhere(_.startsWith("1.  "))
    assert(idx >= 0)
    val patch =
      s"""@@ -${idx + 1},1 +${idx + 1},1 @@ retitle section 1
         |-${lines(idx)}
         |+1.  Patched Heading
         |""".stripMargin
    val patches = Seq(
      (d.src.repo, d.src.path, patch, null: String),
      ("no-such-repo", "x", patch, null: String)).toDF("repo", "path", "patch", "desc")
    val out = KgStages.patchStage(
      spark.createDataset(Seq(d.src)), patches).collect()
    assert(out.length == 1)
    assert(out.head.patchError.isEmpty)
    assert(out.head.patchDesc.contains("retitle section 1"))
    val parsed = graft.parse.DocParsers.parse(out.head.toSourceFile)
    assert(parsed.triples.exists(t =>
      t.pred == graft.model.Vocab.dcterms("title") && t.obj == "Patched Heading"))
    // fuzz: patch written against a shifted line number still applies
    val shifted = patch.replaceFirst(s"@@ -${idx + 1},1 \\+${idx + 1},1",
      s"@@ -${idx - 3},1 +${idx - 3},1")
    val out2 = KgStages.patchStage(spark.createDataset(Seq(d.src)),
      Seq((d.src.repo, d.src.path, shifted, null: String))
        .toDF("repo", "path", "patch", "desc")).collect()
    assert(out2.head.patchError.isEmpty && out2.head.content.contains("Patched Heading"))
    // conflict: context that matches nowhere is captured, not thrown
    val bad = "@@ -1,1 +1,1 @@ bad\n-THIS LINE DOES NOT EXIST ANYWHERE\n+x\n"
    val out3 = KgStages.patchStage(spark.createDataset(Seq(d.src)),
      Seq((d.src.repo, d.src.path, bad, null: String))
        .toDF("repo", "path", "patch", "desc")).collect()
    assert(out3.head.patchError.isDefined)
    assert(out3.head.content == d.src.content) // original text untouched
  }
  test("pipeline with a patch table: patched content flows through, audited") {
    import spark.implicits._
    val n = 20L
    val d = Corpus.doc(42L, 5L, n)
    val lines = d.src.content.split("\n", -1)
    val idx = lines.indexWhere(_.startsWith("1.  "))
    val patch =
      s"""@@ -${idx + 1},1 +${idx + 1},1 @@ pipeline retitle
         |-${lines(idx)}
         |+1.  Pipeline Patched Heading
         |""".stripMargin
    val patches = Seq((d.src.repo, d.src.path, patch, null: String))
      .toDF("repo", "path", "patch", "desc")
    val wd = java.nio.file.Files.createTempDirectory("graft-patch-e2e").toString
    val s = KgPipeline.run(spark,
      KgPipeline.Conf(workDir = wd, n = n, seed = 42L, runId = "patch-e2e"),
      KgPipeline.synthesizeInput(spark, n, 42L),
      KgPipeline.sameAsEdges(spark, n),
      KgPipeline.curatedTriples(spark, n),
      patches = Some(patches))
    assert(s.parsedRows == n)
    val audited = spark.read.parquet(s"$wd/patches").collect()
    assert(audited.length == 1)
    assert(audited.head.getString(2) == "pipeline retitle")
    val triples = spark.read.parquet(s"$wd/triples")
    assert(triples.filter(org.apache.spark.sql.functions.col("obj") ===
      "Pipeline Patched Heading").count() == 1)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wd))
  }
}
