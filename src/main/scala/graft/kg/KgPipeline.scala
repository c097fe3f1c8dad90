package graft.kg

import graft.model.{SourceFile, Triple, Vocab}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline driver (the spark-submit entry the
  * north_rule asks for): parse → link → canonicalize → materialize over the
  * Iceberg-shaped input, each stage persisted as a table under `workDir`,
  * lineage committed after stage data (write-audit-publish order,
  * SURVEY.md §7.5), resumable via the lineage/docs anti-join.
  *
  * The storage format string is isolated here: locally "parquet"; on a real
  * cluster `format=iceberg` is a drop-in (SURVEY.md §7.5 — no Iceberg jars
  * in this sandbox).
  */
object KgPipeline {

  final case class Conf(
      workDir: String,
      n: Long = 1000,
      seed: Long = 42L,
      format: String = "parquet",
      resume: Boolean = false,
      broadcastDict: Boolean = true,
      runId: String = "run0")

  /** What one run wrote. Every count is the rows THIS run wrote, observed
    * on the write that produced the table. In a resume run `parsedRows`,
    * `failedRows` and `mentionCount` therefore count the appended rows, and
    * `inputRows` (= parsedRows + failedRows) the pending rows;
    * `tripleCount` and `linkCount` count the whole tables, which every run
    * rewrites. */
  final case class Summary(
      inputRows: Long,
      parsedRows: Long,
      failedRows: Long,
      tripleCount: Long,
      mentionCount: Long,
      linkCount: Long,
      durationSec: Double,
      stageSec: Map[String, Double] = Map.empty) {
    def triplesPerSec: Double =
      if (durationSec > 0) tripleCount / durationSec else 0.0
  }

  /** Synthesize the input table on executors — the corpus is a pure
    * function of (seed, i, n), so no driver-side materialization. */
  def synthesizeInput(spark: SparkSession, n: Long,
                      seed: Long): Dataset[SourceFile] = {
    import spark.implicits._
    // 8x overdecomposition: parse tasks are seconds-long, and coarse
    // partitions make the stage straggler-bound (one slow task = one core
    // idle fleet). Small tasks also give AQE real statistics to work with.
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 8)
      .map(i => Corpus.doc(seed, i, n).src)
  }

  /** Ground-truth triples for the synthesized corpus (P/R oracle). */
  def groundTruth(spark: SparkSession, n: Long, seed: Long): Dataset[Triple] = {
    import spark.implicits._
    val docTruth = spark.range(0, n, 1,
        spark.sparkContext.defaultParallelism)
      .flatMap(i => Corpus.doc(seed, i, n).truth)
    val (_, aliasTruth) = Corpus.aliasTriples(seed, n)
    docTruth.union(spark.createDataset(aliasTruth))
  }

  /** Stage C: the canonical map (uri, canon) over undirected sameAs
    * `edges` (src, dst). Component representative: prefer the MINTED forms
    * — canonical /rfc/ URIs and this engine's own /sfs/ space (a law's rinfo
    * owl:sameAs equivalent must fold INTO the minted act URI, not absorb
    * it) — else lexicographic min. Only rows that actually change
    * (uri != canon) are output, to keep the rewrite broadcast small.
    *
    * ONE driver byte gate for CC + rep pick: below `localByteBudget` the
    * whole stage runs driver-side off a single collect (union-find, then
    * canonMapLocal) instead of gating CC and the rep pick separately — each
    * gate is driver-serial job latency. Above the budget: the distributed
    * CC and rep pick. Both paths produce identical rows (asserted in
    * KgSpec). */
  def canonFromEdges(edges: DataFrame,
                     localByteBudget: Long = Cc.LocalByteBudget): DataFrame = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
      .persist()
    try {
      if (Cc.fitsDriverBudget(e0, "src", "dst", localByteBudget)) {
        val pairs = e0.collect().map(r => (r.getString(0), r.getString(1)))
        Cc.parallelizePairs(edges.sparkSession,
          canonMapLocal(Cc.localComponentPairs(pairs)))
      } else canonMap(Cc.distributedComponents(e0))
    } finally e0.unpersist(blocking = false)
  }

  /** Driver-side rep pick over (uri, minLabelComp) pairs — the exact
    * semantics of canonMap (rank tier, then min string; identity rows
    * dropped). */
  def canonMapLocal(rows: Seq[(String, String)]): Seq[(String, String)] = {
    def rk(uri: String): Int =
      if (uri.contains("/rfc/") ||
        uri.startsWith(s"${EntityDict.base}/sfs/")) 0 else 1
    val rep = rows.groupBy(_._2).map { case (comp, members) =>
      comp -> members.map(_._1).minBy(u => (rk(u), u))
    }
    rows.collect { case (uri, comp) if rep(comp) != uri => (uri, rep(comp)) }
  }

  /** Distributed rep pick over the CC output (uri, canon). */
  private def canonMap(cc: DataFrame): DataFrame = {
    val ranked = cc.withColumn("rk",
      when(col("uri").contains("/rfc/") ||
        col("uri").startsWith(s"${EntityDict.base}/sfs/"), lit(0))
        .otherwise(lit(1)))
    ranked.groupBy(col("canon").as("comp"))
      .agg(min(struct(col("rk"), col("uri"))).as("rep"))
      .select(col("comp"), col("rep.uri").as("repUri"))
      .join(cc, col("canon") === col("comp"))
      .select(col("uri"), col("repUri").as("canon"))
      .filter(col("uri") =!= col("canon"))
  }

  /** Independent same-stage writes are submitted as CONCURRENT Spark jobs
    * (the local scheduler interleaves their tasks): a small write's tail
    * tasks no longer leave the rest of the cores idle. Waits for EVERY
    * branch, then rethrows the first failing branch's error with the others
    * suppressed — failing fast would return while sibling writes still run. */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val branches = fs.map(f => Future(blocking(f())))
    val errors = branches.flatMap(b =>
      Await.ready(b, Duration.Inf).value.get.failed.toOption)
    errors.headOption.foreach { e =>
      errors.tail.foreach(e.addSuppressed)
      throw e
    }
  }

  /** The committed stage tables, plus the inputs stages C and M read
    * uncommitted: `sameAs`, C's edges (curated ∪ parse-minted owl:sameAs);
    * `upgraded`, doc_triples after the fuzzy publisher upgrade; `curated`. */
  final case class Tables(docs: DataFrame, docTriples: DataFrame,
      mentions: DataFrame, failures: DataFrame, sameAs: DataFrame,
      canon: DataFrame, upgraded: DataFrame, curated: DataFrame,
      linkTriples: DataFrame, triples: DataFrame, deps: DataFrame,
      skeleton: DataFrame)

  /** The stage order and wiring, shared by [[run]] and `KgQueries.ctx`.
    * `commit(table, df)` makes `df` the named stage table and returns the
    * DataFrame later stages read: `run` writes and reads back, the query
    * context persists. `df` is by-name, so a commit can time the stage
    * that builds it. `alongsideP` runs with the rest of stage P once docs
    * is committed; `parsed` is the caller's to persist and release.
    *
    * C depends only on doc_triples, so it launches as soon as that commit
    * lands and its driver-serial pieces back-fill cores the P tail leaves
    * idle. deps and skeleton do not feed materialize, so they overlap the
    * triples commit's serial phases (output commit, stage tails). */
  def stages(parsed: Dataset[KgStages.ParseOut], sameAs: DataFrame,
             curated: DataFrame, broadcastDict: Boolean = true,
             alongsideP: DataFrame => Unit = _ => ())(
      commit: (String, => DataFrame) => DataFrame): Tables = {
    val docs = commit("docs", KgStages.docsDf(parsed))
    var docTriples, mentions, failures, edges, canon: DataFrame = null
    inParallel(
      () => {
        docTriples = commit("doc_triples", KgStages.docTriplesDf(parsed))
        edges = sameAs.toDF("src", "dst").unionByName(docTriples
          .filter(col("pred") === Vocab.OWL_SAMEAS && !col("objIsLiteral"))
          .select(col("subj").as("src"), col("obj").as("dst")))
        canon = commit("canon", canonFromEdges(edges))
      },
      () => mentions = commit("mentions", KgStages.mentionsDf(parsed)),
      () => failures = commit("failures", KgStages.failuresDf(parsed)),
      () => alongsideP(docs))
    val upgraded = KgStages.fuzzyUpgrade(docTriples, EntityDict.publishers,
      Seq(Vocab.dcterms("publisher")))
    var linkTriples, triples, deps, skeleton: DataFrame = null
    inParallel(
      () => {
        linkTriples = commit("link_triples", KgStages.linkTriplesDf(mentions))
        triples = commit("triples",
          KgStages.materialize(upgraded, linkTriples, curated, canon))
      },
      () => {
        deps = commit("deps", KgStages.depsFromMentions(mentions,
          KgStages.entityDictionary(docTriples), broadcastDict))
        skeleton = commit("skeleton", KgStages.skeletonFromMentions(mentions,
          deps.select(col("target")), broadcastDict))
      })
    Tables(docs, docTriples, mentions, failures, edges, canon, upgraded,
      curated, linkTriples, triples, deps, skeleton)
  }

  /** Run all stages over `input`, each committed as a table under
    * `conf.workDir`. Pass `sameAsEdges`/`curated` for the canonicalization
    * inputs (curated alias metadata, sameas.n3 role). */
  def run(spark: SparkSession, conf: Conf, input: Dataset[SourceFile],
          sameAs: DataFrame, curated: DataFrame,
          patches: Option[DataFrame] = None): Summary = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val fmt = conf.format
    val wd = conf.workDir
    val stageSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(f: => T): T = {
      val s = System.nanoTime()
      val r = f
      stageSec.synchronized {
        stageSec(name) = stageSec.getOrElse(name, 0.0) + (System.nanoTime() - s) / 1e9
      }
      r
    }

    def path(t: String) = s"$wd/$t"
    def read(t: String): DataFrame = spark.read.format(fmt).load(path(t))
    // Every table is written here; returns the rows this write committed,
    // observed on the write's own result stage (Spark applies a result
    // stage's accumulator updates once per task, so the count is exact) —
    // no re-read of the table and no extra count job. Unnamed observations
    // get unique names: overlapping runs cannot collide.
    //
    // A partitioned table is laid out by `lang` (few values) and clustered
    // by `repo` inside each write task, so each file's repo min/max stats
    // prune a repo filter. Directories per (repo, lang) cost one tiny file
    // per small repo, and the per-file write, commit and listing cost
    // dominated the triples commit. The task-local sort satisfies the
    // writer's own ordering on `lang`: no second Sort, no Exchange.
    def write(df: DataFrame, t: String, mode: String,
              partitioned: Boolean = false): Long = {
      val rows = Observation()
      val laid = if (partitioned) df.sortWithinPartitions("lang", "repo") else df
      val w = laid.observe(rows, count(lit(1)).as("rows")).write.mode(mode)
        .format(fmt)
      (if (partitioned) w.partitionBy("lang") else w).save(path(t))
      rows.get("rows").asInstanceOf[Long]
    }

    // ---- stage P (with resume: skip rows already parsed with same sha)
    val toParse: Dataset[SourceFile] =
      if (conf.resume && new java.io.File(s"${path("docs")}/_SUCCESS").exists())
        KgStages.pending(input, read("docs"))
      else input
    val mode = if (conf.resume) "append" else "overwrite"
    // the P tables grow on resume; every later table is rebuilt in full
    val grows = Set("docs", "doc_triples", "mentions", "failures")
    val stageOf = Map("docs" -> "p1_parse_docs", "doc_triples" -> "p2_doc_triples",
      "mentions" -> "p3_mentions", "failures" -> "p4_failures",
      "canon" -> "c1_cc", "link_triples" -> "l1_link_triples",
      "triples" -> "m1_materialize", "deps" -> "l2_deps",
      "skeleton" -> "l3_skeleton")
    val rows = scala.collection.concurrent.TrieMap.empty[String, Long]
    def commit(t: String, df: => DataFrame): DataFrame = {
      rows(t) = timed(stageOf(t))(write(df, t,
        if (grows(t)) mode else "overwrite", partitioned = t == "triples"))
      read(t)
    }

    // patch_if_needed before parse (documentrepository.py:1355-1404):
    // applied patches and conflicts are audited in their own stage table
    val patched = patches.map(pt => KgStages.patchStage(toParse, pt).persist())
    // persist the exploded outputs; ParseOut itself is transient. The
    // first commit materializes it; the rest of stage P (remaining tables
    // + lineage-after-docs, write-audit-publish order preserved: lineage
    // only reads the already-committed docs table) runs as concurrent jobs
    // against the cache.
    val parsed = KgStages.parseStage(
      patched.fold(toParse)(_.map(_.toSourceFile))).persist()
    val tables = try {
      patched.foreach(p => timed("p0_patches")(write(
        p.filter(col("patchDesc").isNotNull || col("patchError").isNotNull)
          .select("repo", "path", "patchDesc", "patchError"), "patches", mode)))
      stages(parsed, sameAs, curated, conf.broadcastDict, alongsideP = docs =>
        timed("p5_lineage")(write(KgStages.lineageDf(docs,
          KgStages.hexKey(col("sha256")), "parse", conf.runId),
          "lineage", "append")))(commit)
    } finally {
      parsed.unpersist()
      patched.foreach(_.unpersist())
    }
    // materialize-stage lineage fold: xxhash64, not sha2 — the fold only
    // needs order-independent stability, and crypto hashing 10^6+ triples
    // per run was a measured fixed cost (input-content sha256 stays
    // cryptographic in the parse lineage, where input_hint requires it)
    timed("m2_lineage")(write(KgStages.lineageDf(tables.triples,
      KgStages.longKey(xxhash64(col("subj"), col("pred"), col("obj"),
        col("graph"))), "materialize", conf.runId), "lineage", "append"))
    // each pending row maps to exactly one ParseOut, which lands in either
    // docs or failures
    Summary(rows("docs") + rows("failures"), rows("docs"), rows("failures"),
      rows("triples"), rows("mentions"), rows("link_triples"),
      (System.nanoTime() - t0) / 1e9, stageSec.toMap)
  }

  /** Mixed-family input: n RFC text files plus n/4 markdown READMEs plus
    * n/4 HTML pages plus n/4 Swedish statutes — DocParsers path dispatch
    * (first-wins composite semantics) runs inside the driver-verified
    * pipeline, not only in family specs, and the law family's structure
    * sub-resources (#K..P.. sections, SfsParser) flow through linking,
    * deps and the annotations isPartOf closure alongside rfc #S sections.
    * Executor-generated from ONE range, each global index mapped to
    * (family, local index) by prefix sums. Partitions are sized to the
    * data: the query context parses ~375 of these at ~1 ms each, so a
    * partition per family per core (1-6 documents each) would spend more
    * task CPU deserializing than parsing. */
  def synthesizeMixedInput(spark: SparkSession, n: Long,
                           seed: Long): Dataset[SourceFile] = {
    import spark.implicits._
    val families: Array[(Long, Long => SourceFile)] = Array(
      (n, i => Corpus.doc(seed, i, n).src),
      (n / 4, i => Corpus.mdDoc(seed, i, n).src),
      (n / 4, i => Corpus.htmlDoc(seed, i, n).src),
      (n / 4, i => Corpus.lawDoc(seed, i, n / 4).src),
      (n / 8, i => Corpus.dvDoc(seed, i, n / 8, n / 4).src),
      (n / 8, i => Corpus.w3cDoc(seed, i).src),
      (Corpus.wikiCategoryLabels.length.toLong, i => Corpus.wikiDoc(i).src),
      (Corpus.EuActN.toLong, i => Corpus.euDoc(i).src))
    val starts = families.scanLeft(0L)(_ + _._1)
    spark.range(0, starts.last, 1, 2 * spark.sparkContext.defaultParallelism)
      .map { g =>
        // the last family starting at or before g (empty families share
        // their successor's start and are skipped)
        val f = starts.indexWhere(_ > g) - 1
        families(f)._2(g - starts(f))
      }
  }

  /** Swedish-law corpus (the LawRef family), executor-generated like the
    * other families. */
  def synthesizeLawInput(spark: SparkSession, m: Long,
                         seed: Long): Dataset[SourceFile] = {
    import spark.implicits._
    spark.range(0, m, 1, spark.sparkContext.defaultParallelism)
      .map(i => Corpus.lawDoc(seed, i, m).src)
  }

  /** Curated sameAs edges, generated ON EXECUTORS (pure function of the
    * index, like synthesizeInput — a driver-side Vector contradicts the
    * 10^12-file scale argument and shipped 1.3 MiB tasks in round 1). */
  def sameAsEdges(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .flatMap(i => Corpus.sameAsEdgesFor(i)).toDF("src", "dst")
  }

  /** Curated alias-subject triples, executor-generated (see sameAsEdges). */
  def curatedTriples(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .flatMap(i => Corpus.aliasTriplesFor(i).map(_._1)).toDF()
  }

  /** Convenience: synthesize-and-run (bench + tests). */
  def runSynthetic(spark: SparkSession, conf: Conf): Summary =
    run(spark, conf, synthesizeInput(spark, conf.n, conf.seed),
      sameAsEdges(spark, conf.n), curatedTriples(spark, conf.n))

  private val Options = Seq("--work-dir", "--n", "--seed", "--format",
    "--resume", "--broadcast-dict", "--run-id", "--patch-dir")

  /** The main's `--option value` pairs as a Conf plus the optional curated
    * patch table dir (parquet with repo, path, patch, desc); throws
    * IllegalArgumentException naming an unknown option, a trailing option
    * without a value, or a malformed value. */
  def confFromArgs(args: Seq[String]): (Conf, Option[String]) = {
    val opts = args.grouped(2).map {
      case k +: _ if !Options.contains(k) =>
        throw new IllegalArgumentException(s"unknown option $k")
      case Seq(k) => throw new IllegalArgumentException(s"option $k has no value")
      case Seq(k, v) => k -> v
    }.toMap
    def opt[T](k: String, default: T)(parse: String => T): T =
      opts.get(k).fold(default) { v =>
        try parse(v) catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(s"bad value for $k: $v") }
      }
    val d = Conf(workDir = opts.getOrElse("--work-dir", "/tmp/graft-kg"))
    (d.copy(
      n = opt("--n", d.n)(_.toLong),
      seed = opt("--seed", d.seed)(_.toLong),
      format = opts.getOrElse("--format", d.format),
      resume = opt("--resume", d.resume)(_.toBoolean),
      broadcastDict = opt("--broadcast-dict", d.broadcastDict)(_.toBoolean),
      runId = opts.getOrElse("--run-id", d.runId)), opts.get("--patch-dir"))
  }

  def main(args: Array[String]): Unit = {
    val (conf, patchDir) = try confFromArgs(args.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"${e.getMessage}\nusage: KgPipeline " +
          Options.map(o => s"[$o <value>]").mkString(" "))
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-kg-pipeline")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, conf, synthesizeInput(spark, conf.n, conf.seed),
      sameAsEdges(spark, conf.n), curatedTriples(spark, conf.n),
      patchDir.map(spark.read.parquet))
    println(f"""{"inputRows":${s.inputRows},"parsed":${s.parsedRows},""" +
      f""""failed":${s.failedRows},"triples":${s.tripleCount},""" +
      f""""mentions":${s.mentionCount},"links":${s.linkCount},""" +
      f""""sec":${s.durationSec}%.2f,"triplesPerSec":${s.triplesPerSec}%.1f}""")
    System.err.println("stage timings: " + s.stageSec.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
    spark.stop()
  }
}
