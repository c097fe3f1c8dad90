package perfbench

import graft.kg.{KgPipeline, KgQueries, Scoring}
import graft.model.SourceFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import perfbench.Stats.Metric

/** What one timed call did: its wall time, the items it produced, and the
  * per-call latencies inside it (one per query for the query suite). */
final case class Call(wallS: Double, items: Long, latencies: Seq[Double])

/** Outcome of a workload's output checks, with notes to print beside it. */
final case class Checked(attempted: Long, failed: Long,
                         failedNames: Seq[String], notes: Map[String, Double])

/** A workload: set-up that can be repeated, a warm-up, the timed call,
  * the output check, and the per-layer breakdown of a traced call. */
trait Workload {
  def setup(): Unit
  def warmUp(): Unit
  def timed(): Call
  def check(): Checked
  /** Runs one timed call under `spans` and `rec`, returns its metrics. */
  def traced(spans: Trace.Spans, rec: Trace.Recorder): (Call, Seq[Metric])
}

object Workloads {

  /** Corpus size for the pipeline workloads: large enough that parse and
    * materialize carry real work, small enough that set-up, a warm-up run
    * and a timed run fit one benchmark run on a four-core machine. */
  final val CorpusDocs = 2000L

  /** The per-layer metric names every traced run reports, in order; a
    * layer a workload does not exercise reports zero. */
  val StageTables: Seq[String] = Seq("docs", "doc_triples", "mentions",
    "failures", "lineage", "canon", "link_triples", "deps", "skeleton",
    "triples")
  val Packages: Seq[String] = Seq("rel", "kg", "text", "sim", "mm", "pdf")
  /** ROADMAP-named slow queries, each reported on its own. */
  val Targets: Seq[String] = Seq("kg_csv_inventory", "text_jaccard_pairs")

  /** The query suite's fixed query set: two slow queries ROADMAP aims at
    * plus one small query of each other package, so that a pass takes
    * about six seconds on a four-core machine. The whole registry takes
    * over a minute a pass there, and a run also pays a cold pass for the
    * output check; README.md lists what is left out. */
  val SuiteQueries: Seq[String] = (Targets ++ Seq(
    "rel_agg_pricing", "sim_knn_brute", "mm_resize_stats",
    "pdf_hocr_lines")).sorted

  def layerZeros: Seq[Metric] =
    Seq(Metric("parse.us_per_doc", 0, "us"), Metric("parse.alloc_kib_per_doc", 0, "KiB")) ++
    StageTables.flatMap(t => stageMetrics(t, None)) ++
    pipelineMetrics(None) ++
    Packages.flatMap(p => Seq(Metric(s"queries.$p.s", 0, "s"),
      Metric(s"queries.$p.jobs", 0, "count"), Metric(s"queries.$p.task_cpu_s", 0, "s"))) ++
    Seq(Metric("queries.plan_s", 0, "s"), Metric("queries.ctx_s", 0, "s")) ++
    Targets.map(q => Metric(s"query.$q.s", 0, "s")) ++
    Seq(Metric("trace.overhead_s", 0, "s"))

  def stageMetrics(t: String, w: Option[Trace.TableWork]): Seq[Metric] = {
    def v(f: Trace.TableWork => Double) = w.map(f).getOrElse(0.0)
    Seq(Metric(s"stage.$t.wall_s", v(_.wallNs / 1e9), "s"),
      Metric(s"stage.$t.task_cpu_s", v(_.work.taskCpuNs / 1e9), "s"),
      Metric(s"stage.$t.gc_s", v(_.work.gcNs / 1e9), "s"),
      Metric(s"stage.$t.shuffle_bytes", v(_.work.shuffleBytes.toDouble), "B"),
      Metric(s"stage.$t.spill_bytes", v(_.work.spillBytes.toDouble), "B"),
      Metric(s"stage.$t.rows_out", v(_.rows.toDouble), "count"))
  }

  /** Orchestration metrics of one pipeline call. */
  final case class PipelineLayer(span: Trace.Span, work: Trace.Work,
      bytesWritten: Long, docsCpuNsPerDoc: Double)

  def pipelineMetrics(p: Option[PipelineLayer], parseUsPerDoc: Double = 0): Seq[Metric] = {
    def v(f: PipelineLayer => Double) = p.map(f).getOrElse(0.0)
    Seq(Metric("pipeline.driver_only_s",
        v(l => Stats.selfTime(l.span.interval, l.work.taskIntervals) / 1e9), "s"),
      Metric("pipeline.jobs", v(_.work.jobs.toDouble), "count"),
      Metric("pipeline.cores_busy",
        v(l => l.work.busyNs.toDouble / (l.span.end - l.span.start)), "cores"),
      Metric("pipeline.task_cpu_s", v(_.work.taskCpuNs / 1e9), "s"),
      Metric("pipeline.gc_s", v(_.work.gcNs / 1e9), "s"),
      Metric("pipeline.cpu_inflation", v(l =>
        if (parseUsPerDoc > 0) l.docsCpuNsPerDoc / 1000 / parseUsPerDoc else 0), "ratio"),
      Metric("pipeline.shuffle_bytes", v(_.work.shuffleBytes.toDouble), "B"),
      Metric("pipeline.bytes_written", v(_.bytesWritten.toDouble), "B"))
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(from),
      new java.io.File(to))

  /** Seed-drawn sample of `ds`: rows ordered by a seeded hash of the path. */
  def sampleDocs(ds: Dataset[SourceFile], seed: Long, n: Int): Seq[SourceFile] = {
    import ds.sparkSession.implicits._
    ds.orderBy(xxhash64(col("path"), lit(seed))).limit(n).as[SourceFile]
      .collect().toSeq
  }
}

/** The corpus owner's pipeline: a fresh full build (`refresh = false`), or
  * a resume over the whole corpus on top of a committed build of a
  * seed-chosen ~90% of it (`refresh = true`). */
final class PipelineWorkload(spark: SparkSession, seed: Long, work: String,
                             refresh: Boolean) extends Workload {
  import spark.implicits._
  import Workloads._

  private val n = CorpusDocs
  private val inputDir = s"$work/input"
  private val baseDir = s"$work/base"
  private var runs = 0
  private var lastRun: Option[String] = None

  private def input: Dataset[SourceFile] = spark.read.parquet(inputDir).as[SourceFile]
  private def sameAs: DataFrame = spark.read.parquet(s"$work/sameas")
  private def curated: DataFrame = spark.read.parquet(s"$work/curated")
  /** The ~90% of the corpus a refresh's committed build already holds. */
  private def known: Dataset[SourceFile] =
    input.filter(pmod(xxhash64(col("path"), lit(seed)), lit(10)) =!= 0)

  def setup(): Unit = {
    KgPipeline.synthesizeInput(spark, n, seed).write.mode("overwrite").parquet(inputDir)
    KgPipeline.sameAsEdges(spark, n).write.mode("overwrite").parquet(s"$work/sameas")
    KgPipeline.curatedTriples(spark, n).write.mode("overwrite").parquet(s"$work/curated")
  }

  private def run(dir: String, in: Dataset[SourceFile], resume: Boolean): KgPipeline.Summary = {
    runs += 1
    KgPipeline.run(spark, KgPipeline.Conf(workDir = dir, n = n, seed = seed,
      resume = resume, runId = s"run$runs"), in, sameAs, curated)
  }

  /** A refresh's warm-up is the committed ~90% build it resumes from; a
    * build's is a full run over a quarter-size corpus of another seed,
    * after which calls are as fast as later ones. */
  def warmUp(): Unit =
    if (refresh) run(baseDir, known, resume = false)
    else {
      run(s"$work/warm", KgPipeline.synthesizeInput(spark, n / 4, seed + 1),
        resume = false)
      deleteTree(s"$work/warm")
    }

  /** A fresh output dir for the next call (for a refresh, a copy of the
    * committed ~90% build); the previous call's output is dropped. */
  private def prepare(): String = {
    lastRun.foreach(deleteTree)
    val dir = s"$work/run${runs + 1}"
    if (refresh) copyTree(baseDir, dir)
    lastRun = Some(dir)
    dir
  }

  def timed(): Call = {
    val dir = prepare()
    val t0 = System.nanoTime()
    val s = run(dir, input, resume = refresh)
    val wall = (System.nanoTime() - t0) / 1e9
    Call(wall, s.tripleCount, Seq(wall))
  }

  def traced(spans: Trace.Spans, rec: Trace.Recorder): (Call, Seq[Metric]) = {
    val dir = prepare()
    val s = spans("pipeline.run")(run(dir, input, resume = refresh))
    Trace.drain(spark.sparkContext)
    val ev = rec.snapshot()
    val span = spans.all.filter(_.name == "pipeline.run").last
    val tables = Trace.byTable(ev).map(t => t.table -> t).toMap
    val docs = tables.get("docs")
    val layer = PipelineLayer(span,
      Trace.work(Trace.jobsWithin(ev, span.start, span.end), ev),
      ev.writes.map(_.bytes).sum,
      docs.filter(_.rows > 0).map(d => d.work.taskCpuNs.toDouble / d.rows).getOrElse(0.0))
    val parse = Parse.measure(parseSample(Parse.SampleDocs))
    val metrics = Seq(Metric("parse.us_per_doc", parse.usPerDoc, "us"),
        Metric("parse.alloc_kib_per_doc", parse.kibPerDoc, "KiB")) ++
      StageTables.flatMap(t => stageMetrics(t, tables.get(t))) ++
      pipelineMetrics(Some(layer), parse.usPerDoc)
    (Call(span.seconds, s.tripleCount, Seq(span.seconds)), metrics)
  }

  /** The documents the single-thread parse sample is drawn from. */
  private def parseSample(k: Int): Seq[SourceFile] = sampleDocs(input, seed, k)

  /** Precision/recall of the committed triples against the generator's
    * ground truth, the `failures` rows, and the per-row sha256 invariant
    * of `docs` against the input. */
  def check(): Checked = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val dir = lastRun.getOrElse(sys.error("check before any timed call"))
    val scored = Future(Scoring.score(spark.read.parquet(s"$dir/triples"),
      KgPipeline.groundTruth(spark, n, seed).toDF()))
    val failures = spark.read.parquet(s"$dir/failures").count()
    val docs = spark.read.parquet(s"$dir/docs")
      .select(col("repo"), col("path"), col("commit"), col("sha256").as("docSha"))
    val joined = input.withColumn("inSha", sha2(col("content"), 256))
      .join(docs, Seq("repo", "path", "commit"), "left")
    val shaBad = joined.filter(col("docSha").isNull ||
      col("docSha") =!= col("inSha")).count()
    val prf = Await.result(scored, Duration.Inf)
    val truth = prf.tp + prf.fn
    val bad = prf.fp + prf.fn + failures + shaBad
    val names = Seq("missing_triples" -> prf.fn, "spurious_triples" -> prf.fp,
      "failure_rows" -> failures, "sha256_mismatch" -> shaBad)
      .collect { case (k, v) if v > 0 => k }
    Checked(truth, bad, names, Map("truth_triples" -> truth.toDouble,
      "missing_triples" -> prf.fn.toDouble, "spurious_triples" -> prf.fp.toDouble,
      "failure_rows" -> failures.toDouble, "sha256_mismatch" -> shaBad.toDouble,
      "precision" -> prf.precision, "recall" -> prf.recall))
  }
}

/** The readers' side: a closed loop with one client running the fixed
  * query set in a seed-shuffled order, each result materialised in full
  * through the `noop` sink. */
final class QueryWorkload(spark0: SparkSession, seed: Long, work: String,
                          dataDir: String) extends Workload {
  import Workloads._

  private var spark = spark0
  private val rnd = new scala.util.Random(seed)
  private val registry = graft.SparkEntry.queries
  private val failed = scala.collection.mutable.LinkedHashSet.empty[String]
  private val ctxSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val latencies = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  /** A fresh session builds its own KG context: the repeatable set-up. */
  def setup(): Unit = {
    spark = spark0.newSession()
    val t0 = System.nanoTime()
    KgQueries.ctx(spark)
    ctxSeconds += (System.nanoTime() - t0) / 1e9
  }

  private def runQuery(name: String)(sink: DataFrame => Unit): Boolean =
    try { sink(registry(name)(spark, dataDir)); true }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] query $name failed: $e")
      failed += name
      false
    } finally graft.CacheRegistry.release()

  /** Untimed pass that writes every full result, the base tables their
    * oracle SQL reads and the oracle SQL itself, for the DuckDB check. */
  def warmUp(): Unit = {
    val out = s"$work/out"
    val base = s"$out.base"
    SuiteQueries.foreach(q => runQuery(q)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => SuiteQueries.contains(k) }
    val baseRef = "__BASE__/([A-Za-z0-9_]+)".r
    oracle.values.flatMap(sql => baseRef.findAllMatchIn(sql).map(_.group(1)))
      .toSet.foreach { (t: String) =>
        graft.SparkEntry.baseTables(t)(spark, dataDir).coalesce(1).write
          .mode("overwrite").parquet(s"$base/$t")
      }
    val json = oracle.toSeq.sortBy(_._1).map { case (k, v) =>
      Json.str(k) + ":" + Json.str(v.replace("__BASE__", base).replace("__OUT__", out))
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass over the query set in a fresh seed-drawn order. */
  private def pass(each: (String, => Unit) => Unit): Seq[(String, Double)] =
    rnd.shuffle(SuiteQueries).flatMap { q =>
      var ok = false
      val t0 = System.nanoTime()
      each(q, { ok = runQuery(q)(noop) })
      val s = (System.nanoTime() - t0) / 1e9
      if (ok) Some(q -> s) else None
    }

  def timed(): Call = {
    val t0 = System.nanoTime()
    val lat = pass((_, f) => f)
    latencies ++= lat
    Call((System.nanoTime() - t0) / 1e9, lat.size, lat.map(_._2))
  }

  def traced(spans: Trace.Spans, rec: Trace.Recorder): (Call, Seq[Metric]) = {
    val lat = spans("queries.pass")(pass((q, f) => spans(s"query.$q")(f)))
    Trace.drain(spark.sparkContext)
    val ev = rec.snapshot()
    val all = spans.all
    val passSpan = all.filter(_.name == "queries.pass").last
    val qSpans = all.filter(s => s.name.startsWith("query.") && s.start >= passSpan.start)
    def pkg(s: Trace.Span) = s.name.stripPrefix("query.").takeWhile(_ != '_')
    val perPkg = Packages.flatMap { p =>
      val ss = qSpans.filter(pkg(_) == p)
      val w = ss.map(s => Trace.work(Trace.jobsWithin(ev, s.start, s.end), ev))
        .foldLeft(Trace.NoWork)(_ + _)
      Seq(Metric(s"queries.$p.s", ss.map(_.seconds).sum, "s"),
        Metric(s"queries.$p.jobs", w.jobs, "count"),
        Metric(s"queries.$p.task_cpu_s", w.taskCpuNs / 1e9, "s"))
    }
    // time from each call to its first Spark job: planning and other
    // driver work ahead of any task
    val planNs = qSpans.map { s =>
      val firstJob = ev.jobs.filter(j => j.start >= s.start && j.start <= s.end)
        .map(_.start).minOption.getOrElse(s.end)
      firstJob - s.start
    }.sum
    val parse = Parse.measure(parseSample(Parse.SampleDocs))
    val metrics = Seq(Metric("parse.us_per_doc", parse.usPerDoc, "us"),
        Metric("parse.alloc_kib_per_doc", parse.kibPerDoc, "KiB")) ++
      perPkg ++
      Seq(Metric("queries.plan_s", planNs / 1e9, "s"),
        Metric("queries.ctx_s", Stats.median(ctxSeconds.toSeq), "s")) ++
      Targets.map(q => Metric(s"query.$q.s",
        qSpans.filter(_.name == s"query.$q").map(_.seconds).sum, "s"))
    (Call(passSpan.seconds, lat.size, lat.map(_._2)), metrics)
  }

  /** The parse sample comes from the KG context's own mixed corpus. */
  private def parseSample(k: Int): Seq[SourceFile] =
    sampleDocs(KgPipeline.synthesizeMixedInput(spark, KgQueries.N, KgQueries.Seed), seed, k)

  /** Queries that threw, and each query's median latency; the oracle
    * comparison runs after the JVM exits. */
  def check(): Checked =
    Checked(SuiteQueries.size, failed.size, failed.toSeq,
      latencies.groupBy(_._1).map { case (q, ls) => s"median_s.$q" -> Stats.median(ls.map(_._2).toSeq) })
}

/** Single-thread calls of `DocParsers.parse`: time and allocation per
  * document. */
object Parse {
  final val SampleDocs = 200
  final case class Cost(usPerDoc: Double, kibPerDoc: Double)

  def measure(docs: Seq[SourceFile], minSeconds: Double = 1.0): Cost = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    docs.foreach(graft.parse.DocParsers.parse) // JIT warm-up
    var calls = 0L
    val a0 = mx.getThreadAllocatedBytes(tid)
    val t0 = System.nanoTime()
    while (calls == 0 || System.nanoTime() - t0 < minSeconds * 1e9) {
      docs.foreach(graft.parse.DocParsers.parse)
      calls += docs.size
    }
    val ns = System.nanoTime() - t0
    val bytes = mx.getThreadAllocatedBytes(tid) - a0
    Cost(ns / 1e3 / calls, bytes / 1024.0 / calls)
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d == math.rint(d) && math.abs(d) < 1e15)
    d.toLong.toString else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}
