package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen graft.Bench, but built on its session so measured numbers
  * transfer 1:1: per-query noop-sink and count timing, formatted-plan
  * dumps, and KG-pipeline stage timings at one or more parallelism levels.
  * Its numbers are never graded. The parse row function's per-doc cost is
  * timed by perfbench (`parse.us_per_doc`), on the real `DocParsers.parse`.
  *
  * Usage:
  *   runMain graft.BenchExtra pipeline [n] [cpus,...]  — stage timings per level
  *   runMain graft.BenchExtra noop <query> [query2 ...]  — noop-sink timing
  *   runMain graft.BenchExtra time <query> [query2 ...]  — count-action timing
  *   runMain graft.BenchExtra explain <outDir> [query ...] — diffable plan dumps
  * Malformed arguments print the usage and exit 2.
  */
object BenchExtra {

  private val Usage = "usage: BenchExtra pipeline [n] [cpus,...] | " +
    "noop <q>... | time <q>... | explain <dir> [q...]"

  /** One warmed pipeline run of `n` docs per parallelism level, each level in
    * a fresh session of the frozen bench's KG shape (24 fixed shuffle
    * partitions) inside this one JVM. `busy`/`cpu` are the timed run's
    * achieved concurrency and delivered cores (ConcurrencyMeter). */
  private def pipelineProfile(n: Long, levels: Seq[Int]): Unit =
    for (cpus <- levels) {
      val s = Bench.session(cpus, fixedShuffle = Some(24))
      try {
        import s.implicits._
        def tmpDir(tag: String): String = {
          val base = new java.io.File("/dev/shm/graft-bench"); base.mkdirs()
          java.nio.file.Files.createTempDirectory(base.toPath, tag).toString
        }
        // input pre-materialized to parquet UNTIMED, exactly like Bench.kgRun
        def inputPath(nn: Long): String = {
          val p = tmpDir(s"input$nn")
          graft.kg.KgPipeline.synthesizeInput(s, nn, 42L).write
            .mode("overwrite").parquet(p)
          p
        }
        def once(tag: String, nn: Long, ip: String): graft.kg.KgPipeline.Summary = {
          val wd = tmpDir(tag)
          val input = s.read.parquet(ip).as[graft.model.SourceFile]
          val sameAs = graft.kg.KgPipeline.sameAsEdges(s, nn)
          val curated = graft.kg.KgPipeline.curatedTriples(s, nn)
          val conf = graft.kg.KgPipeline.Conf(workDir = s"$wd/out", n = nn,
            seed = 42L, runId = s"extra-$tag")
          val sum = graft.kg.KgPipeline.run(s, conf, input, sameAs, curated)
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wd))
          sum
        }
        val warmN = math.max(1000L, n / 8)
        val warmIp = inputPath(warmN)
        once("warm", warmN, warmIp)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmIp))
        val ip = inputPath(n)
        val meter = graft.kg.ConcurrencyMeter.attach(s.sparkContext)
        val sum = once("main", n, ip)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ip))
        println(f"pipeline n=$n cpus=$cpus wall=${sum.durationSec}%.1fs " +
          f"triples=${sum.tripleCount} tps=${sum.triplesPerSec}%.0f " +
          f"busy=${meter.taskSec / sum.durationSec}%.1f " +
          f"cpu=${meter.cpuSec / sum.durationSec}%.1f")
        println("stages: " + sum.stageSec.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.1fs" }.mkString(" "))
      } finally {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

  /** Per-query timing of `action` — one warm pass, min of two timed, the
    * frozen bench's discipline. `count` is the action the frozen bench
    * grades; the noop sink isolates the plan from the action's own cost. */
  private def timeQueries(label: String, queries: Seq[String])(
      action: DataFrame => Unit): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = Bench.session(cpus)
    try {
      for (q <- queries; fn = SparkEntry.queries(q)) {
        def one(): Double = {
          val t0 = System.nanoTime()
          try { action(fn(s, sfDir)); (System.nanoTime() - t0) / 1e9 }
          finally CacheRegistry.release()
        }
        s.sparkContext.setJobDescription(s"$label:$q")
        one()
        val (a, b) = (one(), one())
        println(f"$q%-28s $label min=${math.min(a, b)}%.3fs  (p1=$a%.3f p2=$b%.3f)")
      }
    } finally s.stop()
  }

  /** Ids a session hands out from a counter or the JVM allocates:
    * expression ids (`subj#2527`), the numbered variables of higher-order
    * functions (`lambda x_70`), lambda class names with their address and
    * hash, exchange `plan_id`s and RDD ids. */
  private val RunIds = Seq(
    "#\\d+".r -> "#_",
    "(lambda [xyz])_\\d+".r -> "$1_",
    "\\$Lambda[$\\d]*/0x[0-9a-f]+@[0-9a-f]+".r -> "\\$Lambda",
    "plan_id=\\d+".r -> "plan_id=_",
    "RDD\\[\\d+\\]".r -> "RDD[_]")

  /** `df`'s formatted plan with [[RunIds]] blanked, so two dumps of the
    * same code diff only where the plan itself changed. */
  private[graft] def explainText(df: DataFrame): String =
    RunIds.foldLeft(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)) {
      case (plan, (id, blank)) => id.replaceAllIn(plan, blank)
    }

  private def explainDump(outDir: String, queries: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = Bench.session(cpus)
    try {
      new java.io.File(outDir).mkdirs()
      val reg = SparkEntry.queries
      val names = if (queries.nonEmpty) queries else reg.keys.toSeq.sorted
      for (q <- names) {
        try {
          java.nio.file.Files.writeString(java.nio.file.Paths.get(
            s"$outDir/$q.txt"), explainText(reg(q)(s, sfDir)))
          println(s"wrote $outDir/$q.txt")
        } catch {
          case NonFatal(e) => println(s"EXPLAIN FAILED $q: ${e.getMessage}")
        } finally CacheRegistry.release()
      }
    } finally s.stop()
  }

  /** Every argument is checked before any session starts. */
  def main(args: Array[String]): Unit = {
    def usage(why: String): Nothing = {
      System.err.println(s"$why\n$Usage"); sys.exit(2)
    }
    def int(a: String): Int =
      a.toIntOption.filter(_ > 0).getOrElse(usage(s"not a positive number: $a"))
    def known(qs: List[String]): List[String] =
      qs.map(q => if (SparkEntry.queries.contains(q)) q else usage(s"unknown query $q"))
    args.toList match {
      case "pipeline" :: rest if rest.size <= 2 =>
        pipelineProfile(rest.headOption.fold(50000)(int).toLong,
          rest.lift(1).fold(Seq(4))(_.split(",").toSeq.map(int)))
      case "noop" :: qs if qs.nonEmpty =>
        timeQueries("noop", known(qs))(_.write.format("noop").mode("overwrite").save())
      case "time" :: qs if qs.nonEmpty => timeQueries("count", known(qs))(_.count())
      case "explain" :: out :: qs => explainDump(out, known(qs))
      case _ => usage(s"bad arguments: ${args.mkString(" ")}")
    }
  }
}
