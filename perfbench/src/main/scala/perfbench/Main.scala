package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Stats.Metric

/** The benchmark's JVM side. `run.py` builds it, generates the query
  * tables and runs
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --result <file>
  * }}}
  * It sets up the workload several times, warms it up, then either runs
  * timed calls for `--seconds` (trace 0, no listener registered) or an
  * untraced and then a traced call (trace 1), checks the last call's
  * output and writes every metric to the result file. */
object Main {

  /** Set-up repetitions per run; the median is reported. */
  final val SetupRepeats = 3

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      // the program's own mains (KgPipeline, Verify) size shuffles to cores
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole JVM spent in `f` (all threads: tasks, driver,
    * GC, JIT). It grows far less than wall time when other work on the
    * machine takes the CPU away. */
  private def cpuSeconds[T](f: => T): (T, Double) = {
    val c0 = os.getProcessCpuTime
    val r = f
    (r, (os.getProcessCpuTime - c0) / 1e9)
  }

  /** Peak resident set of this process (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val name = opt("--workload")
    val seed = opt("--seed").toLong
    val budget = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val spark = session(work)
    try {
      val w: Workload = name match {
        case "kg_build" => new PipelineWorkload(spark, seed, work, refresh = false)
        case "kg_refresh" => new PipelineWorkload(spark, seed, work, refresh = true)
        case "query_suite" => new QueryWorkload(spark, seed, work, opt("--data"))
        case other => sys.error(s"unknown workload $other")
      }
      val setups = (1 to SetupRepeats).map(_ => seconds(w.setup())._2)
      val warmS = seconds(w.warmUp())._2
      // JVM start to the first timed call: the whole set-up a user waits for
      val startupS = System.currentTimeMillis() / 1e3 -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
      val (calls, layer) =
        if (!trace) {
          val t0 = System.nanoTime()
          val cs = scala.collection.mutable.ArrayBuffer.empty[(Call, Double)]
          while (cs.isEmpty || System.nanoTime() - t0 < budget * 1e9) {
            // start each call on a collected heap, so that a pause for the
            // garbage of set-up and warm-up does not land in a random call
            System.gc()
            cs += cpuSeconds(w.timed())
          }
          (cs.toSeq, Nil)
        } else {
          System.gc()
          val untraced = w.timed()
          System.gc()
          val rec = Trace.attach(spark.sparkContext)
          val (call, ms) =
            try w.traced(new Trace.Spans, rec) finally Trace.detach(spark.sparkContext, rec)
          val overhead = call.wallS - untraced.wallS
          val measured = ms ++ Seq(Metric("trace.overhead_s", overhead, "s"))
          val byName = measured.map(m => m.name -> m).toMap
          (Seq(call -> 0.0), Workloads.layerZeros.map(z => byName.getOrElse(z.name, z)))
        }
      val (checked, checkS) = seconds(w.check())
      val latencies = calls.flatMap(_._1.latencies)
      val walls = calls.map(_._1.wallS)
      val items = calls.map(_._1.items).sum
      // Wall times are notes, not metrics: on a shared machine they move by
      // half between runs of one seed (see README.md), CPU time does not.
      val e2e = Seq(
        Metric("setup_s", Stats.median(setups), "s"),
        Metric("cpu_s", Stats.median(calls.map(_._2)), "s"),
        Metric("peak_rss_mb", peakRssMb(), "MiB"))
      val tail = Stats.tailPercentile(latencies.size).filter(_ > 50).map(p =>
        Seq("op_tail_percentile" -> p, "op_tail_s" -> Stats.percentile(latencies, p)))
        .getOrElse(Nil)
      val notes = Seq("calls" -> calls.size.toDouble,
          "wall_s" -> Stats.median(walls),
          "throughput_per_s" -> items / walls.sum,
          "op_samples" -> latencies.size.toDouble,
          "op_p50_s" -> Stats.median(latencies),
          "items_per_call" -> items.toDouble / calls.size) ++
        setups.zipWithIndex.map { case (s, i) => s"setup_${i + 1}_s" -> s } ++
        walls.zipWithIndex.map { case (s, i) => s"call_${i + 1}_s" -> s } ++
        Seq("warm_up_s" -> warmS, "startup_s" -> startupS, "check_s" -> checkS) ++
        tail ++ checked.notes.toSeq.sortBy(_._1)
      val json = Json.obj(Seq(
        "attempted" -> checked.attempted.toString,
        "failed" -> checked.failed.toString,
        "failed_names" -> checked.failedNames.map(Json.str).mkString("[", ",", "]"),
        "e2e" -> Json.metrics(e2e),
        "layer" -> Json.metrics(layer),
        "notes" -> Json.obj(notes.map { case (k, v) => k -> Json.num(v) })))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("--result")), json)
    } finally spark.stop()
  }
}
