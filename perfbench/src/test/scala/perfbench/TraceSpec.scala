package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import perfbench.Trace._

class TraceSpec extends AnyFunSuite {

  private val ms = 1000000L

  private def task(stage: Int, at: Long, cpu: Long) =
    TaskRec(stage, at * ms, (at + 5) * ms, cpu, 0, 0, 0)

  test("listener events go to the table their execution writes, under concurrent writes") {
    // two writes run at the same time: docs (execution 1) and mentions
    // (execution 2), plus a nested execution under docs and a job whose
    // execution id is stale (it starts after execution 1 has ended)
    val ev = Events(
      tasks = Seq(task(10, 6, 100), task(20, 13, 200), task(10, 14, 100),
        task(30, 51, 1000), task(40, 160, 5000), task(50, 60, 7)),
      jobs = Seq(JobRec(1, Some(1), 5 * ms),
        JobRec(2, Some(2), 12 * ms),
        JobRec(3, Some(3), 50 * ms),
        JobRec(4, Some(1), 150 * ms),
        JobRec(5, None, 55 * ms)),
      stageJob = Map(10 -> 1, 20 -> 2, 30 -> 3, 40 -> 4, 50 -> 5),
      execs = Seq(ExecRec(1, Some(1), 0, 100 * ms),
        ExecRec(2, Some(2), 10 * ms, 90 * ms),
        ExecRec(3, Some(1), 45 * ms, 65 * ms),
        ExecRec(4, Some(4), 200 * ms, 210 * ms)),
      writes = Seq(WriteRec(1, "docs", 10, 1000), WriteRec(2, "mentions", 20, 2000),
        WriteRec(4, "lineage", 3, 30)))
    val t = byTable(ev).map(w => w.table -> w).toMap
    assert(t.keySet == Set("docs", "mentions", "lineage"))
    assert(t("docs").work.jobs == 2)
    assert(t("docs").work.taskCpuNs == 1200)
    assert(t("docs").wallNs == 100 * ms)
    assert(t("docs").rows == 10)
    assert(t("mentions").work.jobs == 1)
    assert(t("mentions").work.taskCpuNs == 200)
    assert(t("lineage").work.jobs == 0)
    assert(t("lineage").wallNs == 10 * ms)
  }

  test("repeated writes to one table add up") {
    val ev = Events(Nil, Nil, Map.empty,
      Seq(ExecRec(1, None, 0, 10 * ms), ExecRec(2, None, 20 * ms, 25 * ms)),
      Seq(WriteRec(1, "lineage", 5, 50), WriteRec(2, "lineage", 7, 70)))
    val Seq(l) = byTable(ev)
    assert(l.rows == 12 && l.wallNs == 15 * ms)
  }

  test("spans nest by thread and keep their parent") {
    val spans = new Spans
    spans("outer") { spans("inner")(()) }
    val byName = spans.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0)
    assert(byName("outer").start <= byName("inner").start)
    assert(byName("outer").end >= byName("inner").end)
  }

  test("a live Spark session's concurrent writes are attributed exactly") {
    val dir = java.nio.file.Files.createTempDirectory("tracespec").toString
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val rec = attach(spark.sparkContext)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes = Seq("a" -> 1000L, "b" -> 3000L).map { case (t, n) =>
        Future(spark.range(0, n, 1, 4).selectExpr("id", "id % 7 AS k")
          .repartition(3, org.apache.spark.sql.functions.col("k"))
          .write.parquet(s"$dir/$t"))
      }
      writes.foreach(Await.result(_, Duration.Inf))
      drain(spark.sparkContext)
      detach(spark.sparkContext, rec)
      val t = byTable(rec.snapshot()).map(w => w.table -> w).toMap
      assert(t("a").rows == 1000 && t("b").rows == 3000)
      assert(t("a").work.jobs >= 1 && t("b").work.jobs >= 1)
      assert(t("a").work.shuffleBytes > 0 && t("b").work.shuffleBytes > 0)
      assert(t("a").wallNs > 0 && t("b").wallNs > 0)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
