package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Tracing for the per-layer run: spans the benchmark records around its
  * calls into the program, plus Spark's own task, job, execution and write
  * metrics. All times are epoch nanoseconds so spans (taken with
  * `System.nanoTime`) line up with Spark's millisecond event times. */
object Trace {

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  final case class Span(id: Int, parent: Int, name: String,
                        start: Long, end: Long) {
    def interval: (Long, Long) = (start, end)
    def seconds: Double = (end - start) / 1e9
  }

  /** Spans kept in memory until the run ends. Parents follow the calling
    * thread's open spans; a span opened on another thread is a root. */
  final class Spans {
    private val done = mutable.ArrayBuffer.empty[Span]
    private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
    private var nextId = 0

    def apply[T](name: String)(f: => T): T = {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get().headOption.getOrElse(0)
      open.set(id :: open.get())
      val start = nowNs()
      try f
      finally {
        val end = nowNs()
        open.set(open.get().tail)
        synchronized { done += Span(id, parent, name, start, end) }
      }
    }

    def all: Seq[Span] = synchronized(done.toList.sortBy(_.start))
  }

  final case class TaskRec(stageId: Int, launch: Long, finish: Long,
      cpuNs: Long, gcNs: Long, shuffleBytes: Long, spillBytes: Long) {
    def interval: (Long, Long) = (launch, finish)
  }
  final case class JobRec(jobId: Int, execId: Option[Long], start: Long)
  final case class ExecRec(execId: Long, root: Option[Long], start: Long,
                           end: Long)
  /** One committed file-based write: the table is the last component of
    * the output path. */
  final case class WriteRec(execId: Long, table: String, rows: Long,
                            bytes: Long)

  /** Everything the listeners saw, frozen. */
  final case class Events(tasks: Seq[TaskRec], jobs: Seq[JobRec],
      stageJob: Map[Int, Int], execs: Seq[ExecRec], writes: Seq[WriteRec])

  /** The write command in an executed plan, looking inside adaptive plans
    * and their query stages. */
  def writeIn(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case a: AdaptiveSparkPlanExec => writeIn(a.executedPlan)
    case q: QueryStageExec => writeIn(q.plan)
    case other => other.children.iterator.map(writeIn).collectFirst { case Some(w) => w }
  }

  /** The listener the traced run registers (and the untraced run does
    * not). Writes are read from the SQL execution-end event: it carries the
    * `QueryExecution` a `QueryExecutionListener` is handed, plus the
    * execution id the write's jobs are tagged with, which that listener's
    * callback lacks. */
  final class Recorder extends SparkListener {
    private val tasks = mutable.ArrayBuffer.empty[TaskRec]
    private val jobs = mutable.ArrayBuffer.empty[JobRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
    private val writes = mutable.ArrayBuffer.empty[WriteRec]

    private def ms(t: Long): Long = t * 1000000L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs += JobRec(e.jobId, exec, ms(e.time))
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val rec = TaskRec(e.stageId, ms(i.launchTime), ms(i.finishTime),
          m.executorCpuTime, ms(m.jvmGCTime), m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        synchronized { tasks += rec }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execs(s.executionId) = ExecRec(s.executionId, s.rootExecutionId,
          ms(s.time), ms(s.time))
      }
      case s: SparkListenerSQLExecutionEnd =>
        val write = Option(PerfbenchAccess.queryExecution(s))
          .flatMap(qe => writeIn(qe.executedPlan)).collect {
            case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
              def metric(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
              WriteRec(s.executionId, c.outputPath.getName,
                metric("numOutputRows"), metric("numOutputBytes"))
          }
        synchronized {
          execs.get(s.executionId).foreach(x =>
            execs(s.executionId) = x.copy(end = ms(s.time)))
          writes ++= write
        }
      case _ => ()
    }

    def snapshot(): Events = synchronized {
      Events(tasks.toList, jobs.toList, stageJob.toMap,
        execs.values.toList, writes.toList)
    }
  }

  def attach(sc: SparkContext): Recorder = {
    val r = new Recorder
    sc.addSparkListener(r)
    r
  }

  def detach(sc: SparkContext, r: Recorder): Unit = sc.removeSparkListener(r)

  /** Block until every event posted so far has reached the listeners:
    * listener delivery is asynchronous, and a summary taken before the
    * bus drains would miss the last tasks and writes. */
  def drain(sc: SparkContext): Unit = PerfbenchAccess.drain(sc)

  /** Spark work summed over a set of tasks and jobs. */
  final case class Work(jobs: Int, taskCpuNs: Long, gcNs: Long,
      shuffleBytes: Long, spillBytes: Long, busyNs: Long,
      taskIntervals: Seq[(Long, Long)]) {
    def +(o: Work): Work = Work(jobs + o.jobs, taskCpuNs + o.taskCpuNs,
      gcNs + o.gcNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      busyNs + o.busyNs,
      taskIntervals ++ o.taskIntervals)
  }
  val NoWork: Work = Work(0, 0, 0, 0, 0, 0, Nil)

  def work(jobIds: Set[Int], ev: Events): Work = {
    val ts = ev.tasks.filter(t => ev.stageJob.get(t.stageId).exists(jobIds))
    Work(jobIds.size, ts.map(_.cpuNs).sum, ts.map(_.gcNs).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(t => t.finish - t.launch).sum,
      ts.map(_.interval))
  }

  /** Per output table: its committed writes' wall time, Spark work and
    * row count. A job belongs to a table when its SQL execution, or that
    * execution's root, is a write to the table and the job starts while
    * that execution runs (a thread forked during an execution inherits
    * its id, so a later job on that thread can carry a stale one).
    * Concurrent writes are told apart by execution id. */
  final case class TableWork(table: String, wallNs: Long, rows: Long,
                             work: Work)

  def byTable(ev: Events): Seq[TableWork] = {
    val execs = ev.execs.map(x => x.execId -> x).toMap
    val tableOfExec = ev.writes.map(w => w.execId -> w.table).toMap
    def tableOf(exec: Long): Option[String] =
      tableOfExec.get(exec).orElse(
        execs.get(exec).flatMap(_.root).filter(_ != exec)
          .flatMap(tableOfExec.get))
    def during(j: JobRec, exec: Long): Boolean =
      execs.get(exec).exists(x => j.start >= x.start && j.start <= x.end)
    val jobsByTable = ev.jobs.flatMap(j => j.execId.filter(during(j, _))
      .flatMap(tableOf).map(_ -> j.jobId)).groupBy(_._1)
    ev.writes.groupBy(_.table).toSeq.sortBy(_._1).map { case (table, ws) =>
      val wall = ws.flatMap(w => execs.get(w.execId)).map(x => x.end - x.start).sum
      val jobIds = jobsByTable.getOrElse(table, Nil).map(_._2).toSet
      TableWork(table, wall, ws.map(_.rows).sum, work(jobIds, ev))
    }
  }

  /** Jobs that started inside [start, end]: how a closed loop with one
    * client attributes Spark work to the call it is making. */
  def jobsWithin(ev: Events, start: Long, end: Long): Set[Int] =
    ev.jobs.filter(j => j.start >= start && j.start <= end).map(_.jobId).toSet
}
