package graft.kg

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.SparkContext

/** Achieved-concurrency meter: sums executor task run time over a window
  * so `busy = taskTimeSec / wallSec` reports how many cores the job
  * actually kept busy. Separates "the plan doesn't expose parallelism"
  * (busy << cores — a plan bug) from "the machine didn't deliver the
  * cores" (busy ≈ cores but wall didn't drop — environment), which matters
  * on this runner: ambient load swings its effective capacity 2-3x
  * minute to minute (see BENCH_SCALING.md).
  */
final class ConcurrencyMeter extends SparkListener {
  private val taskMs = new LongAdder
  private val cpuNs = new LongAdder

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      taskMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
    }
  }

  /** Wall-clock task seconds: busy = taskSec/wallSec ≈ concurrent tasks. */
  def taskSec: Double = taskMs.sum() / 1000.0
  /** Actual CPU seconds: cpuSec/wallSec ≈ cores the machine delivered. */
  def cpuSec: Double = cpuNs.sum() / 1e9
}

object ConcurrencyMeter {
  def attach(sc: SparkContext): ConcurrencyMeter = {
    val m = new ConcurrencyMeter
    sc.addSparkListener(m)
    m
  }
}
