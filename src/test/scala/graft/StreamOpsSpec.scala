package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamOps

class StreamOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("windowed counts: streaming result equals batch result on same data") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // batch semantics of the same plan (watermark is a no-op in batch)
    val batch = StreamOps.windowedEventCounts(events)
      .orderBy("window_start", "event_type").collect()
    assert(batch.nonEmpty)

    // streaming over the same rows via a file source + AvailableNow
    val in = tmp()
    events.write.mode("overwrite").parquet(in)
    val out = tmp(); val cp = tmp()
    val stream = spark.readStream.schema(events.schema).parquet(in)
    val q = StreamOps.windowedEventCounts(stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode only emits windows below the final watermark; every
    // emitted row must match its batch counterpart
    val streamed = spark.read.parquet(out)
    val joined = streamed.as("s").join(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .transform(StreamOps.windowedEventCounts(_)).as("b"),
      Seq("window_start", "event_type"))
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
  }

  test("streamEventCounts: Append-mode file sink emits ALL windows == batch") {
    // the registered query shape: watermark + Append + parquet sink, no
    // Complete mode, no memory sink; sentinel flush files must push the
    // watermark past the tail windows so NOTHING is missing vs batch
    val got = StreamOps.streamEventCounts(spark, "/root/testdata/sf0.001")
      .collect().toSeq
    val expect = StreamOps.windowedEventCounts(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .select("window_start", "event_type", "n")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(got.nonEmpty)
    assert(got == expect)
    assert(!got.exists(_.getString(1) == StreamOps.FlushSentinel))
  }

  test("streamDedup: streaming key-state dedup equals batch distinct") {
    val dir = "/root/testdata/sf0.001"
    val got = StreamOps.streamDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.nonEmpty)
    assert(got == expect)
    // the stream genuinely suppressed duplicates (events >> distinct keys)
    val n = spark.read.parquet(s"$dir/events.parquet").count()
    assert(got.size < n)
    assert(!got.exists(_._1 < 0)) // sentinels dropped
  }

  test("read-back driver gate: above-budget path returns identical rows " +
      "without a driver collect") {
    val dir = "/root/testdata/sf0.001"
    def run(budget: Long) = StreamOps.runAvailableNowForTest(spark, dir,
      budget) { stream =>
        stream.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
      } { rb =>
        rb.filter(col("user_id") >= 0).orderBy("user_id", "event_type")
      }
    val below = run(Long.MaxValue) // collected path (default regime)
    val above = run(0L)            // gated path: parquet-backed frame
    // the gated frame stays lazy/parquet-backed — its plan must contain a
    // file scan, not a LocalRelation of collected rows
    assert(above.queryExecution.optimizedPlan.collectLeaves().exists(
      _.getClass.getSimpleName.contains("LogicalRelation")))
    val a = below.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val b = above.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("read-back probe limit saturates instead of wrapping") {
    assert(StreamOps.readBackProbeLimit(Long.MaxValue) == Int.MaxValue)
    assert(StreamOps.readBackProbeLimit(Int.MaxValue.toLong) == Int.MaxValue)
    assert(StreamOps.readBackProbeLimit(StreamOps.ReadBackRowBudget) ==
      StreamOps.ReadBackRowBudget + 1)
    assert(StreamOps.readBackProbeLimit(0L) == 1)
  }
}
