package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints `explain("formatted")` for headline queries and
  * asserts the physical properties we design for — filters/projections
  * pushed into the parquet scan, small dims broadcast, whole-stage codegen
  * on the hot relational path. Run:
  *   sbt "runMain graft.PlanCheck [sfDir]"
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def plan(name: String)(df: => org.apache.spark.sql.DataFrame): String = {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n===== $name =====")
      println(p.take(4000))
      p
    }

    var failures = List.empty[String]
    def check(name: String, cond: Boolean, what: String): Unit =
      if (!cond) failures ::= s"$name: MISSING $what"

    // 1. filter + projection pushdown into the parquet scan
    val df1 = graft.rel.Relational.rangeFilter(spark, dir)
    val p1 = plan("rel_range_filter")(df1)
    check("rel_range_filter", p1.contains("PushedFilters: ["), "PushedFilters")
    check("rel_range_filter",
      !p1.contains("o_comment"), "column pruning (o_comment must not be read)")
    // codegen spans exist only in the executed (AQE-final) plan; collect
    // the SAME DataFrame (count() would build a separate query execution)
    df1.collect()
    check("rel_range_filter",
      df1.queryExecution.executedPlan.toString.contains("*("),
      "whole-stage codegen span (the *(n) markers)")

    // 2. star join: dims broadcast, no shuffle of the dims
    val p2 = plan("rel_join_revenue_nation")(
      graft.rel.Relational.joinRevenueByNation(spark, dir))
    check("rel_join_revenue_nation",
      p2.contains("BroadcastHashJoin"), "BroadcastHashJoin")

    // 3. shuffle join keeps partial aggregation (map-side combine)
    val p3 = plan("rel_shuffle_join_revenue")(
      graft.rel.Relational.shuffleJoinRevenue(spark, dir))
    check("rel_shuffle_join_revenue",
      p3.contains("HashAggregate"), "partial HashAggregate")

    // 4. text ops: scan reads only needed columns
    val p4 = plan("text_token_stats")(
      graft.text.TextOps.tokenStats(spark, dir))
    check("text_token_stats",
      !p4.contains("doc_id"), "pruning (doc_id not needed)")

    // 5. knn brute: probes broadcast
    val p5 = plan("sim_knn_brute")(
      graft.sim.SimOps.knnBrute(spark, dir))
    check("sim_knn_brute",
      p5.contains("Broadcast"), "broadcast probe set")

    // 6. exact pair scan: blocked shuffle, NOT a nested-loop cross product
    // (the round-1 scale-killer this replaced)
    val p6 = plan("sim_cosine_pairs")(
      graft.sim.SimOps.cosinePairs(spark, dir))
    check("sim_cosine_pairs",
      !p6.contains("BroadcastNestedLoopJoin") && !p6.contains("CartesianProduct"),
      "no nested-loop/cartesian join in the pair scan")
    // plan size must be O(1) in block count (VERDICT r2 #2): the block
    // replicas come from ONE explode(sequence(...)), not a literal array
    check("sim_cosine_pairs",
      "least\\(".r.findAllIn(p6).size <= 4 && p6.length < 40000,
      "constant-size block-replication plan (no per-block literals)")

    // 7. global ranking is two-phase: the data flows through a RANGE
    // exchange + partition-local window (Ranking.globalRank), never a
    // single-task all-rows window; per-group top-k windows hash-partition
    val p7a = plan("rel_pagination_buckets")(
      graft.rel.Relational.paginationBuckets(spark, dir))
    check("rel_pagination_buckets",
      p7a.contains("rangepartitioning"),
      "range exchange (two-phase global rank)")
    val p7b = plan("rel_window_top_orders")(
      graft.rel.Relational.windowTopOrders(spark, dir))
    check("rel_window_top_orders",
      p7b.contains("hashpartitioning"), "hash-partitioned window")

    // 8. version time-travel: one hash shuffle on the file key, window
    // runs partition-local (no global sort before the filter)
    val p8 = plan("kg_latest_versions") {
      graft.kg.Versions.latest(graft.kg.KgQueries.versionsTable(spark))
    }
    check("kg_latest_versions",
      p8.contains("Window") && p8.contains("hashpartitioning"),
      "partition-local window over hash exchange")

    println("\n===== RESULT =====")
    if (failures.isEmpty) println("PLAN CHECKS: all passed")
    else { failures.foreach(f => println(s"FAIL $f")); sys.exit(1) }
    spark.stop()
  }
}
