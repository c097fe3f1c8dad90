package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.execution.FormattedMode
import graft.rel.Relational
import graft.sim.SimOps

/** Plan-shape regression over EVERY registered query (VERDICT r3 next-round
  * #8): for each SparkEntry.queries entry, the optimized/physical plan must
  * contain
  *  - no CartesianProduct (both-sides-big cross join — the 100×-scale
  *    killer; broadcast nested-loop against a tiny broadcast side is
  *    allowed, e.g. the knn probe joins),
  *  - no partition-unbounded Window over DATA (empty partitionSpec is
  *    allowed only for the two-phase Ranking.globalRank offsets window,
  *    whose input is the __pid count aggregate — bounded by partition
  *    count, not rows),
  *  - no literal-array plan blowup (plan size stays O(1) in data/block
  *    count — a bounded tree string).
  * The "plan audit" tests then check the physical choices the operators
  * are designed around, each on a query that relies on one: filters and
  * projections pushed into the parquet scan, small sides broadcast,
  * partial aggregation, whole-stage codegen, and range or hash exchanges
  * under the windows.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-planshape-spec")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  private val dir = "/root/testdata/sf0.001"

  /** globalRank's offsets window: empty partitionSpec whose subtree
    * aggregates on the synthetic __pid — input is partition-count sized. */
  private def isBoundedOffsetsWindow(w: LWindow): Boolean =
    w.child.collectFirst {
      case a: Aggregate if a.groupingExpressions.exists(
        _.references.exists(_.name == "__pid")) => a
    }.isDefined

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"plan shape: $name") {
      try {
        // materialize the shared stage caches first (ctx tables, builder
        // indexes): the steady-state plan reads InMemoryRelations — the
        // same shape a production run has after its stage tables persist.
        // Without this, the inspected tree is the one-off cold lineage of
        // the whole pipeline and its LENGTH measures pipeline complexity,
        // not the per-row blowup this spec guards against.
        fn(spark, dir).count()
        val df = fn(spark, dir)
        val opt = df.queryExecution.optimizedPlan
        // 1. no cartesian product anywhere in the physical plan
        val phys = df.queryExecution.executedPlan.toString
        assert(!phys.contains("CartesianProduct"),
          s"$name: CartesianProduct in the physical plan")
        // 2. every empty-partitionSpec window is the bounded offsets one
        val unbounded = opt.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
            !isBoundedOffsetsWindow(w) => w
        }
        assert(unbounded.isEmpty,
          s"$name: partition-unbounded window over data:\n" +
            unbounded.map(_.simpleString(120)).mkString("\n"))
        // 3. no literal-array blowup: a per-row/per-block literal list
        // (the r2 sim_cosine_pairs bug: explode(array(lit, lit, …×N)))
        // prints as ONE enormous expression line, while legitimate deep
        // lineage is many moderate lines — so bound the longest LINE, not
        // the tree size (cached stage tables re-print their whole lineage
        // in both the logical and physical tree strings).
        val widest = (opt.treeString + "\n" + phys).linesIterator
          .map(_.length).max
        assert(widest < 20000, s"$name: a plan line is $widest chars wide")
      } finally CacheRegistry.release()
    }
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def audit(name: String)(body: => Unit): Unit =
    test(s"plan audit: $name") { try body finally CacheRegistry.release() }

  audit("rel_range_filter: pushed filters, o_comment pruned, codegen spans") {
    val df = Relational.rangeFilter(spark, dir)
    val p = formatted(df)
    assert(p.contains("PushedFilters: ["), "no PushedFilters")
    assert(!p.contains("o_comment"), "o_comment is read")
    // codegen spans exist only in the executed (AQE-final) plan; collect
    // the SAME DataFrame (count() would build a separate query execution)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("), "no *(n) codegen span")
  }

  audit("rel_join_revenue_nation: the dims are broadcast") {
    val p = formatted(Relational.joinRevenueByNation(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "no BroadcastHashJoin")
  }

  audit("rel_shuffle_join_revenue: partial aggregation before the shuffle") {
    val p = formatted(Relational.shuffleJoinRevenue(spark, dir))
    assert(p.contains("HashAggregate"), "no partial HashAggregate")
  }

  audit("text_token_stats: doc_id is not read") {
    val p = formatted(graft.text.TextOps.tokenStats(spark, dir))
    assert(!p.contains("doc_id"), "doc_id is read")
  }

  audit("sim_knn_brute: the probe set is broadcast") {
    val p = formatted(SimOps.knnBrute(spark, dir))
    assert(p.contains("Broadcast"), "no broadcast probe set")
  }

  audit("sim_cosine_pairs: blocked shuffle, constant-size replication") {
    val p = formatted(SimOps.cosinePairs(spark, dir))
    // the round-1 scale killer was a nested-loop cross product
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "nested-loop or cartesian join")
    // the block replicas come from ONE explode(sequence(...)), not a
    // literal array per block (VERDICT r2 #2)
    val leasts = "least\\(".r.findAllIn(p).size
    assert(leasts <= 4 && p.length < 40000,
      s"block replication grows the plan: $leasts least( calls, " +
        s"${p.length} chars")
  }

  // global ranking is two-phase: a RANGE exchange feeds a partition-local
  // window (Ranking.globalRank), never one all-rows window task
  audit("rel_pagination_buckets: range exchange") {
    val p = formatted(Relational.paginationBuckets(spark, dir))
    assert(p.contains("rangepartitioning"), "no range exchange")
  }

  audit("rel_window_top_orders: hash exchange under the per-group window") {
    val p = formatted(Relational.windowTopOrders(spark, dir))
    assert(p.contains("hashpartitioning"), "no hash exchange")
  }

  // version time travel: one hash shuffle on the file key, then a
  // partition-local window (no global sort before the filter)
  audit("kg_latest_versions: window over a hash exchange") {
    val p = formatted(
      graft.kg.Versions.latest(graft.kg.KgQueries.versionsTable(spark)))
    assert(p.contains("Window") && p.contains("hashpartitioning"),
      "no partition-local window over a hash exchange")
  }

  // kg_toc_pages reads the persisted query context; sim_lsh_knn's plan
  // carries higher-order functions with numbered lambda variables
  for (q <- Seq("kg_toc_pages", "sim_lsh_knn"))
    test(s"explain dumps: two renders of $q normalise to one text") {
      def render(): (String, String) = {
        val df = SparkEntry.queries(q)(spark, dir)
        try (formatted(df), BenchExtra.explainText(df))
        finally CacheRegistry.release()
      }
      val (raw1, text1) = render()
      val (raw2, text2) = render()
      // the raw renders carry fresh expression ids, lambda instances and
      // plan ids; the dump text must not
      assert(raw1 != raw2)
      assert(text1 == text2)
    }
}
