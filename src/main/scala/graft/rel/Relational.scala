package graft.rel

import graft.functions.Selectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator suite: every query-shaped operator from SURVEY.md §2
  * (aggregations §2.4, sorts/top-k §2.5, set ops §2.6, joins §2.3, facet
  * selectors §2.8) expressed as a Catalyst plan over the driver's TPC-H-ish
  * tables, each with a DuckDB-equivalent oracle in [[Relational.oracleSql]].
  *
  * Scale notes (100 TB design):
  *  - dimension tables (region/nation/customer-sized) are broadcast
  *    explicitly; fact-fact joins shuffle on their keys and rely on AQE for
  *    skew splitting;
  *  - aggregates are plain groupBy so Catalyst plans partial (map-side)
  *    aggregation — no driver-side loops anywhere;
  *  - double-typed aggregates are rounded at the output boundary only
  *    (sum order is nondeterministic across partitions; rounding at 1e-2
  *    with ~1e-8 absolute fp error keeps oracle hash equality safe).
  */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q1-shaped pricing summary: groupBy aggregate with partial
    * aggregation (mirrors stats group-by, wsgiapp.py:232-310). */
  def aggPricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Facet-stats count-distinct: distinct documents per observation value
    * (reference dedups (uri, observation) pairs then counts —
    * wsgiapp.py:340,381-385). */
  def statsCountDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Star join with explicit broadcast of the small dimensions — revenue per
    * nation. At 100 TB the fact side shuffles once on o_custkey; all three
    * dims stay broadcast (mirrors the minted-URI dictionary probe,
    * documentrepository.py:2018-2056). */
  def joinRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = broadcast(t(spark, dir, "customer"))
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region"))
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Anti join: entities never referenced by a qualifying edge — customers
    * with no big order (skeleton-entity pass,
    * sources/general/skeleton.py:17-44). */
  def antiJoinNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 150000.0)
    customer
      .join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"),
            "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           min(col("c_custkey")).as("min_custkey"))
      .orderBy(col("c_mktsegment"))
  }

  /** Semi join: orders having at least one discounted line (resultset ∩
    * faceted-rows intersection, wsgiapp.py:267-283). */
  def semiJoinDiscounted(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem").filter(col("l_discount") > 0.05)
    orders
      .join(li, orders("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Window top-k per group: 3 priciest orders per customer (toc per-page
    * sort, documentrepository.py:2987-2992). */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
  }

  /** First-wins dedup via priority window — CompositeRepository union
    * semantics (compositerepository.py:29-48): keep each customer's earliest
    * order. */
  def firstWinsDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
              col("o_orderdate").as("first_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** Multi-valued facet explode (facet.py:54-58 → one row per value):
    * tokenize part type, count parts per token. */
  def explodeFacetValues(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(explode(split(col("p_type"), " ")).as("type_word"))
      .filter(col("type_word") =!= "")
      .groupBy(col("type_word"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("type_word"))

  /** Facet selector chain: titlesortkey + firstletter (facet.py:195-232,
    * util.title_sortkey util.py:727-741) over part names. */
  def firstLetterFacet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(substring(Selectors.titleSortKey(col("p_name")), 1, 1)
        .as("letter"))
      .groupBy(col("letter"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("letter"))

  /** Facet `year` selector (facet.py:156-177): orders per year. */
  def yearFacet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("order_year"))

  /** Top-5 latest (frontpage news, sources/tech/rfc.py:702): deterministic
    * tie-break on event_id. */
  def top5Latest(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(5)
      .select(col("event_id"), col("ts"), col("event_type"))

  /** Pagination / Atom archive chunking (documentrepository.py:3639-3661):
    * bucket events into pages of 100 by time order, count per page.
    * Global order via the two-phase [[Ranking.globalRank]] — no
    * single-task window. */
  def paginationBuckets(spark: SparkSession, dir: String): DataFrame = {
    Ranking.globalRank(t(spark, dir, "events"),
        Seq(col("ts").asc, col("event_id").asc), "rn")
      .withColumn("page", floor((col("rn") - 1) / 100))
      .groupBy(col("page"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"))
      .orderBy(col("page"))
  }

  /** Range-facet query modifiers (Between/Less/More,
    * fulltextindex.py:307-333): bounded price + date window. */
  def rangeFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_totalprice").between(1000.0, 100000.0) &&
              year(col("o_orderdate")) >= 1995)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("o_orderpriority"))

  /** Grouped collect (deps-edge aggregation, documentrepository.py:2058-2080)
    * rendered order-stable as a sorted csv string for oracle comparison. */
  def groupCollectSorted(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val nation = broadcast(t(spark, dir, "nation"))
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(concat_ws(",", sort_array(collect_set(col("c_mktsegment"))))
             .as("segments"),
           count(lit(1)).as("n_customers"))
      .orderBy(col("n_name"))
  }

  /** Duplicate detection report (faceted-row dedup,
    * documentrepository.py:2266-2280): groups with >1 identical row. */
  def duplicateReport(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .groupBy()
      .agg(count(lit(1)).as("dup_groups"),
           coalesce(sum(col("n")), lit(0)).as("dup_rows"))

  /** Shuffle (fact-to-fact) join: lineitem×orders revenue per orderpriority ×
    * linestatus — both sides large at 100 TB, hash-partitioned on the key,
    * AQE handles skew (north_rule). */
  def shuffleJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val orders = t(spark, dir, "orders")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"), col("l_linestatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_agg_pricing" -> aggPricing,
    "rel_stats_count_distinct" -> statsCountDistinct,
    "rel_join_revenue_nation" -> joinRevenueByNation,
    "rel_anti_join_no_orders" -> antiJoinNoOrders,
    "rel_semi_join_discounted" -> semiJoinDiscounted,
    "rel_window_top_orders" -> windowTopOrders,
    "rel_first_wins_dedup" -> firstWinsDedup,
    "rel_explode_facet_values" -> explodeFacetValues,
    "rel_firstletter_facet" -> firstLetterFacet,
    "rel_year_facet" -> yearFacet,
    "rel_top5_latest" -> top5Latest,
    "rel_pagination_buckets" -> paginationBuckets,
    "rel_range_filter" -> rangeFilter,
    "rel_group_collect_sorted" -> groupCollectSorted,
    "rel_duplicate_report" -> duplicateReport,
    "rel_shuffle_join_revenue" -> shuffleJoinRevenue,
  )

  val oracleSql: Map[String, String] = Map(
    "rel_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "rel_stats_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",
    "rel_join_revenue_nation" ->
      """SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue,
         count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "rel_anti_join_no_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
         min(c_custkey) AS min_custkey
         FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
         GROUP BY 1 ORDER BY 1""",
    "rel_semi_join_discounted" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
         GROUP BY 1 ORDER BY 1""",
    "rel_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey""",
    "rel_first_wins_dedup" ->
      """SELECT o_custkey, o_orderkey AS first_orderkey,
                o_orderdate AS first_orderdate
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                      row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",
    "rel_explode_facet_values" ->
      """SELECT type_word, count(*) AS n_parts
         FROM (SELECT unnest(string_split(p_type, ' ')) AS type_word FROM part)
         WHERE type_word <> '' GROUP BY 1 ORDER BY 1""",
    "rel_firstletter_facet" ->
      """SELECT substr(replace(regexp_replace(
               regexp_replace(lower(trim(p_name)), '^the ', ''),
               '[^a-z0-9 ]', '', 'g'), ' ', ''), 1, 1) AS letter,
         count(*) AS n
         FROM part GROUP BY 1 ORDER BY 1""",
    "rel_year_facet" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "rel_top5_latest" ->
      """SELECT event_id, ts, event_type FROM events
         ORDER BY ts DESC, event_id DESC LIMIT 5""",
    "rel_pagination_buckets" ->
      """SELECT page, count(*) AS n, min(event_id) AS min_event
         FROM (SELECT event_id, cast(floor((row_number() OVER
                 (ORDER BY ts ASC, event_id ASC) - 1) / 100) AS bigint) AS page
               FROM events)
         GROUP BY 1 ORDER BY 1""",
    "rel_range_filter" ->
      """SELECT o_orderpriority, count(*) AS n,
         round(avg(o_totalprice), 2) AS avg_price
         FROM orders
         WHERE o_totalprice BETWEEN 1000.0 AND 100000.0
           AND year(o_orderdate) >= 1995
         GROUP BY 1 ORDER BY 1""",
    "rel_group_collect_sorted" ->
      """SELECT n_name,
         string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
         count(*) AS n_customers
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "rel_duplicate_report" ->
      """SELECT count(*) AS dup_groups,
         cast(coalesce(sum(n), 0) AS bigint) AS dup_rows
         FROM (SELECT count(*) AS n FROM lineitem
               GROUP BY l_orderkey, l_partkey, l_suppkey HAVING count(*) > 1)""",
    "rel_shuffle_join_revenue" ->
      """SELECT o_orderpriority, l_linestatus,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
  )
}
