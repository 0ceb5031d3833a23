package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.CrossEngine.pround

/** Relational query surface over the driver test tables.
  *
  * The reference has no joins/windows/set-ops (SURVEY.md §2.6) — this
  * layer is the north-star relational extension, expressed purely with
  * Catalyst built-ins so pushdown/pruning/AQE apply untouched.
  *
  * Determinism contract (driver hash-compare): every query ends in an
  * explicit total-order sort and rounds floating aggregates, with
  * column aliases mirrored exactly in the DuckDB oracle SQL.
  *
  * Scale notes are inline per query; the common ones:
  *  - dimension joins (`nation`, `region`) are `broadcast()` — no
  *    shuffle of the fact table;
  *  - fact-fact joins shuffle on the join key once and reuse it;
  *  - windows partition by a key (never a global window) except the
  *    gap scan, whose global order is its semantic — see repl_gaps.
  */
object Relational {

  private def ts(lit0: String): Column = lit(lit0).cast("timestamp")

  /** TPC-H Q1-style pricing summary: partial/final hash aggregation,
    * filter pushed to the parquet scan. A1-A4 analogue in SURVEY §2.4.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        pround(sum(col("l_quantity")), 2).as("sum_qty"),
        pround(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        pround(avg(col("l_quantity")), 2).as("avg_qty"),
        pround(avg(col("l_extendedprice")), 2).as("avg_price"),
        pround(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Star join, one probe per fact row: lineitem probes one broadcast
    * orders ⋈ customer map and aggregates on the integer nation key;
    * `nation`/`region` join the ≤ 25 aggregated rows, re-summed by name.
    */
  def q2RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val orderNation = broadcast(Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey")))
    Tables.lineitem(s, d).join(orderNation, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
           count(lit(1)).as("cnt"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(pround(sum(col("rev")), 2).as("revenue"), sum(col("cnt")).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Top-k by aggregate: groupBy + orderBy + limit — Catalyst plans
    * TakeOrderedAndProject, so only k rows cross the final exchange.
    */
  def q3TopOrders(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val rev = l.groupBy(col("l_orderkey"))
      .agg(pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    rev.join(o, rev("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Left-semi join (EXISTS): only the key column of lineitem is
    * scanned (column pruning) and the semi join short-circuits.
    */
  def q4PrioritySemi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val big = Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"))
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-anti join (NOT EXISTS) — the reference's gap-detection shape
    * (SURVEY §2.7 W3) applied relationally: customers who never placed
    * a large (>400k) order.
    */
  def q5CustomersNoOrders(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** TPC-H Q6-style: all three predicates push down to the parquet
    * scan (verify via PushedFilters in explain) — at 100 TB this is
    * the difference between scanning 3 columns of a slice vs the table.
    */
  def q6RevenueForecast(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
              col("l_shipdate") < ts("1997-01-01 00:00:00") &&
              col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
              col("l_quantity") < 24)
      .agg(pround(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_items"))

  /** Ranking window, partitioned by customer — state stays per-key. */
  def q7TopOrdersPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
              pround(col("o_totalprice"), 2).as("price"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running-total window with explicit ROWS frame (unique order key
    * ⇒ ROWS ≡ RANGE, stated explicitly for oracle parity).
    */
  def q8RunningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              pround(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** ROLLUP over the region/nation hierarchy; subtotal rows keyed
    * 'ALL' so the sort is null-free and engine-agnostic.
    */
  def q9RollupAcctbal(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           pround(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("n_name"), lit("ALL")).as("nation"),
              col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nation"))
  }

  /** INTERSECT / EXCEPT set ops, tagged and unioned. */
  def q10SetOps(s: SparkSession, d: String): DataFrame = {
    val auto = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("custkey"))
    val buyers = Tables.orders(s, d)
      .filter(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("custkey")).distinct()
    auto.intersect(buyers).withColumn("tag", lit("auto_buyer"))
      .unionByName(auto.except(buyers).withColumn("tag", lit("auto_only")))
      .select(col("tag"), col("custkey"))
      .orderBy(col("tag"), col("custkey"))
  }

  /** Join-key skew diagnostic — the measurement that decides whether
    * a 100 TB join needs `ScaleOps.saltedJoin` and with how many
    * salts: per-key row counts of the fact join key, reduced to
    * distribution stats (max/avg/p50/p90/p99) and a skew factor.
    * Two cheap aggregations (per-key partial count, then a scalar
    * reduce); key volume shuffles as (key, count) pairs only.
    * `suggested_salts` = ceil(max / p90) — spread the hottest key to
    * roughly the p90 partition load.
    */
  def opsKeySkew(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    // a GLOBAL exact percentile over per-key counts must not buffer
    // the key distribution (billions of keys at 100 TB). Reduce to
    // counts-of-COUNTS first — its size is the number of DISTINCT
    // per-key counts, tiny at any scale — and take the weighted
    // percentiles over that frequency table (bucketed prefix sums,
    // no global window, no distribution buffer). avg rebuilt as
    // Σ(cnt·freq)/Σfreq — exact integer arithmetic, same value.
    val freq = counts.groupBy(col("cnt")).agg(count(lit(1)).as("freq"))
    val stats = freq.agg(
      sum(col("freq")).as("n_keys"),
      max(col("cnt")).as("max_cnt"),
      pround(sum(col("cnt") * col("freq")).cast("double") /
             sum(col("freq")).cast("double"), 4).as("avg_cnt"))
    stats.crossJoin(broadcast(ScaleOps.weightedPercentiles(
        freq, "cnt", "freq",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))))
      .select(col("n_keys"), col("max_cnt"), col("avg_cnt"),
        pround(col("p50"), 4).as("p50"),
        pround(col("p90"), 4).as("p90"),
        pround(col("p99"), 4).as("p99"),
        pround(col("max_cnt") / col("avg_cnt"), 4).as("skew_factor"),
        ceil(col("max_cnt") / col("p90")).cast("long").as("suggested_salts"))
  }

  /** Z-order (Morton) layout audit over (user_id, activity-hour) —
    * the multi-column data-skipping layout. Sorting 100 TB by ONE
    * column gives perfect min/max pruning on that column and none on
    * any other; writing in Z-value order bounds every contiguous
    * range (file / row-group) in BOTH dimensions, so per-file min/max
    * stats prune scans filtered on EITHER column. This query computes
    * the layout's own proof: events are quantized to a 16-bit grid
    * per dimension (min/max bounds folded in as ONE broadcast scalar
    * row — plan stays lazy), Z-interleaved with [[ScaleOps.zValue]]
    * (pure built-in long arithmetic: codegen'd, oracle-mirrorable),
    * and audited per 2²⁴-cell Z-tile: every tile's span is ≤ 4096
    * quantized cells ≈ 1/16 of the range in EACH dimension — where
    * equal-count chunks of a time-sorted layout span the FULL
    * user-id range (ZOrderSpec quantifies the comparison).
    *
    * 100 TB shape: quantize+interleave is a map-side projection; the
    * audit is one partially-aggregated groupBy over ≤ 256 tiles; the
    * production write is `sort by z` within range-partitioned output
    * — no new shuffle class.
    */
  def opsZorder(s: SparkSession, d: String): DataFrame =
    zorderAuditOf(Tables.events(s, d))

  private[graft] def zorderAuditOf(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"),
      (unix_timestamp(date_trunc("hour", col("ts"))) / 3600).cast("long").as("hr"))
    val bounds = base.agg(
      min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
      min(col("hr")).as("h_min"), max(col("hr")).as("h_max"))
    base.crossJoin(broadcast(bounds))
      .select(
        floor((col("user_id") - col("u_min")).cast("double") * 65536d /
              (col("u_max") - col("u_min") + 1)).cast("long").as("qx"),
        floor((col("hr") - col("h_min")).cast("double") * 65536d /
              (col("h_max") - col("h_min") + 1)).cast("long").as("qy"))
      .select(shiftright(ScaleOps.zValue(col("qx"), col("qy")), 24).as("tile"),
              col("qx"), col("qy"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_events"),
           min(col("qx")).as("x_min"), max(col("qx")).as("x_max"),
           min(col("qy")).as("y_min"), max(col("qy")).as("y_max"))
      .select(col("tile"), col("n_events"),
              col("x_min"), col("x_max"),
              (col("x_max") - col("x_min") + 1).as("x_span"),
              col("y_min"), col("y_max"),
              (col("y_max") - col("y_min") + 1).as("y_span"))
      .orderBy(col("tile"))
  }

  /** Tumbling-hour aggregation over the event stream table — the
    * batch shape of the streaming windowed agg (SURVEY §2.7).
    */
  def q11EventsHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           pround(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Sessionization (gaps-and-islands): 30-min inactivity gap starts a
    * new session. Window partitioned by user — distributes cleanly.
    */
  def q12UserSessions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("new_session")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** Exact distinct per group (shuffle-dedup then count). */
  def q13DistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Calendar-month revenue rollup on orders. */
  def q14MonthlyRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"),
           pround(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("month"))

  /** Gap detection over an ID sequence — the reference's CheckAndDump
    * missing-range scan (replication.go:339-460) as gaps-and-islands.
    * Observed = event_ids seen on non-error events; emit [start,end]
    * of every missing run. Runs as the distributed operator
    * (ScaleOps.gapRanges): range-bucketed per-bucket lag plus a
    * broadcast boundary carry — no single-partition window stage.
    */
  def replGaps(s: SparkSession, d: String): DataFrame = {
    val observed = Tables.events(s, d)
      .filter(col("event_type") =!= "error")
      .select(col("event_id").as("id"))
    ScaleOps.gapRanges(observed, "id", None)
  }

  /** JSON column processing: extract a typed field from the props
    * JSON string, aggregate per event type.
    */
  def q15JsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
           sum(col("k")).as("sum_k"),
           pround(avg(col("k")), 2).as("avg_k"))
      .orderBy(col("event_type"))

  /** Supplier variety per part profile (the TPC-H Q16 shape on the
    * shipped tables): distinct suppliers per (brand, type, size)
    * among parts that actually shipped, excluding flagged suppliers
    * (negative account balance standing in for Q16's complaint
    * filter). Plan: the supplier exclusion is a broadcast ANTI join
    * and the part attributes a broadcast dim join — the fact stream
    * shuffles once, for the distinct-count aggregate (two-phase:
    * partial distinct on (attrs, suppkey), then the count).
    */
  def q16SupplierVariety(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
    val flagged = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    li.join(broadcast(flagged),
        li("l_suppkey") === flagged("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** CUBE over region x market segment (full grouping-set lattice). */
  def q17Cube(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           pround(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
              coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
              col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("segment"))
  }

  /** Correlated-subquery shape, decorrelated: customers spending more
    * than twice their nation's average customer spend.
    *
    * Money is integerized to thousandths before summing: double sums
    * are order-dependent (and DuckDB compensates, Spark doesn't), so
    * a rounded float sum can straddle a rounding boundary between
    * engines. Integer-valued sums below 2^53 are EXACT in any order.
    */
  def q18BigSpenders(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)"))
             .as("spend_milli"))
    val c = Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
    val w = Window.partitionBy(col("n_name"))
    c.withColumn("nation_avg_milli", avg(col("spend_milli")).over(w))
      .filter(col("spend_milli") > col("nation_avg_milli") * 2)
      .select(col("c_custkey"), col("n_name"),
              pround(col("spend_milli") / 1000.0, 2).as("spend"),
              pround(col("nation_avg_milli") / 1000.0, 2).as("nation_avg"))
      .orderBy(col("c_custkey"))
  }

  /** Exact percentiles per group (linear interpolation). Computed
    * through [[ScaleOps.sortedPercentiles]] — the rank-window form
    * whose per-group sort SPILLS, instead of the built-in
    * `percentile()` whose aggregation buffer holds a group's whole
    * distribution in memory (the one aggregate shape a 100 TB group
    * kills). Bit-identical interpolation, oracle unchanged.
    */
  def q19Percentiles(s: SparkSession, d: String): DataFrame =
    ScaleOps.sortedPercentiles(
        Tables.events(s, d).select(col("event_type"), col("value")),
        "event_type", "value",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))
      .select(col("event_type"),
        pround(col("p50"), 2).as("p50"),
        pround(col("p90"), 2).as("p90"),
        pround(col("p99"), 2).as("p99"))
      .orderBy(col("event_type"))

  /** Approximate sketches (HLL distinct, t-digest-style quantile).
    * Sketch values differ per engine, so the oracle contract is a
    * tolerance bound: each engine checks ITS OWN sketch against its
    * own exact aggregate; the exported columns (exact value + the
    * within-tolerance booleans) are cross-engine deterministic. At
    * 100 TB the sketches replace their exact twins (q13, q19)
    * wherever small error is acceptable.
    */
  /** Approx sketches (HLL, quantile) with in-query exact verification.
    * The quantile check is a RANK COUNT — the fraction of values at
    * or below the sketch's p50 must sit in [0.45, 0.55] — not an
    * exact `percentile` comparison: exact percentile buffers every
    * value of a group in executor memory (an ObjectHashAggregate over
    * the full distribution), the one thing a 100 TB aggregate can
    * never do, and full-evaluation benching showed it was 50× this
    * query's count-cost (5.4 s at sf0.1). The rank check is O(1)
    * memory, one extra scan with the per-type sketch row broadcast
    * back — and it verifies the same 10%-tolerance contract.
    * countDistinct stays exact: a two-phase distinct aggregate
    * distributes fine at any scale.
    */
  def statsApprox(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), col("value"))
    val agg = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           approx_count_distinct(col("user_id")).as("au"),
           expr("approx_percentile(value, CAST(0.5 AS DOUBLE), 10000)").as("ap50"),
           count(lit(1)).as("n"))
    val below = e
      .join(broadcast(agg.select(col("event_type"), col("ap50"))), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("value") <= col("ap50"), 1L).otherwise(0L)).as("n_below"))
    agg.join(below, Seq("event_type"))
      .select(col("event_type"), col("n_users"),
              (abs(col("au") - col("n_users")) <=
                 col("n_users") * lit(0.1) + lit(2.0)).as("hll_ok"),
              (col("n_below") / col("n")).between(0.45, 0.55).as("p50_ok"))
      .orderBy(col("event_type"))
  }

  /** As-of join, composed from built-ins (preference order (a) of the
    * extension ladder): each purchase matched to the user's most
    * recent STRICTLY PRIOR click — `last(..., ignoreNulls)` over a
    * per-user ordered frame ending at 1 PRECEDING. No custom plan
    * needed; state is per-user and distributes on the partition key.
    */
  def q20AsofJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("asof_click_id",
        last(when(col("event_type") === "click", col("event_id")),
             ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("asof_click_id"))
      .orderBy(col("purchase_id"))
  }

  /** Array aggregation: sorted distinct collections per group. The
    * collection is serialized with array_join for the oracle dump —
    * the driver's comparator sorts rows via pandas, which cannot
    * order array cells.
    */
  def q21Arrays(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") < 10)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Pivot (wide counts per event type by month) — Spark's pivot()
    * with an explicit value list; the oracle mirrors with conditional
    * aggregation, the engine-portable form of the same plan.
    */
  def q22Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("month", date_trunc("month", col("ts")).cast("date"))
      .groupBy(col("month"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("month"))

  /** Calendar features: ISO weekday x hour activity matrix (weekday()
    * is Monday=0 in Spark, isodow Monday=1 in DuckDB — aligned by +1).
    */
  def q23Calendar(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy((weekday(col("ts")) + 1).as("isodow"),
               hour(col("ts")).as("hh"))
      .agg(count(lit(1)).as("n_events"),
           pround(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("isodow"), col("hh"))

  /** GROUPING SETS (the general form underlying rollup/cube). */
  def q24GroupingSets(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d); val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupingSets(Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq()),
                    col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           pround(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
              coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
              col("n_customers"), col("sum_acctbal"))
      .orderBy(col("nation"), col("segment"))
  }

  /** The SQL front-end surface: the same engine driven entirely via
    * `spark.sql` over registered views (CTE + window + join), proving
    * a SQL user needs no DataFrame code.
    */
  def q25SqlSurface(s: SparkSession, d: String): DataFrame = {
    Tables.registerViews(s, d)
    s.sql(
      """WITH cust_rev AS (
        |  SELECT o_custkey, sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)) AS rev_milli
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, rnk, c_custkey,
        |  floor(CAST(rev_milli AS DOUBLE) / 10.0 + 0.5) / 100 AS revenue
        |FROM (SELECT n_name, c_custkey, rev_milli,
        |        row_number() OVER (PARTITION BY n_name
        |          ORDER BY rev_milli DESC, c_custkey) AS rnk
        |      FROM cust_rev
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rnk <= 3
        |ORDER BY n_name, rnk""".stripMargin)
  }

  /** Part/supplier coverage: revenue by part brand and supplier
    * nation (three-way fact-dim-dim star with two broadcast dims).
    */
  def q26PartsSupply(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d); val p = Tables.part(s, d)
    val sup = Tables.supplier(s, d); val n = Tables.nation(s, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
           pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           pround(avg(col("p_retailprice")), 2).as("avg_retail"))
      .orderBy(col("p_brand"), col("n_name"))
  }

  /** Range join: clicks by the same user in the 10 minutes before
    * each purchase. Equi-key (user_id) + range predicate — Spark
    * plans the equi-join and applies the range as a join filter, so
    * the pair space is bounded per user, never cross-user. At scale
    * the win is the same as any fact-fact join: shuffle on user_id
    * once; AQE handles skewed users.
    */
  def q27RangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"))
    // range lives in the join condition: pairs outside the window are
    // dropped during the join, not carried into the aggregate. At
    // extreme per-user volumes, add coarse time-buckets to the equi
    // key (join on (user, bucket) ∪ (user, bucket-1)) — same plan
    // family, pair space bounded by bucket width.
    p.join(c,
        col("user_id") === col("c_user") &&
          col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") < col("pts"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(col("cts")).as("n_recent_clicks"))
      .orderBy(col("purchase_id"))
  }

  /** The range-join oracle, shared verbatim by [[q27RangeJoin]] and
    * [[q27RangeJoinBucketed]] (output-identical by construction —
    * one oracle, two plans, the dedup_keep_best_idx discipline).
    */
  private val RangeJoinOracleSql: String =
    """SELECT p.purchase_id, p.user_id,
      |  CAST(sum(CASE WHEN c.cts >= p.pts - INTERVAL 10 MINUTE
      |                 AND c.cts < p.pts THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_recent_clicks
      |FROM (SELECT user_id, event_id AS purchase_id, ts AS pts
      |      FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts AS cts
      |           FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |GROUP BY p.purchase_id, p.user_id
      |ORDER BY p.purchase_id""".stripMargin

  /** 10 minutes in µs — [[q27RangeJoin]]'s window width, which is
    * exactly the right coarse-bucket width: a click inside the
    * window lands in the purchase's bucket or the one before it,
    * never further.
    */
  private val RangeBucketUs = 600000000L

  /** [[q27RangeJoin]]'s bucketed form — the extreme-volume mitigation
    * that query documents, promoted to a registered oracle-gated
    * operator after the exhaustive 100× sweep measured the plain
    * range join at 30 s (67× its 1× cost): the replication keeps
    * user_ids fixed, so the per-user purchase×click candidate space
    * grows quadratically in the replication factor. Adding
    * `floor(µs / window)` to the equi key (purchases probe their own
    * bucket AND the previous one — a window-width bucket means an
    * in-window click can sit nowhere else, and it matches exactly ONE
    * of the two probe rows, its own bucket's) bounds the join's
    * candidate space per (user, 10-min bucket) instead of per user.
    * Unmatched probe rows survive the left join as null clicks and
    * `count(cts)` ignores them, so output — and the ORACLE, reused
    * verbatim from `q27_range_join` — are identical.
    */
  def q27RangeJoinBucketed(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val pb = floor(expr("unix_micros(ts)") / RangeBucketUs)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("pts"),
              explode(array(pb, pb - 1)).as("bkt"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"),
              pb.as("c_bkt"))
    p.join(c,
        col("user_id") === col("c_user") && col("bkt") === col("c_bkt") &&
          col("cts") >= col("pts") - expr("INTERVAL 10 MINUTES") &&
          col("cts") < col("pts"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(col("cts")).as("n_recent_clicks"))
      .orderBy(col("purchase_id"))
  }

  /** Time-series resample: per-user hourly grid over the user's
    * active span, hourly mean of `value` (integerized before summing
    * — see q18's money note), gaps forward-filled from the last
    * observed hour. Grid generation is sequence+explode (no driver
    * loop); fill state is a per-user window — distributes on user_id.
    * Probe slice user_id < 10 bounds the dump.
    */
  def q28Resample(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("user_id") < 10)
    val span = e.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
           date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val hourly = e.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg((sum(expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)")) /
              (count(lit(1)) * lit(1000.0).cast("double"))).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("observed", col("v").isNotNull)
      .withColumn("vf", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("vf").isNotNull)
      .select(col("user_id"), col("hour"), pround(col("vf"), 2).as("value"),
              col("observed"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** Decile bucketing (ntile) of customers by balance within each
    * nation — partitioned window, so rank state distributes by
    * nation; the global-decile variant would be the single-partition
    * trap (use approx quantile cutpoints for that at scale).
    */
  def q29Deciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("c_nationkey"), col("decile"))
      .agg(count(lit(1)).as("n_customers"),
           pround(avg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("c_nationkey"), col("decile"))
  }

  /** Value histogram: 20 fixed-width buckets per event type over
    * [0, 1000). One partial-aggregating groupBy — histograms at any
    * scale are a counting problem once bucket edges are fixed.
    */
  def q30Histogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value") >= 0 && col("value") < 1000)
      // explicit edge formula (DuckDB has no width_bucket): bucket i
      // covers [50(i-1), 50i)
      .withColumn("bucket", (floor(col("value") / 50.0) + 1).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
           pround(min(col("value")), 2).as("lo"),
           pround(max(col("value")), 2).as("hi"))
      .orderBy(col("event_type"), col("bucket"))

  /** Pearson correlation of order price vs line quantity per return
    * flag — built from EXACT integer sums (milli-units; products stay
    * < 2^63) instead of corr(): float-sum reductions are
    * order-dependent, exact integer sums are not, so the value is
    * bit-identical on any engine and any partitioning. The shape is
    * the textbook single-pass sufficient-statistics aggregation —
    * what corr() does internally, made deterministic.
    */
  def q31Corr(s: SparkSession, d: String): DataFrame = {
    val x = expr("CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT)")
    val y = expr("CAST(floor(l_extendedprice * 10 + 0.5) AS BIGINT)")
    def d2(c: org.apache.spark.sql.Column) = c.cast("double")
    // sums are exact integers (sxy/sxx/syy stay < 2^63 at the chosen
    // scales); cross-sum products would overflow BIGINT, so the final
    // arithmetic runs in double AFTER the exact reductions — same
    // fixed expression order as the oracle, so bit-identical
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(x).as("sx"), sum(y).as("sy"),
           sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        pround(
          (d2(col("n")) * d2(col("sxy")) - d2(col("sx")) * d2(col("sy"))) /
            sqrt(d2(col("n")) * d2(col("sxx")) - d2(col("sx")) * d2(col("sx"))) /
            sqrt(d2(col("n")) * d2(col("syy")) - d2(col("sy")) * d2(col("sy"))),
          6).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Ordered conversion funnel view → click → purchase: a user
    * advances a step only with a LATER event of the next type (strict
    * ts ordering), the product-analytics query every event pipeline
    * ships. Each step is one filtered aggregate per user joined to
    * the previous step's first-reach time — type filters push to the
    * parquet scan, per-step shuffles carry only (user_id, ts), and
    * step sizes shrink monotonically, so the chain is three
    * ever-smaller hash joins at 100 TB (AQE broadcasts the later
    * steps once they fit). The three step counts pack into one row
    * (crossJoin of 1-row aggregates) and unpivot via explode — not a
    * UNION of aggregates, which would re-evaluate the shared chain
    * per branch (the pipe_modern lesson).
    */
  def q32Funnel(s: SparkSession, d: String): DataFrame =
    q32FunnelOf(Tables.events(s, d))

  /** [[q32Funnel]] over an explicit events frame (spec entry). */
  private[graft] def q32FunnelOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def conv(num: Column, den: Column): Column =
      floor(num.cast("double") / greatest(den, lit(1L)) * lit(1000d) + lit(0.5)).cast("long")
    v.agg(count(lit(1)).as("n1"))
      .crossJoin(c.agg(count(lit(1)).as("n2")))
      .crossJoin(p.agg(count(lit(1)).as("n3")))
      .select(explode(array(
        struct(lit("1_view").as("step"), col("n1").as("n_users"),
               lit(1000L).as("conv_x1000")),
        struct(lit("2_click").as("step"), col("n2").as("n_users"),
               conv(col("n2"), col("n1")).as("conv_x1000")),
        struct(lit("3_purchase").as("step"), col("n3").as("n_users"),
               conv(col("n3"), col("n2")).as("conv_x1000")))).as("r"))
      .select(col("r.step").as("step"), col("r.n_users").as("n_users"),
              col("r.conv_x1000").as("conv_x1000"))
      .orderBy(col("step"))
  }

  /** Weekly cohort retention — the other half of product analytics
    * next to [[q32Funnel]]: users bucketed by first-seen ISO week,
    * then for each (cohort, week offset) the count of users active
    * that week. Two aggregates and a join, all keyed on user_id —
    * first-seen derivation is a map-side-partial min, the activity
    * table dedups to one row per (user, week) BEFORE the join (weeks
    * per user is bounded, so the join input is ~users × weeks, not
    * events), and the retention matrix is cohorts × offsets. Offsets
    * divide day differences of week-truncated dates, so they are
    * exact integers in both engines.
    */
  def q33Retention(s: SparkSession, d: String): DataFrame =
    q33RetentionOf(Tables.events(s, d))

  /** [[q33Retention]] over an explicit events frame (spec entry). */
  private[graft] def q33RetentionOf(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val active = ev.distinct()
    active.join(firstSeen, Seq("user_id"))
      .groupBy(col("cohort").cast("date").as("cohort_week"),
        (datediff(col("wk").cast("date"), col("cohort").cast("date"))
          .cast("long") / lit(7L)).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Trailing-window anomaly detection over event volume — the
    * monitoring query a production ingest runs to catch traffic
    * spikes/outages per event type: each (type, hour) count is
    * z-scored against its own trailing 24-hour window.
    *
    * Determinism: the window aggregates are INTEGER sufficient
    * statistics (count, Σcnt, Σcnt² — order-free BIGINT sums, the
    * q31_corr discipline); mean/variance/z derive from them in pure
    * double arithmetic, identical in any IEEE engine, so even the
    * `> 2.0` anomaly flag is engine-exact. Zero-variance frames are
    * excluded with the exact integer predicate s2·n > sm² (no float
    * epsilon), short frames with n_frame ≥ 12.
    *
    * Scale shape: the corpus-sized exchange is the partial-aggregated
    * groupBy(type, hour) — the trailing window then runs over the
    * REDUCED hours×types stream (RANGE frame on integer hour_id), so
    * the low-cardinality partitionBy(event_type) is a few thousand
    * rows per partition regardless of event volume.
    */
  def evtAnomaly(s: SparkSession, d: String): DataFrame =
    evtAnomalyOf(Tables.events(s, d))

  /** [[evtAnomaly]] over an explicit events frame (spec entry). */
  private[graft] def evtAnomalyOf(events: DataFrame): DataFrame = {
    val hourly = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_id"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_id"))
      .rangeBetween(-24, -1)
    val mean = col("sm").cast("double") / col("n_frame")
    val variance =
      (col("s2") - col("sm").cast("double") * col("sm") / col("n_frame")) /
        (col("n_frame") - 1)
    val z = (col("cnt") - mean) / sqrt(variance)
    hourly
      .withColumn("n_frame", count(lit(1)).over(w))
      .withColumn("sm", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n_frame") >= 12 &&
        col("s2") * col("n_frame") > col("sm") * col("sm"))
      .select(col("event_type"), col("hour_id"), col("cnt"), col("n_frame"),
        pround(mean, 4).as("mean"), pround(z, 4).as("z"),
        (abs(z) > 2.0).as("is_anomaly"))
      .orderBy(col("event_type"), col("hour_id"))
  }

  /** Run-length-compressed state history (SCD2 build): the event log
    * per user collapses to one row per RUN of identical consecutive
    * event_type — the change-data-capture step that turns an append
    * log into a temporal dimension (valid-from/valid-to intervals).
    *
    * Shape: one per-user window pass (lag change flag + running sum
    * island id over the SAME total order ts, event_id — one exchange,
    * one sort) then a partial-aggregated groupBy — the q12
    * gaps-and-islands machinery pointed at state transitions. The
    * change flag is null-safe (`<=>`), so the first event of a user
    * always opens run 1 in both engines.
    */
  def evtScd2(s: SparkSession, d: String): DataFrame =
    scd2Of(Tables.events(s, d))

  /** [[evtScd2]] over an explicit events frame (spec entry). */
  private[graft] def scd2Of(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("chg",
        when(!(lag(col("event_type"), 1).over(w) <=> col("event_type")), 1L)
          .otherwise(0L))
      .withColumn("run_seq", sum(col("chg")).over(wc))
      .groupBy(col("user_id"), col("run_seq"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("from_ts"), max(col("ts")).as("to_ts"))
      .orderBy(col("user_id"), col("run_seq"))
  }

  /** Native session windows in batch — Spark's `session_window`
    * (merge events within the gap; window end = last event + gap; a
    * gap of EXACTLY 30 min still MERGES — boundary-touching windows
    * coalesce, pinned empirically in Scd2SessionSpec) checked against
    * a from-scratch gaps-and-islands SQL derivation in the oracle: the
    * two engines compute sessions by entirely different mechanisms
    * and must land on identical intervals. The streaming twin (same
    * grouping under a watermark) is [[graft.streaming.EventAnalytics
    * .sessionStats]], proven stream==batch in EventAnalyticsSpec.
    */
  def q34SessionWindows(s: SparkSession, d: String): DataFrame =
    sessionWindowsOf(Tables.events(s, d))

  /** [[q34SessionWindows]] over an explicit events frame (spec entry). */
  private[graft] def sessionWindowsOf(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  private val CompactTargetBytes = 16384L

  /** Small-file compaction planner — the layout pass a 100 TB lake
    * runs continuously: pack each source's documents (in stable
    * doc_id order) into output files of ~[[CompactTargetBytes]],
    * reporting one row per planned file (doc count, bytes, id span).
    * The assignment rule is first-fit in order: a doc starts a new
    * file when the running byte total before it has crossed the
    * target — deterministic on any engine/partitioning because it is
    * pure arithmetic on an exclusive prefix sum.
    *
    * Scale shape: the per-source running sum is
    * [[ScaleOps.prefixSumBy]] — range-bucketed partial sums crossed
    * with the source key plus one broadcast carry row per occupied
    * (source, bucket) — NOT `sum OVER (PARTITION BY source)`, whose
    * single reducer per source is exactly the skew this pass exists
    * to fix (a hot source IS the source with too many files). The
    * file rollup is a partial-aggregated groupBy.
    */
  def opsCompaction(s: SparkSession, d: String): DataFrame =
    compactionOf(Tables.documents(s, d))

  /** [[opsCompaction]] over an explicit documents frame (spec entry). */
  private[graft] def compactionOf(docs: DataFrame): DataFrame =
    ScaleOps.prefixSumBy(
        docs.select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", "cum")
      .withColumn("file_seq",
        expr(s"(cum - n_chars) div $CompactTargetBytes"))
      .groupBy(col("source"), col("file_seq"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("file_seq"))

  /** Incremental aggregate maintenance — the pattern that lets a
    * 100 TB warehouse ingest daily batches WITHOUT rescanning history:
    * hourly sufficient statistics (count, milli-integerized sum) are
    * computed per ingest batch, then MERGED by re-aggregation; the
    * oracle computes the same stats over the full table in one pass,
    * so the gate proves merge(partials) == full recompute bit for bit.
    * Here the "batches" are the even/odd event_id halves; in
    * production they are yesterday's saved partials and today's new
    * partition (the BloomDedup / CCNet-model persistent-state
    * precedent, applied to aggregate state). Works because every
    * statistic is an order-free BIGINT sum — the same property the
    * determinism contract already demands.
    */
  def evtHourlyInc(s: SparkSession, d: String): DataFrame =
    evtHourlyIncOf(Tables.events(s, d))

  /** [[evtHourlyInc]] over an explicit events frame (spec entry). */
  private[graft] def evtHourlyIncOf(events: DataFrame): DataFrame = {
    def partials(parity: Int) = events
      .filter(col("event_id") % 2 === parity)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v_milli"))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_milli")).as("sum_milli"))
    partials(0).unionByName(partials(1))
      .groupBy(col("event_type"), col("hour_id"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_milli")).as("sum_milli"))
      .orderBy(col("event_type"), col("hour_id"))
  }

  /** Join-cardinality predictor — the planning measurement that
    * decides whether a join is safe to run BEFORE running it: exact
    * output cardinality Σ ca·cb from the two sides' per-key
    * histograms, the uniform-ratio skew factor
    * max_contrib · n_keys / total, and the top contributing keys
    * (the ones to salt). Companion to ops_key_skew, which profiles
    * ONE side; this one predicts the product.
    *
    * Scale shape: each histogram is a partial-aggregated groupBy that
    * shrinks the fact stream to key cardinality before the wire; the
    * histogram join moves only distinct keys. Cost is two narrow
    * scans — far cheaper than the join it audits whenever key
    * cardinality ≪ row count (the case where the audit matters).
    */
  def opsJoinCard(s: SparkSession, d: String): DataFrame =
    joinCardOf(Tables.lineitem(s, d).select(col("l_orderkey").as("k")),
      Tables.orders(s, d).select(col("o_orderkey").as("k")),
      "lineitem_x_orders")

  /** METADATA-ONLY aggregation — global COUNT/MIN/MAX answered from
    * parquet row-group footers without touching a single data page:
    * the scan-free path for the table-stats pass every 100 TB job
    * runs first (row counts for mixture planning, key ranges for
    * partition pruning and shard layout). The DataFrame is the plain
    * declarative aggregate; the DSv2 parquet reader rewrites it to a
    * footer read (`PushedAggregation: [COUNT(*), MIN(...), ...]` in
    * the scan — asserted by AggPushdownSpec, which also proves the
    * footer path equals the data-page scan bit for bit). Runs in its
    * own child session because aggregate pushdown needs the v2
    * reader (`useV1SourceList=""`) and flipping that for EVERY scan
    * would change unrelated read paths; on a deployment that keeps
    * v1 sources the same code silently degrades to a normal scan
    * with identical results. At 100 TB the cost is #row-groups
    * footer reads — I/O proportional to file COUNT, not byte size.
    */
  /** Order-free per-source corpus content fingerprint — the
    * reproducibility manifest a 100 TB pipeline records with every
    * run: if two runs (or two clusters, or a rewrite/compaction)
    * disagree on counts or any hash lane, the data differs — with no
    * row-by-row compare and no ordering requirement. (Matching lanes
    * mean identical data only up to hash collision: XOR alone would
    * additionally cancel any EVEN-multiplicity difference — two extra
    * copies of one duplicated row plus two of another leave every
    * bit_xor lane unchanged, and duplicate-heavy corpora are exactly
    * what a dedup pipeline holds — so a wrapping-SUM lane pair rides
    * along: a sum shifts by 2·(a+b) where the XOR cancels.) Each
    * row's FULL content (every documents column, ``-joined)
    * hashes to 64 engine-portable bits (both md5 halves, kept as two
    * 32-bit lanes — a 64-bit assembly would need a sign-bit shift
    * DuckDB rejects as overflow, the SimHash-oracle lesson). The
    * per-source aggregates are `bit_xor` (overflow-free at any
    * scale) plus a `sum` of each lane reduced mod 2²⁰ — all
    * commutative/associative, so the result is identical under any
    * partitioning, task order or retry history; the mod-2²⁰
    * reduction keeps the sum < 2⁶³ up to ~10¹² rows per source
    * (Spark sums in BIGINT and must not wrap where DuckDB's HUGEINT
    * doesn't). Map-side partials; |sources| rows out.
    */
  def corpusHash(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CrossEngine.{portableHash, portableHashLo}
    val payload = concat_ws("", col("doc_id").cast("string"),
      col("text"), col("lang"), col("source"), col("n_chars").cast("string"))
    Tables.documents(s, d)
      .select(col("source"), portableHash(payload).as("hi"),
        portableHashLo(payload).as("lo"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(hi)").as("content_hash_hi"),
        expr("bit_xor(lo)").as("content_hash_lo"),
        expr("sum(hi % 1048576)").as("content_sum_hi"),
        expr("sum(lo % 1048576)").as("content_sum_lo"))
      .orderBy(col("source"))
  }

  /** MERGE/UPSERT sink semantics as one declarative plan — the
    * Delta/Iceberg-style `MERGE INTO` an incremental corpus
    * maintenance pipeline runs per ingest batch (the round-12
    * verdict's named nice-to-have), expressed Spark-first: target
    * FULL OUTER JOIN change-batch on the merge key, action decided
    * per row. Branch semantics (the standard upsert contract):
    *
    *  - no change row            → `keep` (not matched by source)
    *  - op = update, matched     → `update` (balance += delta)
    *  - op = delete, matched     → row dropped from the output
    *  - op = insert, unmatched   → `insert` (new key, balance = delta)
    *  - op = insert, MATCHED     → `update` — insert-or-update, so a
    *    key collision (e.g. a clone-replicated rung landing a
    *    synthetic insert key on a real customer) degrades to upsert
    *    instead of corrupting or duplicating the key
    *
    * The change batch itself is netted per key BEFORE the join
    * (groupBy key: delete-wins, deltas summed): at a clone rung the
    * insert slice's synthetic key (custkey + offset) can equal the
    * next clone copy's real custkey, which carries its own
    * update/delete change row — without the pre-aggregation the
    * full-outer join would emit that key twice. One net change row
    * per key makes the "never a duplicate merge key" contract hold
    * at every corpus, not just gate SFs (MergeUpsertSpec pins it
    * with an explicit colliding frame).
    *
    * The change batch derives deterministically from `orders` (one
    * map-side-partial groupBy): per customer the exact milli-balance
    * delta (`sum(floor(o_totalprice·1000 + 0.5))` — order-free
    * BIGINT, the integerize-before-aggregate discipline), op from
    * the key residue (1-in-10 delete, others update) plus a 1-in-7
    * synthetic-key insert slice.
    *
    * 100 TB shape: ONE shuffle equi-join on the merge key (AQE
    * broadcasts a small enough batch); the batch aggregate is
    * map-side partial; no window, no driver loop. Output is the
    * post-merge table state with its `action` audit column — exactly
    * what a MERGE sink would commit plus the row-level lineage a
    * pipeline logs.
    */
  def opsMergeUpsert(s: SparkSession, d: String): DataFrame =
    mergeUpsertOf(mergeTargetOf(s, d), mergeChangesOf(s, d))

  /** The merge target `(key, bal_milli)` — customer milli-balances. */
  private[graft] def mergeTargetOf(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("key"),
      floor(col("c_acctbal") * 1000 + lit(0.5)).cast("long").as("bal_milli"))

  /** The deterministic change batch `(key, op, delta_milli)` derived
    * from orders — shared with the streaming twin's spec so both
    * paths merge the identical change log.
    */
  private[graft] def mergeChangesOf(s: SparkSession, d: String): DataFrame = {
    val deltas = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 1000 + lit(0.5)).cast("long"))
        .as("delta_milli"))
    deltas.select(col("o_custkey").as("key"),
        when(col("o_custkey") % 10 === 0, lit("delete"))
          .otherwise(lit("update")).as("op"),
        col("delta_milli"))
      .unionByName(deltas.filter(col("o_custkey") % 7 === 0)
        .select((col("o_custkey") + lit(MergeInsertOffset)).as("key"),
          lit("insert").as("op"), col("delta_milli")))
  }

  /** [[opsMergeUpsert]] core over explicit (key, bal_milli) target
    * and (key, op, delta_milli) change frames (spec entry). Nets the
    * change batch per key first — delete-wins, deltas summed — so a
    * key can never reach the full-outer join twice (map-side-partial
    * aggregate, one extra narrow shuffle on |changes|, which is
    * orders-of-magnitude below |target| in an ingest batch).
    */
  private[graft] def mergeUpsertOf(target: DataFrame,
                                   changes: DataFrame): DataFrame =
    target.join(netChanges(changes), Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col("key"),
        when(col("op").isNull, lit("keep"))
          .when(col("bal_milli").isNull, lit("insert"))
          .otherwise(lit("update")).as("action"),
        (coalesce(col("bal_milli"), lit(0L))
          + coalesce(col("delta_milli"), lit(0L))).as("bal_milli"))
      .orderBy(col("key"))

  /** Net a (key, op, delta_milli) change batch to ONE row per key:
    * delete-wins over any colliding insert/update, deltas summed.
    * Shared by the batch merge and its streaming twin
    * ([[graft.streaming.StreamingMerge]]) so both apply identical
    * collision policy.
    */
  private[graft] def netChanges(changes: DataFrame): DataFrame =
    changes.groupBy(col("key"))
      .agg(max(when(col("op") === "delete", 1).otherwise(0)).as("has_del"),
        sum(col("delta_milli")).as("delta_milli"))
      .select(col("key"),
        when(col("has_del") === 1, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("delta_milli"))

  /** Insert-slice key offset for [[opsMergeUpsert]] — far above the
    * base custkey range (so gate-SF inserts are true inserts) but
    * EQUAL to the ScaleBench clone offset, deliberately: the 100×
    * rung exercises the matched-insert upsert branch for real.
    */
  private val MergeInsertOffset = 100000000L

  def opsAggPushdown(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // schema pinned through the shared Tables cache: an inferred
    // schema would re-run a footer job on EVERY build (each call is
    // a fresh child session — the lazy-build contract bans that)
    s2.read.schema(Tables.lineitem(s, d).schema)
      .parquet(s"$d/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_okey"),
        max(col("l_orderkey")).as("max_okey"),
        min(col("l_partkey")).as("min_pkey"),
        max(col("l_partkey")).as("max_pkey"),
        min(col("l_suppkey")).as("min_skey"),
        max(col("l_suppkey")).as("max_skey"))
  }

  /** [[opsJoinCard]] over explicit single-column key frames. */
  private[graft] def joinCardOf(left: DataFrame, right: DataFrame,
                                joinName: String): DataFrame = {
    val a = left.groupBy(col("k")).agg(count(lit(1)).as("ca"))
    val b = right.groupBy(col("k")).agg(count(lit(1)).as("cb"))
    val m = a.join(b, "k").withColumn("contrib", col("ca") * col("cb"))
    val tot = m.agg(sum(col("contrib")).as("join_rows"),
      count(lit(1)).as("n_matching_keys"),
      max(col("contrib")).as("max_key_contrib"))
    m.crossJoin(broadcast(tot))
      .select(lit(joinName).as("join_name"), col("k"), col("ca"), col("cb"),
        col("contrib"), col("join_rows"), col("n_matching_keys"),
        pround(col("max_key_contrib").cast("double") *
          col("n_matching_keys") / col("join_rows"), 4).as("skew_factor"))
      .orderBy(col("contrib").desc, col("k"))
      .limit(10)
  }

  /** Mergeable distinct-count sketches across ingest batches — the
    * [[evtHourlyInc]] pattern for the one statistic plain sums cannot
    * maintain incrementally: distinct users. Each batch (the even/odd
    * event_id halves) builds a Datasketches HLL per event type;
    * yesterday's sketch UNIONS with today's (`hll_union_agg`) instead
    * of re-scanning history or storing raw ids.
    *
    * The gate stays oracle-exact by construction: the output carries
    * the EXACT distinct count plus an in-plan `raise_error` guard
    * that aborts if the merged-sketch estimate strays more than 5%
    * from it (the stats_approx rank-count-verification precedent) —
    * the sketch is exercised and policed, while every emitted value
    * is engine-portable.
    */
  def statsHllInc(s: SparkSession, d: String): DataFrame =
    statsHllIncOf(Tables.events(s, d))

  /** [[statsHllInc]] over an explicit events frame (spec entry). */
  private[graft] def statsHllIncOf(events: DataFrame): DataFrame = {
    def sketch(parity: Int) = events
      .filter(col("event_id") % 2 === parity)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = sketch(0).unionByName(sketch(1))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val guard = when(
      abs(col("est") - col("n_exact")).cast("double") / col("n_exact")
        <= 0.05, lit(true))
      .otherwise(raise_error(concat(
        lit("statsHllInc: merged HLL estimate strayed >5% from exact: "),
        col("est").cast("string"), lit(" vs "),
        col("n_exact").cast("string"))))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        guard.as("within_5pct"))
      .orderBy(col("event_type"))
  }

  /** Winsorized robust statistics — the outlier-resistant mean a
    * metrics pipeline reports when raw averages are hostage to a few
    * extreme values: clip each event's value to its type's
    * [P05, P95] band, then average the clipped values.
    *
    * Determinism: thresholds come from [[ScaleOps.sortedPercentiles]]
    * (the spill-safe rank-window path — never the banned
    * distribution-buffering `percentile()`), pround(6)-stabilized on
    * BOTH engines before any comparison (the ccnet tercile
    * discipline, so an ulp of interpolation difference cannot flip a
    * clip decision); the winsorized mean is an order-free BIGINT
    * milli-sum divided out at the end.
    *
    * Shape: one percentile pass + one map-side clip/aggregate pass
    * with the 5-row threshold table broadcast — two scans, no
    * distribution ever buffered.
    */
  def evtWinsorize(s: SparkSession, d: String): DataFrame =
    winsorizeOf(Tables.events(s, d))

  /** [[evtWinsorize]] over an explicit events frame (spec entry). */
  private[graft] def winsorizeOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val th = ScaleOps.sortedPercentiles(ev, "event_type", "value",
        Seq(0.05 -> "lo", 0.95 -> "hi"))
      .select(col("event_type"),
        pround(col("lo"), 6).as("lo"), pround(col("hi"), 6).as("hi"))
    ev.join(broadcast(th), "event_type")
      .select(col("event_type"), col("lo"), col("hi"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("vw"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(expr("CAST(floor(vw * 1000 + 0.5) AS BIGINT)")).as("wm"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        pround(col("wm").cast("double") / 1000.0 / col("n"), 4)
          .as("win_mean"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_winsorize"     -> evtWinsorize _,
    "stats_hll_inc"     -> statsHllInc _,
    "ops_join_card"     -> opsJoinCard _,
    "ops_agg_pushdown"  -> opsAggPushdown _,
    "ops_corpus_hash"   -> corpusHash _,
    "ops_merge_upsert"  -> opsMergeUpsert _,
    "evt_hourly_inc"    -> evtHourlyInc _,
    "ops_compaction"    -> opsCompaction _,
    "evt_scd2"          -> evtScd2 _,
    "q34_session_windows" -> q34SessionWindows _,
    "evt_anomaly"       -> evtAnomaly _,
    "q33_retention"     -> q33Retention _,
    "q32_funnel"        -> q32Funnel _,
    "q30_histogram"     -> q30Histogram _,
    "q31_corr"          -> q31Corr _,
    "q29_deciles"       -> q29Deciles _,
    "q27_range_join"    -> q27RangeJoin _,
    "q27_range_join_bucketed" -> q27RangeJoinBucketed _,
    "q28_resample"      -> q28Resample _,
    "q26_parts_supply"  -> q26PartsSupply _,
    "q24_grouping_sets" -> q24GroupingSets _,
    "q25_sql_surface"   -> q25SqlSurface _,
    "q21_arrays"        -> q21Arrays _,
    "q22_pivot"         -> q22Pivot _,
    "q23_calendar"      -> q23Calendar _,
    "q20_asof_join"     -> q20AsofJoin _,
    "q15_json_extract"  -> q15JsonExtract _,
    "q16_supplier_variety" -> q16SupplierVariety _,
    "q17_cube"          -> q17Cube _,
    "q18_big_spenders"  -> q18BigSpenders _,
    "q19_percentiles"   -> q19Percentiles _,
    "stats_approx"      -> statsApprox _,
    "q1_pricing_summary"   -> q1PricingSummary _,
    "q2_revenue_by_nation" -> q2RevenueByNation _,
    "q3_top_orders"        -> q3TopOrders _,
    "q4_priority_semi"     -> q4PrioritySemi _,
    "q5_customers_no_orders" -> q5CustomersNoOrders _,
    "q6_revenue_forecast"  -> q6RevenueForecast _,
    "q7_top_orders_per_customer" -> q7TopOrdersPerCustomer _,
    "q8_running_total"     -> q8RunningTotal _,
    "q9_rollup_acctbal"    -> q9RollupAcctbal _,
    "q10_set_ops"          -> q10SetOps _,
    "ops_key_skew"         -> opsKeySkew _,
    "ops_zorder"           -> opsZorder _,
    "q11_events_hourly"    -> q11EventsHourly _,
    "q12_user_sessions"    -> q12UserSessions _,
    "q13_distinct_users"   -> q13DistinctUsers _,
    "q14_monthly_revenue"  -> q14MonthlyRevenue _,
    "repl_gaps"            -> replGaps _,
  )

  val oracles: Map[String, String] = Map(
    "evt_winsorize" ->
      """WITH th AS (SELECT event_type,
        |    pround(quantile_cont(value, 0.05), 6) AS lo,
        |    pround(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1),
        |c AS (SELECT e.event_type, e.value, th.lo, th.hi,
        |    least(greatest(e.value, th.lo), th.hi) AS vw
        |  FROM events e JOIN th USING (event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  pround(CAST(sum(CAST(floor(vw * 1000 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 1000.0 / count(*), 4) AS win_mean
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    // within_5pct is verified IN-PLAN on the Spark side (raise_error
    // on violation), so the oracle emits the constant the guard proves
    "stats_hll_inc" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  true AS within_5pct
        |FROM events GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    "ops_join_card" ->
      """WITH a AS (SELECT l_orderkey AS k, count(*) AS ca
        |           FROM lineitem GROUP BY 1),
        |b AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
        |m AS (SELECT a.k, a.ca, b.cb, a.ca * b.cb AS contrib
        |      FROM a JOIN b ON a.k = b.k),
        |tot AS (SELECT CAST(sum(contrib) AS BIGINT) AS join_rows,
        |               count(*) AS n_matching_keys,
        |               CAST(max(contrib) AS BIGINT) AS max_key_contrib
        |        FROM m)
        |SELECT 'lineitem_x_orders' AS join_name, m.k, m.ca, m.cb, m.contrib,
        |  t.join_rows, t.n_matching_keys,
        |  pround(CAST(t.max_key_contrib AS DOUBLE) * t.n_matching_keys
        |    / t.join_rows, 4) AS skew_factor
        |FROM m CROSS JOIN tot t
        |ORDER BY m.contrib DESC, m.k LIMIT 10""".stripMargin,
    // the oracle is the FULL single-pass aggregation — equality with
    // the Spark side's merge-of-batch-partials proves mergeability
    "evt_hourly_inc" ->
      """SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_milli
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, hour_id""".stripMargin,
    "ops_corpus_hash" -> {
      import graft.functions.CrossEngine.{portableHashSql, portableHashLoSql}
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(bit_xor(${portableHashSql("p")}) AS BIGINT) AS content_hash_hi,
         |  CAST(bit_xor(${portableHashLoSql("p")}) AS BIGINT) AS content_hash_lo,
         |  CAST(sum(${portableHashSql("p")} % 1048576) AS BIGINT) AS content_sum_hi,
         |  CAST(sum(${portableHashLoSql("p")} % 1048576) AS BIGINT) AS content_sum_lo
         |FROM (SELECT source,
         |        concat_ws(chr(1), CAST(doc_id AS VARCHAR), text, lang,
         |          source, CAST(n_chars AS VARCHAR)) AS p
         |      FROM documents) t
         |GROUP BY source
         |ORDER BY source""".stripMargin
    },
    "ops_merge_upsert" ->
      s"""WITH t AS (SELECT c_custkey AS key,
         |             CAST(floor(c_acctbal * 1000 + 0.5) AS BIGINT) AS bal_milli
         |           FROM customer),
         |deltas AS (SELECT o_custkey,
         |             CAST(sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT))
         |               AS BIGINT) AS delta_milli
         |           FROM orders GROUP BY o_custkey),
         |changes AS (
         |  SELECT o_custkey AS key,
         |    CASE WHEN o_custkey % 10 = 0 THEN 'delete' ELSE 'update' END AS op,
         |    delta_milli
         |  FROM deltas
         |  UNION ALL
         |  SELECT o_custkey + 100000000 AS key, 'insert' AS op, delta_milli
         |  FROM deltas WHERE o_custkey % 7 = 0),
         |netted AS (
         |  SELECT key,
         |    CASE WHEN max(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) = 1
         |         THEN 'delete' ELSE 'upsert' END AS op,
         |    CAST(sum(delta_milli) AS BIGINT) AS delta_milli
         |  FROM changes GROUP BY key)
         |SELECT coalesce(t.key, c.key) AS key,
         |  CASE WHEN c.op IS NULL THEN 'keep'
         |       WHEN t.bal_milli IS NULL THEN 'insert'
         |       ELSE 'update' END AS action,
         |  CAST(coalesce(t.bal_milli, 0) + coalesce(c.delta_milli, 0) AS BIGINT)
         |    AS bal_milli
         |FROM t FULL OUTER JOIN netted c ON t.key = c.key
         |WHERE c.op IS NULL OR c.op <> 'delete'
         |ORDER BY key""".stripMargin,
    "ops_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
        |  min(l_partkey) AS min_pkey, max(l_partkey) AS max_pkey,
        |  min(l_suppkey) AS min_skey, max(l_suppkey) AS max_skey
        |FROM lineitem""".stripMargin,
    "ops_compaction" ->
      s"""WITH cum AS (
         |  SELECT source, doc_id, n_chars,
         |    sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents),
         |assigned AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST((cum - n_chars) // $CompactTargetBytes AS BIGINT) AS file_seq
         |  FROM cum)
         |SELECT source, file_seq, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS bytes,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM assigned GROUP BY 1, 2
         |ORDER BY source, file_seq""".stripMargin,
    "evt_scd2" ->
      """WITH seq AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_seq
        |  FROM seq)
        |SELECT user_id, run_seq, event_type, count(*) AS n_events,
        |  min(ts) AS from_ts, max(ts) AS to_ts
        |FROM runs GROUP BY 1, 2, 3
        |ORDER BY user_id, run_seq""".stripMargin,
    "q34_session_windows" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |runs AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM seq)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
        |FROM runs GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "evt_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, hour_id, cnt,
        |    count(*) OVER w AS n_frame,
        |    sum(cnt) OVER w AS sm,
        |    sum(cnt * cnt) OVER w AS s2
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_id
        |               RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_id, cnt, n_frame,
        |  pround(CAST(sm AS DOUBLE) / n_frame, 4) AS mean,
        |  pround((cnt - CAST(sm AS DOUBLE) / n_frame) /
        |    sqrt((s2 - CAST(sm AS DOUBLE) * sm / n_frame) / (n_frame - 1)), 4) AS z,
        |  abs((cnt - CAST(sm AS DOUBLE) / n_frame) /
        |    sqrt((s2 - CAST(sm AS DOUBLE) * sm / n_frame) / (n_frame - 1))) > 2.0
        |    AS is_anomaly
        |FROM win
        |WHERE n_frame >= 12 AND s2 * n_frame > sm * sm
        |ORDER BY event_type, hour_id""".stripMargin,
    "q30_histogram" ->
      """SELECT event_type,
        |  CAST(floor(value / 50.0) + 1 AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  pround(min(value), 2) AS lo, pround(max(value), 2) AS hi
        |FROM events
        |WHERE value >= 0 AND value < 1000
        |GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,
    "q33_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |fs AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
        |ac AS (SELECT DISTINCT user_id, wk FROM ev)
        |SELECT CAST(f.cohort AS DATE) AS cohort_week,
        |  CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(a.wk AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM ac a JOIN fs f ON f.user_id = a.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q32_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2
        |      FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |      GROUP BY e.user_id),
        |n AS (SELECT (SELECT count(*) FROM v) AS n1,
        |             (SELECT count(*) FROM c) AS n2,
        |             (SELECT count(*) FROM p) AS n3)
        |SELECT '1_view' AS step, n1 AS n_users, CAST(1000 AS BIGINT) AS conv_x1000 FROM n
        |UNION ALL
        |SELECT '2_click', n2,
        |  CAST(floor(CAST(n2 AS DOUBLE) / greatest(n1, 1) * 1000 + 0.5) AS BIGINT) FROM n
        |UNION ALL
        |SELECT '3_purchase', n3,
        |  CAST(floor(CAST(n3 AS DOUBLE) / greatest(n2, 1) * 1000 + 0.5) AS BIGINT) FROM n
        |ORDER BY step""".stripMargin,
    "q31_corr" ->
      """SELECT l_returnflag, n,
        |  pround(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
        |    6) AS corr_qty_price
        |FROM (SELECT l_returnflag, count(*) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM (SELECT l_returnflag,
        |              CAST(floor(l_quantity * 1000 + 0.5) AS BIGINT) AS x,
        |              CAST(floor(l_extendedprice * 10 + 0.5) AS BIGINT) AS y
        |            FROM lineitem) t
        |      GROUP BY l_returnflag) s
        |ORDER BY l_returnflag""".stripMargin,
    "q29_deciles" ->
      """SELECT c_nationkey, decile, count(*) AS n_customers,
        |  pround(avg(c_acctbal), 2) AS avg_acctbal
        |FROM (SELECT c_nationkey, c_acctbal,
        |        ntile(10) OVER (PARTITION BY c_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey) AS decile
        |      FROM customer) t
        |GROUP BY c_nationkey, decile
        |ORDER BY c_nationkey, decile""".stripMargin,
    // shared VERBATIM by the bucketed twin: the bucketed plan is
    // output-identical by construction, so the gate proves it
    "q27_range_join" -> RangeJoinOracleSql,
    "q27_range_join_bucketed" -> RangeJoinOracleSql,
    "q28_resample" ->
      """WITH e AS (SELECT * FROM events WHERE user_id < 10),
        |span AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |                date_trunc('hour', max(ts)) AS h1
        |         FROM e GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |         FROM span),
        |hourly AS (SELECT user_id, date_trunc('hour', ts) AS hour,
        |             sum(CAST(floor(value * 1000 + 0.5) AS BIGINT))
        |               / (count(*) * 1000.0) AS v
        |           FROM e GROUP BY 1, 2),
        |filled AS (SELECT g.user_id, g.hour, h.v, h.v IS NOT NULL AS observed,
        |             last_value(h.v IGNORE NULLS) OVER (
        |               PARTITION BY g.user_id ORDER BY g.hour
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
        |           FROM grid g
        |           LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour)
        |SELECT user_id, hour, pround(vf, 2) AS value, observed
        |FROM filled
        |WHERE vf IS NOT NULL
        |ORDER BY user_id, hour""".stripMargin,
    "q26_parts_supply" ->
      """SELECT p_brand, n_name, count(*) AS n_items,
        |  pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  pround(avg(p_retailprice), 2) AS avg_retail
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY p_brand, n_name
        |ORDER BY p_brand, n_name""".stripMargin,
    "q24_grouping_sets" ->
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  count(*) AS n_customers,
        |  pround(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        |ORDER BY nation, segment""".stripMargin,
    "q25_sql_surface" ->
      """WITH cust_rev AS (
        |  SELECT o_custkey, sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)) AS rev_milli
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, rnk, c_custkey,
        |  floor(CAST(rev_milli AS DOUBLE) / 10.0 + 0.5) / 100 AS revenue
        |FROM (SELECT n_name, c_custkey, rev_milli,
        |        row_number() OVER (PARTITION BY n_name
        |          ORDER BY rev_milli DESC, c_custkey) AS rnk
        |      FROM cust_rev
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rnk <= 3
        |ORDER BY n_name, rnk""".stripMargin,
    "q21_arrays" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  count(*) AS n_events
        |FROM events
        |WHERE user_id < 10
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q22_pivot" ->
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events
        |GROUP BY 1
        |ORDER BY month""".stripMargin,
    "q23_calendar" ->
      """SELECT CAST(date_part('isodow', ts) AS INT) AS isodow,
        |  CAST(date_part('hour', ts) AS INT) AS hh,
        |  count(*) AS n_events, pround(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY isodow, hh""".stripMargin,
    "q20_asof_join" ->
      """SELECT event_id AS purchase_id, user_id, asof_click_id
        |FROM (SELECT event_id, user_id, event_type,
        |        last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_id
        |      FROM events) t
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "q15_json_extract" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  pround(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_cube" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  count(*) AS n_customers,
        |  pround(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, c_mktsegment)
        |ORDER BY region, segment""".stripMargin,
    "q18_big_spenders" ->
      """WITH spend AS (SELECT o_custkey,
        |    sum(CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT)) AS spend_milli
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_custkey, n_name,
        |  pround(spend_milli / 1000.0, 2) AS spend,
        |  pround(nation_avg_milli / 1000.0, 2) AS nation_avg
        |FROM (SELECT c_custkey, n_name, spend_milli,
        |        avg(spend_milli) OVER (PARTITION BY n_name) AS nation_avg_milli
        |      FROM customer
        |      JOIN spend ON c_custkey = o_custkey
        |      JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE spend_milli > nation_avg_milli * 2
        |ORDER BY c_custkey""".stripMargin,
    "stats_approx" ->
      """WITH ag AS (SELECT event_type, count(DISTINCT user_id) AS n_users,
        |    approx_count_distinct(user_id) AS au,
        |    approx_quantile(value, 0.5) AS ap50, count(*) AS n
        |  FROM events GROUP BY event_type),
        |bl AS (SELECT e.event_type,
        |    sum(CASE WHEN e.value <= ag.ap50 THEN 1 ELSE 0 END) AS n_below
        |  FROM events e JOIN ag ON ag.event_type = e.event_type
        |  GROUP BY e.event_type)
        |SELECT ag.event_type, ag.n_users,
        |  abs(CAST(ag.au AS DOUBLE) - ag.n_users) <= ag.n_users * 0.1 + 2.0 AS hll_ok,
        |  n_below / ag.n BETWEEN 0.45 AND 0.55 AS p50_ok
        |FROM ag JOIN bl ON bl.event_type = ag.event_type
        |ORDER BY ag.event_type""".stripMargin,
    "q19_percentiles" ->
      """SELECT event_type,
        |  pround(quantile_cont(value, 0.5), 2) AS p50,
        |  pround(quantile_cont(value, 0.9), 2) AS p90,
        |  pround(quantile_cont(value, 0.99), 2) AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  pround(sum(l_quantity), 2) AS sum_qty,
        |  pround(sum(l_extendedprice), 2) AS sum_base_price,
        |  pround(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  pround(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  pround(avg(l_quantity), 2) AS avg_qty,
        |  pround(avg(l_extendedprice), 2) AS avg_price,
        |  pround(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate, revenue
        |FROM (SELECT l_orderkey,
        |        pround(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |      FROM lineitem GROUP BY l_orderkey) rev
        |JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q4_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q5_customers_no_orders" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q6_revenue_forecast" ->
      """SELECT pround(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin,
    "q7_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, pround(o_totalprice, 2) AS price, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q8_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  pround(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q9_rollup_acctbal" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  count(*) AS n_customers,
        |  pround(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q10_set_ops" ->
      """WITH auto AS (SELECT c_custkey AS custkey FROM customer
        |              WHERE c_mktsegment = 'AUTOMOBILE'),
        |  buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders
        |             WHERE o_totalprice > 100000)
        |SELECT 'auto_buyer' AS tag, custkey
        |FROM (SELECT custkey FROM auto INTERSECT SELECT custkey FROM buyers) t1
        |UNION ALL
        |SELECT 'auto_only' AS tag, custkey
        |FROM (SELECT custkey FROM auto EXCEPT SELECT custkey FROM buyers) t2
        |ORDER BY tag, custkey""".stripMargin,
    "ops_key_skew" ->
      """WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_keys, max(cnt) AS max_cnt,
        |  pround(avg(cnt), 4) AS avg_cnt,
        |  pround(quantile_cont(cnt, 0.5), 4) AS p50,
        |  pround(quantile_cont(cnt, 0.9), 4) AS p90,
        |  pround(quantile_cont(cnt, 0.99), 4) AS p99,
        |  pround(max(cnt) / avg(cnt), 4) AS skew_factor,
        |  CAST(ceil(max(cnt) / quantile_cont(cnt, 0.9)) AS BIGINT) AS suggested_salts
        |FROM c""".stripMargin,
    "ops_zorder" -> {
      val qx = "CAST(floor(CAST(user_id - u_min AS DOUBLE) * 65536 / (u_max - u_min + 1)) AS BIGINT)"
      val qy = "CAST(floor(CAST(hr - h_min AS DOUBLE) * 65536 / (h_max - h_min + 1)) AS BIGINT)"
      s"""WITH base AS (SELECT user_id,
         |        CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS hr
         |      FROM events),
         |b AS (SELECT min(user_id) AS u_min, max(user_id) AS u_max,
         |             min(hr) AS h_min, max(hr) AS h_max FROM base),
         |q AS (SELECT $qx AS qx, $qy AS qy FROM base CROSS JOIN b),
         |t AS (SELECT (${ScaleOps.zValueSql("qx", "qy")} >> 24) AS tile, qx, qy
         |      FROM q)
         |SELECT tile, count(*) AS n_events,
         |  min(qx) AS x_min, max(qx) AS x_max, max(qx) - min(qx) + 1 AS x_span,
         |  min(qy) AS y_min, max(qy) AS y_max, max(qy) - min(qy) + 1 AS y_span
         |FROM t GROUP BY tile
         |ORDER BY tile""".stripMargin
    },
    "q11_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n_events, pround(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "q12_user_sessions" ->
      """SELECT user_id, count(*) AS n_events, CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM (SELECT user_id,
        |        CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS new_session
        |      FROM (SELECT user_id,
        |              epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) AS gap_us
        |            FROM events) g) t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q13_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q14_monthly_revenue" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  count(*) AS n_orders, pround(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,
    "repl_gaps" ->
      """SELECT prev + 1 AS gap_start, id - 1 AS gap_end
        |FROM (SELECT id, lag(id, 1) OVER (ORDER BY id) AS prev
        |      FROM (SELECT DISTINCT event_id AS id FROM events
        |            WHERE event_type <> 'error') o) t
        |WHERE prev IS NOT NULL AND id - prev > 1
        |ORDER BY gap_start""".stripMargin,
  )
}
