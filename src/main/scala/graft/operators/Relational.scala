package graft.operators

import graft.Ckpt._
import graft.{Det, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.2–§2.6): projection/filter, joins,
  * aggregation, windows, sort/limit/set-ops — all declarative DataFrame
  * plans so Catalyst handles pushdown, pruning, join selection and AQE.
  *
  * Determinism rules for every declared query (the driver hash-compares
  * against a DuckDB oracle): full-tie-break ORDER BY, exact DECIMAL sums
  * for money aggregates ([[graft.Det.dsum]]), timestamps compared at
  * microsecond precision as BIGINT epochs.
  */
object Relational {

  /** Broadcast hint gated on the optimizer's size estimate: the hint is
    * applied only while the side's estimated bytes fit under the session
    * broadcast threshold, so the same query code cannot force an
    * over-threshold build at a larger scale factor — past the gate the
    * planner/AQE picks the join from its own stats. (An O(sf) dimension
    * side that is broadcast-right at bench scale is exactly the case a
    * hard-coded hint gets wrong at 100×.)
    */
  def broadcastIfSmall(df: DataFrame): DataFrame = broadcastIfSmall(df, df)

  /** [[broadcastIfSmall]] for join OUTPUTS: the optimizer's estimate for a
    * join is the row-count product (observed: 96 GB for a side whose true
    * size is ~1 MB), so a gate on it would never fire. When FK semantics
    * bound the output by one input — an inner join on a key where each row
    * matches at most one partner cannot expand past that side — the author
    * names that bounding side as `sizeProxy` and the gate reads its
    * estimate instead. The proxy grows with the same O(sf), so the gate
    * still shuts off mechanically at scale.
    */
  def broadcastIfSmall(df: DataFrame, sizeProxy: DataFrame): DataFrame = {
    val est = sizeProxy.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 && est <= BigInt(thr)) broadcast(df) else df
  }

  /** TPC-H Q1-style pricing summary — the flagship query.
    * Scale: single scan + partial/final hash agg on 2 low-cardinality keys;
    * no join, no skew risk; filter + column pruning reach the parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_base_price"),
        Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        Det.davg(col("l_quantity")).as("avg_qty"),
        Det.davg(col("l_extendedprice")).as("avg_price"),
        Det.davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style shipping priority: 3-way join + agg + top-10.
    * Join order is chosen for ONE streaming pass over the fact table: the
    * BUILDING-filtered customer side broadcasts into orders, and that
    * joined intermediate (orders before the cutoff for BUILDING customers
    * — the smallest relation in the query) broadcasts into lineitem.
    * Without the outer hint Catalyst builds the hash relation from the
    * date-filtered LINEITEM instead (its size estimate squeaks under the
    * threshold), which collects and rebroadcasts ~20× more rows.
    * Both hinted sides are O(sf), so the hints ride [[broadcastIfSmall]]:
    * they vanish once the estimate outgrows the session threshold, and
    * the fact join then shuffles on orderkey — the right plan at that
    * size.
    */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cutoff = lit("1995-03-15").cast("timestamp")
    val buildingOrders = broadcastIfSmall(t.customer.filter(col("c_mktsegment") === "BUILDING"))
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // orders bounds the intermediate: an order joins at most one customer
    broadcastIfSmall(buildingOrders, sizeProxy = t.orders)
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(
        col("l_orderkey"),
        col("revenue"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style local-supplier revenue: 6-way star join.
    * region/nation/supplier/customer are dimension-sized → broadcast joins;
    * the fact-fact orders⋈lineitem shuffle is the only exchange. The
    * customer/supplier sides grow O(sf), so every dim hint rides
    * [[broadcastIfSmall]] — past the threshold the hint disappears and
    * AQE picks the join side from runtime stats.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcastIfSmall(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcastIfSmall(t.supplier),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcastIfSmall(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcastIfSmall(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q14-style promo revenue share per ship month: lineitem ⋈ part
    * (broadcast dimension — the one fixture table no other query touches),
    * conditional aggregation, and a promo-permille ratio computed with the
    * same integer-HALF_UP discipline as [[graft.Det.davg]] so the division
    * is bit-identical cross-engine: permille = ⌊(2000·P + T) / (2T)⌋ on
    * exact DECIMAL sums scaled to integers.
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val promo = when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))
    val pSum = sum(promo.cast("decimal(30,6)"))
    val tSum = sum(rev.cast("decimal(30,6)"))
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("y"),
        month(col("l_shipdate")).cast("int").as("m"))
      .agg(
        Det.dsum(promo).as("promo_revenue"),
        Det.dsum(rev).as("total_revenue"),
        call_function("div",
          (pSum * lit(2000L * 1000000L)).cast("decimal(38,0)")
            + (tSum * lit(1000000L)).cast("decimal(38,0)"),
          // zero-revenue group → NULL on both engines (DuckDB's `//` would
          // otherwise raise where Spark's div returns NULL — a cross-engine
          // hard failure, not a hash mismatch); same guard as Det.davg
          nullif((tSum * lit(2000000L)).cast("decimal(38,0)"),
            lit(0).cast("decimal(38,0)")))
          .cast("long").as("promo_permille"),
        count(lit(1)).as("n"))
      .orderBy(col("y"), col("m"))
  }

  /** TPC-H Q7-style volume shipping: the deepest join tree in the declared
    * surface — lineitem ⋈ orders ⋈ customer ⋈ nation(cust) on one arm and
    * ⋈ supplier ⋈ nation(supp) on the other, revenue by (supplier nation,
    * customer nation, ship year) for cross-border flows only.
    *
    * Scale posture: all four dimension sides (supplier, customer, and the
    * two nation copies) ride [[broadcastIfSmall]], so the ONLY exchange is
    * the fact-fact orders⋈lineitem shuffle on orderkey — one streaming
    * pass over lineitem no matter how deep the tree. The cross-border
    * predicate (s_nation ≠ c_nation) is a residual on an already-joined
    * pair of broadcast columns, not a join explosion; the date filter
    * pushes to the orders scan. At 100× the hints vanish past the
    * threshold and AQE re-plans the dims from runtime stats — same code.
    */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val sNation = t.nation.select(col("n_nationkey").as("sn_key"),
      col("n_name").as("supp_nation"))
    val cNation = t.nation.select(col("n_nationkey").as("cn_key"),
      col("n_name").as("cust_nation"))
    t.lineitem
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcastIfSmall(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcastIfSmall(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcastIfSmall(sNation), col("s_nationkey") === col("sn_key"))
      .join(broadcastIfSmall(cNation), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** A11: z-score outlier detection per event_type — the per-group anomaly
    * gate a metrics pipeline runs before alerting/training. A row is an
    * outlier when |x − μ| > 3σ (population σ over its group).
    *
    * Determinism: σ involves a sqrt, so the CONDITION is squared instead —
    * (n·x − S)² > 9·(n·SS − S²) with x, S, SS exact integer micro-unit
    * sums ([[graft.Det.micros]], the pinned recovery) — every quantity is
    * integer-exact on both engines, no transcendental in the plan.
    * Validity envelope of the exact form: (n·v_max)² must fit 38 digits,
    * i.e. n·v_max < 10¹⁹ µ — ample for per-group cardinalities into the
    * billions at metric magnitudes, but NOT unbounded; past it, use
    * [[a11OutliersFast]] (double moments — a 3σ gate needs no
    * bit-exactness; the exact form exists for the oracle contract).
    * Scale posture: one partial-aggregated pass builds the per-group
    * (n, S, SS) frame (grows with #groups, not rows), broadcast back
    * into a second scan — no window over the full table, both scans
    * narrow.
    */
  def a11Outliers(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events.select(col("event_id"), col("event_type"), col("value"),
      graft.Det.micros(col("value")).as("v"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum((col("v").cast("decimal(38,0)") * col("v").cast("decimal(38,0)"))).as("ss"))
    val lhs = (col("n").cast("decimal(38,0)") * col("v").cast("decimal(38,0)")
      - col("s")) * (col("n").cast("decimal(38,0)") * col("v").cast("decimal(38,0)")
      - col("s"))
    val rhs = (col("n").cast("decimal(38,0)") * col("ss") - col("s") * col("s")) * lit(9)
    // stats is #event-types rows (an enum, not O(sf)) — broadcast is the
    // right call at ANY scale; the gate would misread the pre-agg estimate
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(lhs > rhs)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** The unbounded-scale twin of [[a11Outliers]]: double moments, same
    * plan shape (group-count frame broadcast back, no window). Flags can
    * differ from the exact form only for rows within double rounding of
    * the 3σ boundary — RelationalSpec asserts fixture agreement.
    */
  def a11OutliersFast(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events.select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      avg(col("value")).as("mu"), stddev_pop(col("value")).as("sd"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("value") - col("mu")) > lit(3.0) * col("sd"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** P2: predicate surface — IN / BETWEEN / LIKE / IS NULL / boolean mix.
    * All residuals are pushdown-eligible parquet filters.
    */
  def p2FilterPredicates(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .filter(col("o_orderstatus").isin("O", "F"))
      .filter(col("o_totalprice").between(1000.0, 200000.0))
      .filter(col("o_orderpriority").like("%URGENT%") || col("o_orderpriority").startsWith("3"))
      .filter(col("o_custkey").isNotNull)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  /** P3: conditional expressions — CASE WHEN, coalesce, nullif. */
  def p3CaseWhen(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .withColumn("qty_band",
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high"))
      .withColumn("disc_flag", coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)))
      .groupBy(col("qty_band"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("disc_flag") === -1.0, 1).otherwise(0)).as("no_discount"),
        Det.davg(col("l_extendedprice")).as("avg_price"))
      .orderBy(col("qty_band"))
  }

  /** J2: left outer join — customers with their order counts incl. zero. */
  def j2OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_customers_no_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** J3: semi/anti joins — EXISTS / NOT EXISTS without row duplication.
    *
    * One pass: EXISTS and NOT EXISTS over the same key set are two sides
    * of a single left join against the DISTINCT order keys — the r16
    * shape (kept as [[j3SemiAntiTwoJoinForm]], pinned row-for-row by
    * RelationalSpec) scanned orders TWICE (semi + anti subtrees), ran
    * two aggregations and stitched them with a third (full-outer) join.
    * Same n_with/n_without by definition: a customer either matches a
    * distinct key or doesn't, and every segment keeps both counts (zero
    * included) because every customer lands in exactly one bucket.
    * Plan: 2 orders scans → 1, 3 joins → 1, 3 aggregates → 2 (the
    * distinct + the final rollup).
    */
  def j3SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val orderCust = t.orders.select(col("o_custkey")).distinct()
    t.customer
      .join(orderCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_custkey")).as("n_with_orders"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** The r16 two-join form of [[j3SemiAnti]] — kept as the equivalence
    * witness (RelationalSpec pins the two row-for-row).
    */
  private[graft] def j3SemiAntiTwoJoinForm(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val withOrders = t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val noOrders = t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    withOrders.join(noOrders, Seq("c_mktsegment"), "full_outer")
      .select(
        col("c_mktsegment"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** J5: theta/range join — supplier vs customer in same nation where the
    * supplier out-balances the customer.
    *
    * Computed WITHOUT materializing the pair expansion: the join form
    * (kept as [[j5RangeJoinExpandedForm]], pinned row-for-row by
    * RelationalSpec) emits O(suppliers × customers) intermediate rows per
    * nation — ~300k at sf0.1, quadratic in the per-nation populations at
    * scale (guide §3: exploding joins). But a per-group theta aggregate
    * over `>` only needs ORDER STATISTICS: union both sides, one window
    * per nation ordered by (acctbal, side) with customers-after-suppliers
    * at ties (strict `>` excludes equal balances), and each supplier row
    * reads the running (count, Σmicros) of strictly-smaller customer
    * balances — n_pairs and the exact micro-unit gap sum fall out as
    * Σ cnt·micros(s) − Σ sum_c without a single pair row. `davgOfMicros`
    * then applies davg's integer HALF_UP formula to the exact totals, so
    * the result is bit-identical to the expanded form (2-dp fixture
    * balances make micros(s−c) = micros(s) − micros(c) exact).
    * Plan: the join + its O(pairs) stage collapse to one hash exchange +
    * in-partition sort over |S|+|C| rows.
    */
  def j5RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val su = t.supplier.select(col("s_nationkey").as("nk"),
      col("s_acctbal").as("bal"), lit(0).as("side"))
    val cu = t.customer.select(col("c_nationkey").as("nk"),
      col("c_acctbal").as("bal"), lit(1).as("side"))
    // strictly-before-current frame: customers at the SAME balance sort
    // after supplier rows (side 1 > 0), so a supplier's prefix holds
    // exactly the customers with c_acctbal < s_acctbal; equal-(bal,side)
    // tie order is irrelevant — tied rows are all suppliers (side 0,
    // contribute nothing) or all customers (summed symmetrically)
    val w = Window.partitionBy(col("nk")).orderBy(col("bal"), col("side"))
      .rowsBetween(Window.unboundedPreceding, -1)
    su.unionByName(cu)
      .withColumn("m", Det.micros(col("bal")))
      .withColumn("c_below",
        coalesce(sum(when(col("side") === 1, 1L)).over(w), lit(0L)))
      .withColumn("c_sum_below",
        coalesce(sum(when(col("side") === 1, col("m"))).over(w), lit(0L)))
      .filter(col("side") === 0)
      .groupBy(col("nk"))
      .agg(sum(col("c_below")).as("n_pairs"),
        sum(col("c_below") * col("m") - col("c_sum_below")).as("gap_micros"))
      .filter(col("n_pairs") > 0)
      .select(col("nk").as("s_nationkey"), col("n_pairs"),
        Det.davgOfMicros(col("gap_micros"), col("n_pairs")).as("avg_gap"))
      .orderBy(col("s_nationkey"))
  }

  /** The r16 pair-expansion form of [[j5RangeJoin]] — kept as the
    * equivalence witness (RelationalSpec pins the two row-for-row).
    */
  private[graft] def j5RangeJoinExpandedForm(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.supplier.join(t.customer,
        col("s_nationkey") === col("c_nationkey") && col("s_acctbal") > col("c_acctbal"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_pairs"),
        Det.davg(col("s_acctbal") - col("c_acctbal")).as("avg_gap"))
      .orderBy(col("s_nationkey"))
  }

  /** J6: cross join (guarded: only dimension-sized inputs). */
  def j6Cross(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.region.crossJoin(t.nation)
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") === col("n_regionkey")).cast("int").as("is_home"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** A2: exact distinct aggregation (expand + two-phase agg). */
  def a2Distinct(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderpriority")).as("n_prios"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** A3: approximate count-distinct (HLL++). The raw estimates are
    * engine-specific; the declared form is [[a3ApproxDistinctChecked]],
    * and a scalatest tolerance assertion pins the values here.
    */
  def a3ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** Oracle-CHECKABLE form of [[a3ApproxDistinct]] (the declared
    * `a3_approx_distinct` query) — the `s7_profile_approx` pattern: the
    * HLL++ estimates enter the compare as ±3·rsd acceptance predicates
    * against exact counts computed engine-side (rsd = 0.02 here, so the
    * band is 60 permille — [[graft.operators.Profile.ndEstOk]]), which
    * the DuckDB oracle replays as literal TRUE; the exact per-group
    * counts hash-compare exactly. The predicates consume the estimates,
    * so pruning cannot drop the sketch from the measured plan; estimate
    * VALUES stay tolerance-asserted in RelationalSpec. Upgrades the
    * driver's check for this query from rows-only to rows+schema+hash.
    */
  def a3ApproxDistinctChecked(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val exact = t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))
    a3ApproxDistinct(spark, dir)
      .join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("n_orders"), col("n_parts"),
        graft.operators.Profile.ndEstOk(col("approx_orders"), col("n_orders"),
          bandPermille = 60L).as("orders_est_ok"),
        graft.operators.Profile.ndEstOk(col("approx_parts"), col("n_parts"),
          bandPermille = 60L).as("parts_est_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** A4: rollup with grouping_id — multi-granularity aggregate. */
  def a4Rollup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Det.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** A4c: the literal `GROUPING SETS` SQL surface (rollup/cube are its
    * shorthands; §2.4 names the general form explicitly). The SQL text is
    * engine-portable and serves verbatim as its own DuckDB oracle — the
    * decimal-sum and GROUPING_ID spellings are the cross-engine ones used
    * throughout the registry. Sets ((f,s),(s),()) are chosen to be neither
    * a rollup nor a cube of the two columns.
    */
  val a4GroupingSetsSql: String = """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      COALESCE(l_linestatus, 'ALL') AS linestatus,
      CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n,
      CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    ORDER BY gid, returnflag, linestatus"""

  def a4GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    // Scoped view name: registering the bare name 'lineitem' would shadow
    // the catalog/parquet table for every later spark.sql in this session.
    // The oracle string stays pinned to 'lineitem'; only the Spark run
    // substitutes the identifier. spark.sql analyzes eagerly, so the view
    // can be dropped as soon as the frame is built.
    val view = "graft_a4_lineitem"
    Tables(spark, dir).lineitem.createOrReplaceTempView(view)
    try spark.sql(a4GroupingSetsSql.replace("FROM lineitem", s"FROM $view"))
    finally spark.catalog.dropTempView(view)
  }

  /** A5: array aggregation — stabilized with sort + string join so the
    * oracle compare is order-insensitive.
    */
  def a5CollectSet(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** A5b: first/last per group — min_by/max_by over raw-nanosecond event
    * time (unique per user in the fixtures, so the pick is deterministic;
    * DuckDB twin: arg_min/arg_max on the TIMESTAMP_NS column).
    */
  def a5FirstLast(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.eventsRaw
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), col("ts")).as("first_type"),
        max_by(col("event_type"), col("ts")).as("last_type"),
        expr("MIN(ts) DIV 1000").as("first_ts_us"),
        expr("MAX(ts) DIV 1000").as("last_ts_us"))
      .orderBy(col("user_id"))
  }

  /** EXACT percentiles by RANK instead of by value-buffer aggregation.
    *
    * Spark's `percentile` is an ObjectHashAggregate that accumulates a
    * per-group value→count map (boxed, codegen-free, merge-heavy) — the
    * a6 pair's dominant cost and a per-group memory liability at scale
    * (guide §4/§5: non-codegen aggregates in the hot path). An exact
    * quantile only needs the values at ranks ⌊pos⌋+1 / ⌈pos⌉+1 of each
    * group (pos = p·(n−1)): one codegen count pass, one window
    * row_number pass inside the group exchange, pick the two rows, and
    * interpolate with EXACTLY Spark's arithmetic —
    * `(⌈pos⌉−pos)·lo + (pos−⌊pos⌋)·hi`, lo when pos is integral —
    * reproduced bit-for-bit (a one-off probe matched 18/18 group×p cases at
    * three SFs against expr("percentile"); RelationalSpec pins it).
    *
    * Null discipline: values are filtered before ranking and counted
    * with count(v), matching percentile's ignore-nulls. Groups with
    * n = 0 would drop out rather than yield NULL — impossible for the
    * fixture measures, and the pinned object-agg forms keep the
    * original semantics on record.
    *
    * Returns (g, __pct0, __pct1, ...) one row per group with ≥1 value.
    */
  private[graft] def rankPercentiles(base: DataFrame, g: String, v: String,
                                     ps: Seq[Double]): DataFrame = {
    val vals = base.filter(col(v).isNotNull)
    val cnts = ps.zipWithIndex.foldLeft(
      vals.groupBy(col(g)).agg(count(col(v)).as("__n"))) {
      case (df, (p, i)) =>
        df.withColumn(s"__pos$i", lit(p) * (col("__n") - 1).cast("double"))
          .withColumn(s"__klo$i", floor(col(s"__pos$i")).cast("long") + 1)
          .withColumn(s"__khi$i", ceil(col(s"__pos$i")).cast("long") + 1)
    }
    val w = Window.partitionBy(col(g)).orderBy(col(v))
    val ranked = vals.select(col(g), col(v))
      .withColumn("__rn", row_number().over(w))
    val keep = ps.indices
      .map(i => col("__rn") === col(s"__klo$i") || col("__rn") === col(s"__khi$i"))
      .reduce(_ || _)
    val aggs = ps.indices.flatMap { i => Seq(
      min(when(col("__rn") === col(s"__klo$i"), col(v))).as(s"__lo$i"),
      max(when(col("__rn") === col(s"__khi$i"), col(v))).as(s"__hi$i"),
      first(col(s"__pos$i")).as(s"__p$i"))
    }
    ranked.join(broadcast(cnts), Seq(g)).filter(keep)
      .groupBy(col(g)).agg(aggs.head, aggs.tail: _*)
      .select(col(g) +: ps.indices.map { i =>
        val pos = col(s"__p$i")
        when(ceil(pos) === floor(pos), col(s"__lo$i"))
          .otherwise((ceil(pos) - pos) * col(s"__lo$i") +
            (pos - floor(pos)) * col(s"__hi$i"))
          .as(s"__pct$i")
      }: _*)
  }

  /** A6: statistical aggregates — exact percentile, stddev, correlation.
    * The exact median comes from [[rankPercentiles]] (two codegen passes)
    * instead of the value-buffer `percentile` object aggregate — the
    * object-agg form is kept as [[a6StatsObjectAggForm]] and pinned
    * value-identical by RelationalSpec. stddev/corr stay one declarative
    * partial-aggregated pass; the two 3-row results broadcast-join.
    */
  def a6Stats(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val base = t.lineitem.select(col("l_returnflag"), col("l_extendedprice"),
      col("l_quantity"))
    val med = rankPercentiles(
      base.select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", Seq(0.5))
    val stats = base.groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
    stats.join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), round(col("__pct0"), 4).as("median_price"),
        col("sd_qty"), col("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** The r16 object-aggregate form of [[a6Stats]] — kept as the
    * equivalence witness (RelationalSpec pins the two value-identical).
    */
  private[graft] def a6StatsObjectAggForm(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    graft.Engine.parallelFloor(
      t.lineitem.select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity")))
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** A6b (scale path): approximate percentile — the exact `percentile`
    * sorts every group's values; `percentile_approx` is a bounded-size
    * sketch that merges associatively, the right choice at 100 TB.
    * Tolerance-checked against the exact percentile in RelationalSpec
    * (same treatment as A3's approx count-distinct).
    */
  def a6ApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("approx_p95"))
      .orderBy(col("l_returnflag"))
  }

  /** Acceptance band for [[a6StatsApproxChecked]], in permille of the
    * exact percentile value. percentile_approx(accuracy = 10000)
    * guarantees RANK error ≤ n/10000; on the fixture price distribution
    * (quasi-uniform over ≈[900, 105000]) a 0.01% rank slip moves the
    * VALUE by ≪1%, so ±1% relative is ≥10× headroom at every declared
    * scale while still rejecting any structurally broken sketch (e.g.
    * one returning the group mean, min/max, or a constant — all ≫1% off
    * at both probed quantiles).
    */
  val PctBandPermille = 10L

  /** |est − exact| ≤ exact · band/1000 — the relative-tolerance twin of
    * [[graft.operators.Profile.ndEstOk]] for positive continuous
    * measures (prices here; callers must ensure exact > 0).
    */
  def pctEstOk(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column,
               bandPermille: Long = PctBandPermille): org.apache.spark.sql.Column =
    abs(est - exact) <= exact * lit(bandPermille) / lit(1000L)

  /** A6b declared form (`a6_stats_approx`) — puts the SCALE-VIABLE
    * percentile path under the oracle hash gate, the a3/s7 structural
    * contract: exact percentiles (hash-compared against DuckDB's
    * quantile_cont) plus [[pctEstOk]] acceptance predicates consuming
    * the percentile_approx sketch, which the oracle replays as literal
    * TRUE. The exact side exists only to make the contract executable;
    * [[a6ApproxPercentile]] stays the production operator at 100 TB —
    * a bounded-size KLL-style sketch that merges associatively in a
    * single partial-aggregated shuffle, vs the exact `percentile`'s
    * per-group value buffering. A sketch off by >±1% at p50 or p95
    * flips its predicate and fails the driver's hash gate; estimate
    * VALUES stay tolerance-asserted in RelationalSpec.
    */
  def a6StatsApproxChecked(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // The SKETCH keeps its one bounded-buffer aggregation pass (that is
    // the production operator under test); the EXACT side — previously
    // the other half of the same agg as a full per-group value buffer
    // (`percentile(col, array(0.5, 0.95))`) — now comes from
    // [[rankPercentiles]]'s codegen passes and broadcast-joins back
    // (3-row frames). Same values bit-for-bit: RelationalSpec pins the
    // rank interpolation against the object aggregate.
    val base = t.lineitem.select(col("l_returnflag"), col("l_extendedprice"))
    val ex = rankPercentiles(base, "l_returnflag", "l_extendedprice", Seq(0.5, 0.95))
    base
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(10000)).as("__ap"))
      .join(broadcast(ex), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("__pct0"), 4).as("median_price"),
        round(col("__pct1"), 4).as("p95_price"),
        col("__ap").getItem(0).as("approx_median"),
        col("__ap").getItem(1).as("approx_p95"))
      .select(col("l_returnflag"), col("median_price"), col("p95_price"),
        pctEstOk(col("approx_median"), col("median_price")).as("median_est_ok"),
        pctEstOk(col("approx_p95"), col("p95_price")).as("p95_est_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** The r16 fused object-aggregate form of [[a6StatsApproxChecked]] —
    * kept as the equivalence witness (RelationalSpec pins the two).
    */
  private[graft] def a6StatsApproxObjectAggForm(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("__ex"),
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.95)), lit(10000)).as("__ap"))
      .select(col("l_returnflag"),
        round(col("__ex").getItem(0), 4).as("median_price"),
        round(col("__ex").getItem(1), 4).as("p95_price"),
        col("__ap").getItem(0).as("approx_median"),
        col("__ap").getItem(1).as("approx_p95"))
      .select(col("l_returnflag"), col("median_price"), col("p95_price"),
        pctEstOk(col("approx_median"), col("median_price")).as("median_est_ok"),
        pctEstOk(col("approx_p95"), col("p95_price")).as("p95_est_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** A9 histogram geometry: [0, 110000) in 22 equi-width buckets of
    * 5000.00 — covers the fixture price range (≈[900, 105000]) at every
    * scale factor with fixed, data-independent bounds.
    */
  val HistWidthCents = 500000L

  /** A9: equi-width histogram of `l_extendedprice` — the distribution
    * summary every profiler/BI layer asks of a measure column. Bucketing
    * is exact integer arithmetic: the 2-dp price recovers losslessly as
    * DECIMAL(30,2) cents, and `cents DIV width` assigns buckets with no
    * float boundary ambiguity on any engine. One partial-aggregated
    * shuffle on the bucket id — the same single-pass shape at any scale.
    */
  def a9Histogram(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .select(col("l_extendedprice"),
        (col("l_extendedprice").cast("decimal(30,2)") * lit(100))
          .cast("long").as("cents"))
      .groupBy(expr(s"cents DIV ${HistWidthCents}L").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        Det.dsum(col("l_extendedprice"), 2).as("sum_price"))
      .select(col("bucket"),
        (col("bucket") * lit(5000L)).cast("long").as("lo_price"),
        col("n"), col("min_price"), col("max_price"), col("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Global dense 1..n rank over an arbitrary sort order WITHOUT a
    * single-partition window: range partition on the sort key, count
    * rows per partition, broadcast the running offsets, and add them to
    * the per-partition row_number — the same distributed-prefix-sum
    * shape as `Curation.packBins`/`epochOrder`, generalized to any sort.
    * `localCheckpoint` pins ONE materialized partitioning so the offsets
    * branch and the main branch cannot see different range boundaries.
    */
  def distributedRank(df: DataFrame, sort: Seq[Column],
                      partitions: Int = 32): DataFrame = {
    val parts = df.repartitionByRange(partitions, sort: _*)
      .withColumn("__pid", spark_partition_id())
      .materialize()
    val offsets = parts.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pcnt"))
      .withColumn("__poff",
        coalesce(sum(col("__pcnt")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__poff"))
    parts.join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__poff") +
        row_number().over(Window.partitionBy(col("__pid")).orderBy(sort: _*)))
      .drop("__pid", "__poff")
  }

  /** [[distributedRank]] for sort keys the CALLER can coarsen into a
    * deterministic monotone bucket — the same decomposition as
    * `Curation.stratumRank`'s hash-prefix buckets, generalized: global
    * rank = (count of rows in strictly-earlier buckets) + (row_number
    * within the bucket under the full sort). Because the bucket is a pure
    * function of the row — not a sampled range boundary or a physical
    * partition id — the offsets branch and the rank branch agree with no
    * range-sampling job and, when the input is a cheap scan, no
    * full-frame checkpoint either: the only forced materialization is
    * the bucket-count frame (≤ #buckets rows). `distributedRank` always
    * pays the range-sampling job plus a corpus-wide checkpoint
    * write/read per call; at 100 TB that checkpoint is the dominant
    * cost of ranking.
    *
    * CONTRACT on `bucket`: monotone non-decreasing in the sort order —
    * bucket(r1) < bucket(r2) must imply r1 precedes r2 under `sort`
    * (ascending first key; NULLS FIRST on both sides, which Spark's
    * default ascending null ordering gives when bucket(NULL key) is
    * NULL). A monotone integer projection of the first sort key —
    * `key DIV width`, `floor(key · scale)` — satisfies it. Bucket
    * GRANULARITY is a perf knob only, never correctness: heavy ties on
    * the first key funnel one bucket's window exactly as they funnel one
    * range partition in [[distributedRank]] (equal keys cannot split
    * across range boundaries either), so the worst cases coincide; for a
    * key with no usable spread, or one the caller cannot bound, use
    * [[distributedRank]] — its sampler adapts to any distribution.
    *
    * `totalCol`: when set, the grand total row count is attached under
    * that name via a 1-row broadcast derived from the ALREADY-materialized
    * bucket counts — callers that need n (decile cuts, equi-depth
    * buckets) get it without re-executing the upstream a third time.
    *
    * `materializeInput` decides who pays for the offsets/rank two-branch
    * shape: `false` (the a10 posture) re-executes the upstream once per
    * branch — right when the input is a cheap column-pruned scan, where a
    * second scan is cheaper than any checkpoint. `true` (the CCNet/AUC
    * posture) pins the narrow bucketed input with ONE materialization
    * both branches ride — right when the input is an expensive derived
    * chain (a corpus LM scoring pass, a cross-join cosine pass). Note
    * `distributedRank` cannot offer the `false` option at all: its range
    * sampler + checkpoint exist precisely because sampled boundaries are
    * not a deterministic function of the row.
    */
  def bucketedRank(df: DataFrame, sort: Seq[Column], bucket: Column,
                   totalCol: Option[String] = None,
                   materializeInput: Boolean = false): DataFrame = {
    val withB0 = df.withColumn("__b", bucket)
    // persist, not a checkpoint barrier (round-13 pinning discipline):
    // the offsets and rank branches still share ONE upstream execution
    // via the cache, and the chain stays rooted at the scan so a
    // re-declared run cache-matches the canonicalized plans
    val withB = if (materializeInput) withB0.persist() else withB0
    val offsets = withB.groupBy(col("__b"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__boff",
        coalesce(sum(col("__bn")).over(
          Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .persist() // bucket-sized: pins ONE upstream execution for the
                 // broadcast side (and the optional total)
    val ranked = withB
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__b")).orderBy(sort: _*)))
      // null-safe equality: bucket(NULL key) is NULL, and those rows form
      // a real bucket (groupBy groups them; a plain equi-join would
      // silently DROP them — spec-pinned)
      .join(broadcast(offsets.select(col("__b").as("__ob"), col("__boff"))),
        col("__b") <=> col("__ob"))
      .withColumn("rank", col("__boff") + col("__rk"))
      .drop("__b", "__ob", "__boff", "__rk")
    totalCol match {
      case Some(n) => ranked.crossJoin(broadcast(
        offsets.agg(sum(col("__bn")).cast("long").as(n))))
      case None => ranked
    }
  }

  /** Equi-depth bucket count for [[a10EquiDepth]]. */
  val DepthBuckets = 20

  /** A10: equi-depth (equal-count) histogram — the quantile-bucket twin
    * of [[a9Histogram]]'s equi-width one. Bucket of a row =
    * `(rank-1)·k DIV n` over the fully tie-broken global order: pure
    * integer arithmetic, bucket sizes differ by at most one, and no
    * engine-specific NTILE fill order to disagree about. Rides
    * [[bucketedRank]] on ~$328 price slices (exact integer cents DIV
    * 2¹⁵ — prices span ~$900–$105k, so a few hundred populated buckets),
    * so the only wide operations are one hash exchange and the keyed
    * final aggregation — never a 1-task global window over the table,
    * and never a corpus-wide range-sample + checkpoint.
    */
  def a10EquiDepth(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val li = t.lineitem.select(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"))
    val ranked = bucketedRank(li,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) DIV 32768L"),
      totalCol = Some("__n"))
    ranked
      .groupBy(expr(s"(rank - 1) * $DepthBuckets DIV __n").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo_price"),
        max(col("l_extendedprice")).as("hi_price"),
        Det.dsum(col("l_extendedprice"), 2).as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** W1: ranking functions over a partitioned window. */
  def w1Rank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    t.customer
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .filter(col("rn") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"),
        col("rn"), col("rk"), col("drk"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** W5: distribution window functions — percent_rank and cume_dist of
    * account balance within market segment. Both are exact rational
    * functions of integer ranks ((rk−1)/(n−1), peers/n): the operands are
    * identical integers on both engines and one IEEE division is exactly
    * rounded, so the doubles hash-match without a rounding fence (the
    * ROUND(…, 9) is belt-and-braces against a future engine changing the
    * evaluation shape, not a tolerance).
    */
  def w5Distribution(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // value-only window order: rank/peer groups depend on c_acctbal
    // EQUALITY alone (engine-independent), and ties stay genuine peers —
    // a unique tie-break would collapse every peer group to one row and
    // reduce cume_dist to rn/n
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    t.customer
      .withColumn("pr", round(percent_rank().over(w), 9))
      .withColumn("cd", round(cume_dist().over(w), 9))
      .select(col("c_mktsegment"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"), col("pr"), col("cd"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** W2: analytic lag/lead over event time per user. Event time is compared
    * at µs precision on both engines (ns truncated identically).
    */
  def w2LagLead(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        Det.davg(col("gap_us"), 2).as("avg_gap_us"),
        sum(when(col("prev_type") === col("event_type"), 1).otherwise(0)).as("n_repeats"),
        sum(when(col("next_type") === col("event_type"), 1).otherwise(0)).as("n_next_same"))
      .orderBy(col("user_id"))
  }

  /** W3: frame aggregates — running sum + 3-row moving average. */
  def w3MovingAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("running_value", sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("moving_avg", avg(col("value")).over(w.rowsBetween(-2, 0)))
      .select(col("user_id"), col("event_id"),
        round(col("running_value"), 4).as("running_value"),
        round(col("moving_avg"), 4).as("moving_avg"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** W4 at scale: top-k per group, hot-key-safe. The rank-filter shape
    * (`row_number <= k` directly above the window) is exactly what
    * Catalyst's InferWindowGroupLimit rewrites: a PARTIAL
    * WindowGroupLimit lands BELOW the exchange, so each input partition
    * ships at most k rows per key — a hot key's millions of rows reach
    * the final per-key rank as ≤ k·P survivors. Plan-asserted in
    * RelationalSpec. Rounds 1–5 carried an explicit salted two-phase
    * pre-rank here (rank within (spark_partition_id, key) first); the
    * round-6 plan audit showed the optimizer's partial limit already
    * provides that exact bound with ONE shuffle where the salted form
    * pays two, so the salted variant survives only as the spec's
    * differential reference. Callers must keep the rank filter adjacent
    * to the window (any interposed operator defeats the rewrite), and
    * `k` must stay under `spark.sql.optimizer.windowGroupLimitThreshold`
    * (default 1000) or the partial stage is skipped.
    */
  def topKPerGroupSkewSafe(df: DataFrame, keys: Seq[String], order: Seq[Column],
                           k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** W4: top-K per group (the headline `window_topk` bench query). */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    t.events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), round(col("value"), 4).as("value"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** T1 batch analog: 1-hour tumbling event-time window × type (the
    * headline `tumbling_window` bench query; streaming twin in §2.8).
    */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.davg(col("value")).as("avg_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"),
        col("n"), col("avg_value"))
      .orderBy(col("window_start_us"), col("event_type"))
  }

  /** T3 batch analog: gap-based session windows per user
    * ([[SessionGapUs]] inactivity gap), the batch twin of
    * `Streams.sessionCounts`. Spark semantics (BehaviorSpec pins the
    * boundary): an event landing EXACTLY on the padded session end
    * `prev + gap` MERGES into the session — a new session needs a gap
    * STRICTLY over the threshold, so the DuckDB oracles replay
    * gaps-and-islands with `µs delta > gap`, never `>=`.
    */
  def sessionWindowBatch(spark: SparkSession, dir: String): DataFrame =
    sessionWindows(Tables(spark, dir).events)

  /** The single session-gap definition (30 min in epoch micros): the
    * `session_window` duration, the oracle replays, and the pad
    * [[Behavior.sessionRollup]] subtracts back out all derive from it —
    * one constant so they cannot skew.
    */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** The per-session frame over any (ts, user_id, value) event frame —
    * shared by the T3 declared query and [[Behavior.b5Sessions]]'
    * per-user rollup, so both views report the SAME sessions.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"${SessionGapUs / 1000000} seconds").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 4).as("total_value"))
      .select(
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("user_id"), col("n"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))

  /** T2 batch analog: 1-hour sliding window every 30 minutes × type.
    * With size = 2·slide every event lands in exactly two epoch-aligned
    * windows (starts ⌊t/slide⌋·slide and that minus slide), which is how
    * the DuckDB oracle replays Spark's window expansion.
    */
  def slidingWindowBatch(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("event_type"), col("n"))
      .orderBy(col("window_start_us"), col("event_type"))
  }

  /** O1+O2: global sort + limit → TakeOrderedAndProject (no full sort at scale). */
  def o1SortLimit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"), col("o_orderstatus"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** J2b: full outer join — per-nation customer vs supplier presence,
    * null-extended on both sides.
    */
  def j2FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val c = t.customer.groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val s = t.supplier.groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nk"), "full_outer")
      .select(col("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        when(col("n_cust").isNull, "supplier_only")
          .when(col("n_supp").isNull, "customer_only")
          .otherwise("both").as("side"))
      .orderBy(col("nk"))
  }

  /** J2c: right outer join (orders ⟖ customer) — the right-side-preserving
    * plan shape, result-equal to the customer-left form.
    */
  def j2RightOuter(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** A4b: cube with grouping_id — all four grouping combinations tagged. */
  def a4Cube(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(Det.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"), col("gid"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))
  }

  /** W1b: ntile quartiles of customer balance per market segment. */
  def w1Ntile(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    t.customer
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("lo"),
        round(max(col("c_acctbal")), 2).as("hi"))
      .orderBy(col("c_mktsegment"), col("quartile"))
  }

  /** Fixture event-type domain, shared by the pivot/unpivot queries and
    * their oracle builders (same no-drift rule as the LSH constants).
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** O5 (beyond §2): pivot — long-to-wide reshaping with an EXPLICIT
    * column domain (never the implicit-domain overload, which runs a
    * distinct scan first and makes the output schema data-dependent —
    * wrong at 100 TB and wrong for a fixed oracle).
    */
  def o5Pivot(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.events
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        EventTypes.map(e => coalesce(col(e), lit(0L)).as(s"n_$e")): _*)
      .orderBy(col("user_id"))
  }

  /** O5b: unpivot — the wide-to-long inverse, via `Dataset.unpivot`
    * (`stack` in SQL terms). Round-trips [[o5Pivot]]'s output back to
    * (user_id, event_type, n) rows; zero-count cells are dropped so the
    * long form matches a plain groupBy of the source.
    */
  def o5Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = o5Pivot(spark, dir)
    wide.unpivot(
        Array(col("user_id")),
        EventTypes.map(e => col(s"n_$e")).toArray,
        "event_type", "n")
      .withColumn("event_type", expr("substring(event_type, 3)"))
      .filter(col("n") > 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** O3: union all + distinct-aware aggregation over the union. */
  def o3Union(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val a = t.customer.select(col("c_nationkey").as("nk"), lit("c").as("src"))
    val b = t.supplier.select(col("s_nationkey").as("nk"), lit("s").as("src"))
    a.unionByName(b)
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n_all"), countDistinct(col("src")).as("n_sources"))
      .orderBy(col("nk"))
  }

  /** O4: intersect / except set operations. */
  def o4SetOps(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val custNations = t.customer.select(col("c_nationkey").as("nk")).distinct()
    val suppNations = t.supplier.select(col("s_nationkey").as("nk")).distinct()
    val both = custNations.intersect(suppNations).withColumn("side", lit("both"))
    val custOnly = custNations.except(suppNations).withColumn("side", lit("customer_only"))
    both.unionByName(custOnly).orderBy(col("side"), col("nk"))
  }

  /** Latest row per key: argmax over the version struct via `max_by`,
    * NOT a window rank. Latest-wins is k=1, and for k=1 aggregation is
    * the better shape: ONE shuffle, with the partial aggregate shipping
    * one candidate row per key per input partition. (The struct-valued
    * buffer keeps `max_by` off the hash-aggregate fast path — the
    * partials plan as SortAggregate, so per-partition sorts remain —
    * but a `row_number` formulation pays those same local sorts AND
    * either a wider window stage (naive; partial WindowGroupLimit does
    * match the map-side prune) or a second exchange (the salted
    * [[topKPerGroupSkewSafe]]). Plan shapes compared via Explain on
    * o6_upsert.) `version` must be a TOTAL order per key (struct
    * comparison is lexicographic): a version tie would make the winner
    * nondeterministic.
    */
  def latestPerKey(changes: DataFrame, keys: Seq[String],
                   version: Seq[Column]): DataFrame = {
    val payload = struct(changes.columns.map(col): _*)
    changes.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(version: _*)).as("__latest"))
      .select(col("__latest.*"))
  }

  /** O6: CDC latest-wins changelog compaction — materialize the current
    * snapshot of a mutable table from its upsert/delete change stream:
    * per key, keep the change with the highest version
    * ([[latestPerKey]]), then drop keys whose winning change is a
    * tombstone. The merge step every CDC-fed table needs at scale.
    *
    * The tombstone filter runs AFTER the winner is picked: a delete only
    * deletes if it is genuinely last (filtering deletes first would
    * resurrect older upserts). Compacting a base snapshot plus a delta
    * is the same call over their union, with the base rows versioned
    * below every delta (RelationalSpec pins that composition, the
    * tombstone ordering, and output identity with a window-rank
    * reference implementation).
    */
  def upsertCompact(changes: DataFrame, keys: Seq[String], version: Seq[Column],
                    isDelete: Column): DataFrame =
    latestPerKey(changes, keys, version).filter(!isDelete)

  /** O6 declared query: the events changelog compacted to its current
    * state — key = user_id, version = (ts, event_id), an 'error' as the
    * tombstone op. Surfaced per the determinism rules (µs epochs,
    * 4-dp doubles).
    */
  def o6Upsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    upsertCompact(t.events, keys = Seq("user_id"),
        version = Seq(col("ts"), col("event_id")),
        isDelete = col("event_type") === lit("error"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), round(col("value"), 4).as("value"))
      .orderBy(col("user_id"))
  }
}
