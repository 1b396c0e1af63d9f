package graft

import graft.operators._
import graft.functions.{FnQueries, FreqItems, WeightedAvg}
import graft.sources.BatchIO

/** Central declaration list: every implemented operator from SURVEY.md §2
  * with its DuckDB oracle twin (None → driver records rows-only check).
  *
  * Oracle-authoring rules (keep both sides in lock-step):
  *  - column names identical to the Spark result (driver sorts by name);
  *  - money sums via Det.dsumSql (exact DECIMAL, order-independent);
  *  - timestamps surfaced as `epoch_us(..)` BIGINT (Spark: `unix_micros`);
  *  - `events.ts` reaches DuckDB as TIMESTAMP (µs) in current fixtures,
  *    TIMESTAMP_NS in older ones → `ts::TIMESTAMP` is identity on the
  *    former and truncates to µs on the latter, exactly like the Spark
  *    loader's normalization (Tables.events adapts to either shape);
  *  - window-function ints cast to INT (Spark row_number is 32-bit);
  *  - conditional sums cast to BIGINT (DuckDB SUM(int) is HUGEINT);
  *  - full tie-break ORDER BY everywhere.
  */
object Registry {
  private val ds = Det.dsumSql _
  private val da = Det.davgSql _

  /** Shared SQL generator for the two profile oracles — generated from
    * the SAME Profile.TableCols spec the operator reads, so the SQL and
    * the Scala cannot drift. `distinctSlot` fills the one column the
    * twins differ on: exact `COUNT(DISTINCT $c)` for s7_profile, the
    * literal-TRUE `nd_est_ok` sanity predicate for s7_profile_approx
    * (`$c` is substituted with each column name). The `events` view
    * reaches DuckDB as raw TIMESTAMP(NANOS) parquet which it truncates
    * to micros — identical to Tables.events' `ts DIV 1000`.
    */
  private def profileOracle(distinctSlot: String): String = {
    def one(t: String, c: String, cls: String) = {
      val expr = if (cls == "ts") s"epoch_us($c)" else c
      val slots = cls match {
        case "int" | "ts" =>
          s"""CAST(MIN($expr) AS BIGINT) AS num_min, CAST(MAX($expr) AS BIGINT) AS num_max,
        NULL::DOUBLE AS dbl_min, NULL::DOUBLE AS dbl_max,
        NULL::VARCHAR AS str_min, NULL::VARCHAR AS str_max"""
        case "dbl" =>
          s"""NULL::BIGINT AS num_min, NULL::BIGINT AS num_max,
        MIN($c) AS dbl_min, MAX($c) AS dbl_max,
        NULL::VARCHAR AS str_min, NULL::VARCHAR AS str_max"""
        case "str" =>
          s"""NULL::BIGINT AS num_min, NULL::BIGINT AS num_max,
        NULL::DOUBLE AS dbl_min, NULL::DOUBLE AS dbl_max,
        MIN($c) AS str_min, MAX($c) AS str_max"""
        case "arr" =>
          s"""NULL::BIGINT AS num_min, NULL::BIGINT AS num_max,
        NULL::DOUBLE AS dbl_min, NULL::DOUBLE AS dbl_max,
        NULL::VARCHAR AS str_min, NULL::VARCHAR AS str_max"""
      }
      s"""SELECT '$t' AS table_name, '$c' AS col_name,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        ${distinctSlot.replace("$c", c)},
        $slots FROM $t"""
    }
    operators.Profile.TableCols
      .flatMap { case (t, cols) => cols.map { case (c, cls) => one(t, c, cls) } }
      .mkString("", "\n        UNION ALL\n        ",
        "\n        ORDER BY table_name, col_name")
  }

  val relational: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", Relational.q1PricingSummary, Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${ds("l_quantity", 2)} AS sum_qty,
        ${ds("l_extendedprice", 2)} AS sum_base_price,
        ${ds("l_extendedprice * (1.0 - l_discount)", 2)} AS sum_disc_price,
        ${da("l_quantity", 4)} AS avg_qty,
        ${da("l_extendedprice", 4)} AS avg_price,
        ${da("l_discount", 4)} AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),

    QueryDef("q3_join_agg", Relational.q3JoinAgg, Some(s"""
      SELECT l_orderkey,
        ${ds("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue,
        epoch_us(o_orderdate) AS o_orderdate_us,
        o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")),

    QueryDef("q5_local_supplier", Relational.q5LocalSupplier, Some(s"""
      SELECT n_name,
        ${ds("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1994-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")),

    QueryDef("q14_promo", Relational.q14Promo, Some {
      val rev = "l_extendedprice * (1.0 - l_discount)"
      val promo = s"CASE WHEN p_type LIKE 'PROMO%' THEN $rev ELSE 0.0 END"
      def hug(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(30,6))) * 1000000 AS HUGEINT)"
      s"""
      SELECT CAST(year(l_shipdate) AS INT) AS y, CAST(month(l_shipdate) AS INT) AS m,
        ${ds(promo, 2)} AS promo_revenue,
        ${ds(rev, 2)} AS total_revenue,
        CAST((${hug(promo)} * 2000 + ${hug(rev)}) // NULLIF(${hug(rev)} * 2, 0) AS BIGINT) AS promo_permille,
        COUNT(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY y, m
      ORDER BY y, m"""
    }),

    // TPC-H Q7-style: the deepest join tree in the surface — 2 fact tables
    // + 4 broadcast dimension sides (nation joined twice under aliases)
    QueryDef("q7_volume", Relational.q7Volume, Some(s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INT) AS l_year,
        ${ds("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND n1.n_name <> n2.n_name
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")),

    // z-score outliers with the sqrt eliminated: |x−μ|>3σ squared into
    // (n·x − S)² > 9(n·SS − S²), every term an exact integer micro-unit
    QueryDef("a11_outliers", Relational.a11Outliers, Some("""
      WITH e AS (SELECT event_id, event_type, value,
        CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS HUGEINT) AS v FROM events),
      st AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        SUM(v) AS s, SUM(v * v) AS ss FROM e GROUP BY event_type)
      SELECT event_id, e.event_type, value
      FROM e JOIN st ON e.event_type = st.event_type
      WHERE (n*v - s) * (n*v - s) > 9 * (n*ss - s*s)
      ORDER BY e.event_type, event_id""")),

    QueryDef("p2_filter_predicates", Relational.p2FilterPredicates, Some(s"""
      SELECT o_orderstatus, o_orderpriority,
        COUNT(*) AS n,
        ${ds("o_totalprice", 2)} AS total
      FROM orders
      WHERE o_orderstatus IN ('O','F')
        AND o_totalprice BETWEEN 1000.0 AND 200000.0
        AND (o_orderpriority LIKE '%URGENT%' OR o_orderpriority LIKE '3%')
        AND o_custkey IS NOT NULL
      GROUP BY o_orderstatus, o_orderpriority
      ORDER BY o_orderstatus, o_orderpriority""")),

    QueryDef("p3_case_when", Relational.p3CaseWhen, Some(s"""
      SELECT qty_band, COUNT(*) AS n,
        CAST(SUM(CASE WHEN disc_flag = -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS no_discount,
        ${da("l_extendedprice", 4)} AS avg_price
      FROM (
        SELECT l_extendedprice,
          CASE WHEN l_quantity < 10 THEN 'low'
               WHEN l_quantity < 30 THEN 'mid'
               ELSE 'high' END AS qty_band,
          COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_flag
        FROM lineitem)
      GROUP BY qty_band
      ORDER BY qty_band""")),

    QueryDef("j2_outer_join", Relational.j2OuterJoin, Some("""
      SELECT c_mktsegment,
        COUNT(o_orderkey) AS n_orders,
        CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_customers_no_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")),

    QueryDef("j3_semi_anti", Relational.j3SemiAnti, Some("""
      SELECT c_mktsegment,
        CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
      FROM customer c
      GROUP BY c_mktsegment
      HAVING SUM(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END) > 0
          OR SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) THEN 1 ELSE 0 END) > 0
      ORDER BY c_mktsegment""")),

    QueryDef("j5_range_join", Relational.j5RangeJoin, Some(s"""
      SELECT s_nationkey, COUNT(*) AS n_pairs,
        ${da("s_acctbal - c_acctbal", 4)} AS avg_gap
      FROM supplier JOIN customer
        ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      GROUP BY s_nationkey
      ORDER BY s_nationkey""")),

    QueryDef("j6_cross", Relational.j6Cross, Some("""
      SELECT r_name, n_name,
        CAST(r_regionkey = n_regionkey AS INT) AS is_home
      FROM region CROSS JOIN nation
      ORDER BY r_name, n_name""")),

    QueryDef("a2_distinct", Relational.a2Distinct, Some("""
      SELECT o_orderstatus,
        COUNT(DISTINCT o_custkey) AS n_custs,
        COUNT(DISTINCT o_orderpriority) AS n_prios,
        COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""")),

    // HLL++ estimates are engine-specific, so the declared form emits
    // exact per-group counts (hash-compared) plus ±3·rsd acceptance
    // predicates the oracle replays as literal TRUE — the same
    // structural-contract pattern as s7_profile_approx. Estimate values
    // stay tolerance-asserted in RelationalSpec.
    QueryDef("a3_approx_distinct", Relational.a3ApproxDistinctChecked, Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_orderkey) AS n_orders,
        COUNT(DISTINCT l_partkey) AS n_parts,
        TRUE AS orders_est_ok, TRUE AS parts_est_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef("j2_full_outer", Relational.j2FullOuter, Some("""
      SELECT COALESCE(c.nk, s.nk) AS nk,
        COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp,
        CASE WHEN n_cust IS NULL THEN 'supplier_only'
             WHEN n_supp IS NULL THEN 'customer_only'
             ELSE 'both' END AS side
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
      FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        ON c.nk = s.nk
      ORDER BY nk""")),

    QueryDef("j2_right_outer", Relational.j2RightOuter, Some("""
      SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders,
        COUNT(DISTINCT c_custkey) AS n_customers
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef("a4_cube", Relational.a4Cube, Some(s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        COALESCE(l_linestatus, 'ALL') AS linestatus,
        ${ds("l_quantity", 2)} AS sum_qty, COUNT(*) AS n,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY gid, returnflag, linestatus""")),

    QueryDef("w1_ntile", Relational.w1Ntile, Some("""
      SELECT c_mktsegment, CAST(quartile AS INT) AS quartile, COUNT(*) AS n,
        ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi
      FROM (
        SELECT c_mktsegment, c_acctbal,
          ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
      GROUP BY c_mktsegment, quartile
      ORDER BY c_mktsegment, quartile""")),

    // the SQL text is engine-portable: the Spark side runs the SAME string
    // via spark.sql, so the oracle is the query by construction
    QueryDef("a4_grouping_sets", Relational.a4GroupingSets,
      Some(Relational.a4GroupingSetsSql)),

    QueryDef("s6_csv_roundtrip", BatchIO.s6CsvRoundtrip, Some(s"""
      SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS y,
        COUNT(*) AS n, ${ds("o_totalprice", 2)} AS total
      FROM orders
      GROUP BY o_orderstatus, y
      ORDER BY o_orderstatus, y""")),

    QueryDef("s6_orc_roundtrip", BatchIO.s6OrcRoundtrip, Some(s"""
      SELECT l_returnflag, COUNT(*) AS n,
        ${ds("l_quantity", 2)} AS sum_qty,
        ${ds("l_extendedprice", 2)} AS sum_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    QueryDef("s6_json_roundtrip", BatchIO.s6JsonRoundtrip, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n, ${ds("c_acctbal", 2)} AS total_bal
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")),

    QueryDef("a4_rollup", Relational.a4Rollup, Some(s"""
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        COALESCE(l_linestatus, 'ALL') AS linestatus,
        ${ds("l_quantity", 2)} AS sum_qty,
        COUNT(*) AS n
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""")),

    QueryDef("a5_collect_set", Relational.a5CollectSet, Some("""
      SELECT user_id,
        array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        COUNT(*) AS n_events
      FROM events
      GROUP BY user_id
      ORDER BY user_id""")),

    QueryDef("a5_first_last", Relational.a5FirstLast, Some("""
      SELECT user_id,
        arg_min(event_type, ts) AS first_type,
        arg_max(event_type, ts) AS last_type,
        epoch_us(MIN(ts)::TIMESTAMP) AS first_ts_us,
        epoch_us(MAX(ts)::TIMESTAMP) AS last_ts_us
      FROM events
      GROUP BY user_id
      ORDER BY user_id""")),

    QueryDef("a6_stats", Relational.a6Stats, Some("""
      SELECT l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
        ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    // the SCALE path for percentiles under the hash gate — exact
    // percentiles hash-compare, the percentile_approx sketch enters as
    // ±1% acceptance predicates replayed by the oracle as literal TRUE
    // (the a3_approx_distinct / s7_profile_approx structural contract)
    QueryDef("a6_stats_approx", Relational.a6StatsApproxChecked, Some("""
      SELECT l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        TRUE AS median_est_ok, TRUE AS p95_est_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")),

    QueryDef("w1_rank", Relational.w1Rank, Some("""
      SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
        CAST(rn AS INT) AS rn, CAST(rk AS INT) AS rk, CAST(drk AS INT) AS drk
      FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
          ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk, DENSE_RANK() OVER w AS drk
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      WHERE rn <= 5
      ORDER BY c_mktsegment, rn""")),

    QueryDef("w5_distribution", Relational.w5Distribution, Some("""
      SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
        ROUND(PERCENT_RANK() OVER w, 9) AS pr,
        ROUND(CUME_DIST() OVER w, 9) AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
      ORDER BY c_mktsegment, c_custkey""")),

    QueryDef("w2_lag_lead", Relational.w2LagLead, Some(s"""
      SELECT user_id,
        ${da("gap_us", 2)} AS avg_gap_us,
        CAST(SUM(CASE WHEN prev_type = event_type THEN 1 ELSE 0 END) AS BIGINT) AS n_repeats,
        CAST(SUM(CASE WHEN next_type = event_type THEN 1 ELSE 0 END) AS BIGINT) AS n_next_same
      FROM (
        SELECT user_id, event_type,
          LAG(event_type) OVER w AS prev_type,
          LEAD(event_type) OVER w AS next_type,
          epoch_us(ts::TIMESTAMP) - LAG(epoch_us(ts::TIMESTAMP)) OVER w AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id))
      GROUP BY user_id
      ORDER BY user_id""")),

    QueryDef("w3_moving_agg", Relational.w3MovingAgg, Some("""
      SELECT user_id, event_id,
        ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
        ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
      FROM events
      ORDER BY user_id, event_id""")),

    QueryDef("window_topk", Relational.windowTopK, Some("""
      SELECT user_id, event_id, ROUND(value, 4) AS value, CAST(rn AS INT) AS rn
      FROM (
        SELECT user_id, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        FROM events)
      WHERE rn <= 3
      ORDER BY user_id, rn""")),

    QueryDef("tumbling_window", Relational.tumblingWindow, Some(s"""
      SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS window_start_us,
        event_type, COUNT(*) AS n, ${da("value", 4)} AS avg_value
      FROM events
      GROUP BY 1, 2
      ORDER BY 1, 2""")),

    QueryDef("t2_sliding_batch", Relational.slidingWindowBatch, Some("""
      WITH e AS (SELECT epoch_us(ts::TIMESTAMP) AS tus, event_type FROM events),
      w AS (SELECT unnest([
              (tus // 1800000000) * 1800000000 - 1800000000,
              (tus // 1800000000) * 1800000000]) AS ws,
              event_type FROM e)
      SELECT ws AS window_start_us, event_type, COUNT(*) AS n
      FROM w GROUP BY 1, 2
      ORDER BY 1, 2""")),

    QueryDef("t3_session_batch", Relational.sessionWindowBatch, Some(s"""
      WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus, value FROM events),
      g AS (SELECT user_id, tus, value,
              CASE WHEN LAG(tus) OVER w IS NULL OR tus - LAG(tus) OVER w > ${Relational.SessionGapUs}
                   THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      s AS (SELECT user_id, tus, value,
              SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM g)
      SELECT MIN(tus) AS session_start_us,
        MAX(tus) + ${Relational.SessionGapUs} AS session_end_us,
        user_id, COUNT(*) AS n,
        ${ds("value", 4)} AS total_value
      FROM s GROUP BY user_id, sid
      ORDER BY user_id, session_start_us""")),

    QueryDef("o1_sort_limit", Relational.o1SortLimit, Some("""
      SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice, o_orderstatus
      FROM orders
      ORDER BY totalprice DESC, o_orderkey
      LIMIT 25""")),

    QueryDef("o5_pivot", Relational.o5Pivot, Some {
      val cols = Relational.EventTypes
        .map(t => s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
        .mkString(", ")
      s"""
      SELECT user_id, $cols
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""
    }),

    // unpivot round-trip: the wide pivot folded back to long form equals a
    // plain group-count of the source (zero cells dropped on both sides)
    QueryDef("o5_unpivot", Relational.o5Unpivot, Some("""
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""")),

    QueryDef("o3_union", Relational.o3Union, Some("""
      SELECT nk, COUNT(*) AS n_all, COUNT(DISTINCT src) AS n_sources
      FROM (
        SELECT c_nationkey AS nk, 'c' AS src FROM customer
        UNION ALL
        SELECT s_nationkey AS nk, 's' AS src FROM supplier)
      GROUP BY nk
      ORDER BY nk""")),

    // CDC latest-wins compaction: last change per key wins (full
    // (ts, event_id) tie-break), keys whose final change is the
    // tombstone op drop out of the snapshot
    QueryDef("o6_upsert", Relational.o6Upsert, Some("""
      SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
             event_type, ROUND(value, 4) AS value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id""")),

    QueryDef("o4_set_ops", Relational.o4SetOps, Some("""
      SELECT nk, 'both' AS side FROM
        (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT nk, 'customer_only' AS side FROM
        (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
      ORDER BY side, nk""")),

    // Equi-width histogram: exact integer-cents bucketing (DECIMAL(30,2)
    // recovers the 2-dp price losslessly on both engines; // on positive
    // cents == Spark's DIV)
    QueryDef("a9_histogram", Relational.a9Histogram, Some(s"""
      WITH c AS (SELECT l_extendedprice,
        CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS cents
      FROM lineitem)
      SELECT cents // ${Relational.HistWidthCents} AS bucket,
        CAST(cents // ${Relational.HistWidthCents} * 5000 AS BIGINT) AS lo_price,
        COUNT(*) AS n,
        MIN(l_extendedprice) AS min_price,
        MAX(l_extendedprice) AS max_price,
        ${ds("l_extendedprice", 2)} AS sum_price
      FROM c GROUP BY bucket ORDER BY bucket""")),

    // Equi-depth histogram: integer bucket-of-rank over the tie-broken
    // global order (replayed as one window; the engine side rides the
    // distributed prefix sum instead)
    QueryDef("a10_equi_depth", Relational.a10EquiDepth, Some(s"""
      WITH r AS (SELECT l_extendedprice,
          ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rank,
          COUNT(*) OVER () AS total
        FROM lineitem)
      SELECT (rank - 1) * ${Relational.DepthBuckets} // total AS bucket,
        COUNT(*) AS n,
        MIN(l_extendedprice) AS lo_price,
        MAX(l_extendedprice) AS hi_price,
        ${ds("l_extendedprice", 2)} AS sum_price
      FROM r GROUP BY bucket ORDER BY bucket""")),

    // Ordered funnel: per-user conditional-min frontier per step, a
    // step's time counts only strictly after the previous step's
    QueryDef("b1_funnel", Behavior.b1Funnel, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
      s0 AS (SELECT user_id, MIN(us) AS t0 FROM e WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (SELECT s0.user_id, t0, MIN(CASE WHEN e.us > t0 THEN e.us END) AS t1
             FROM s0 LEFT JOIN e ON s0.user_id = e.user_id AND e.event_type = 'click'
             GROUP BY s0.user_id, t0),
      s2 AS (SELECT s1.user_id, t0, t1, MIN(CASE WHEN e.us > t1 THEN e.us END) AS t2
             FROM s1 LEFT JOIN e ON s1.user_id = e.user_id AND e.event_type = 'purchase'
             GROUP BY s1.user_id, t0, t1)
      SELECT * FROM (
        SELECT 1 AS step, 'view' AS step_name, COUNT(t0) AS n_users FROM s2
        UNION ALL SELECT 2, 'click', COUNT(t1) FROM s2
        UNION ALL SELECT 3, 'purchase', COUNT(t2) FROM s2)
      ORDER BY step""")),

    // Cohort retention: first-activity-day cohorts × return-day offsets,
    // integer epoch-days end to end
    QueryDef("b2_retention", Behavior.b2Retention, Some("""
      WITH d AS (SELECT DISTINCT user_id,
          epoch_us(date_trunc('day', ts::TIMESTAMP)) // 86400000000 AS day FROM events),
      c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
      SELECT cohort_day, day - cohort_day AS day_offset,
        COUNT(DISTINCT d.user_id) AS n_users
      FROM d JOIN c ON d.user_id = c.user_id
      GROUP BY cohort_day, day_offset
      ORDER BY cohort_day, day_offset""")),

    // Event-transition matrix: one per-user LEAD pass, |types|² output
    QueryDef("b3_transitions", Behavior.b3Transitions, Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us,
        event_id FROM events),
      p AS (SELECT event_type, LEAD(event_type) OVER
        (PARTITION BY user_id ORDER BY us, event_id) AS next_type FROM e)
      SELECT event_type, next_type, COUNT(*) AS n
      FROM p WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
      ORDER BY event_type, next_type""")),

    // B5: per-user rollup of the SAME gaps-and-islands sessions the T3
    // oracle replays (a gap STRICTLY over 30 min starts a session —
    // Spark's session_window merges an event landing exactly on the
    // padded end, BehaviorSpec pins the boundary; the padded end is
    // subtracted back out of the active span)
    QueryDef("b5_sessions", Behavior.b5Sessions, Some(s"""
      WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS tus FROM events),
      g AS (SELECT user_id, tus,
              CASE WHEN LAG(tus) OVER w IS NULL OR tus - LAG(tus) OVER w > ${Behavior.SessionGapUs}
                   THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
      s AS (SELECT user_id, tus,
              SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM g),
      per AS (SELECT user_id, sid, COUNT(*) AS n,
                MAX(tus) - MIN(tus) AS span_us
              FROM s GROUP BY user_id, sid)
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(MAX(n) AS BIGINT) AS max_session_events,
        CAST(SUM(span_us) AS BIGINT) AS active_span_us,
        CAST(SUM(n) * 1000 // COUNT(*) AS BIGINT) AS events_per_session_permille
      FROM per GROUP BY user_id ORDER BY user_id""")),

    // Last-touch attribution: carried-forward click time (IGNORE NULLS
    // window), purchases bucketed by attribution within the 24h window
    QueryDef("b4_attribution", Behavior.b4Attribution, Some(s"""
      WITH e AS (SELECT user_id, event_type, value,
        epoch_us(ts::TIMESTAMP) AS us, event_id FROM events
        WHERE event_type IN ('click','purchase')),
      lc AS (SELECT *, LAST_VALUE(CASE WHEN event_type = 'click' THEN us END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        FROM e)
      SELECT us // 86400000000 AS day,
        (last_click_us IS NOT NULL AND us - last_click_us <= ${Behavior.AttributionWindowUs}) AS attributed,
        COUNT(*) AS n_purchases,
        ${ds("value", 2)} AS revenue
      FROM lc WHERE event_type = 'purchase'
      GROUP BY day, attributed
      ORDER BY day, attributed""")),

    // Gap fill: integer epoch-hour grid per user, zero-count rows for
    // silent hours, last-observation-carried-forward via IGNORE NULLS
    QueryDef("o7_gap_fill", TimeSeries.o7GapFill, Some(s"""
      WITH e AS (SELECT user_id,
        epoch_us(date_trunc('hour', ts::TIMESTAMP)) // 3600000000 AS hour_id,
        value FROM events),
      b AS (SELECT user_id, hour_id, COUNT(*) AS n_events,
        ${ds("value", 2)} AS hour_value
      FROM e GROUP BY user_id, hour_id),
      r AS (SELECT user_id, MIN(hour_id) AS lo, MAX(hour_id) AS hi
            FROM b GROUP BY user_id),
      s AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hour_id FROM r)
      SELECT s.user_id, s.hour_id,
        COALESCE(b.n_events, 0) AS n_events,
        last_value(b.hour_value IGNORE NULLS) OVER (
          PARTITION BY s.user_id ORDER BY s.hour_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
      FROM s LEFT JOIN b ON s.user_id = b.user_id AND s.hour_id = b.hour_id
      ORDER BY s.user_id, s.hour_id""")),

    // SCD Type-2: island-compress consecutive equal states, LEAD closes
    // each interval; the point-in-time half of the CDC story (o6 = current)
    QueryDef("o8_scd2", TimeSeries.o8Scd2, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
        event_type FROM events),
      o AS (SELECT user_id, us, MIN_BY(event_type, event_id) AS event_type
            FROM e GROUP BY user_id, us),
      c AS (SELECT *, LAG(event_type) OVER
        (PARTITION BY user_id ORDER BY us) AS prev FROM o),
      k AS (SELECT user_id, event_type, us AS valid_from FROM c
            WHERE event_type IS DISTINCT FROM prev)
      SELECT user_id, event_type, valid_from,
        LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
          AS valid_to
      FROM k ORDER BY user_id, valid_from""")),

    // J12: the oracle is the plain THETA overlap join the engine's
    // day-bucket equi-join must equal pair-for-pair (busy windows are
    // bucket-aligned, so bucket equality == overlap, no dedup).
    QueryDef("j12_interval_join", TimeSeries.j12IntervalJoin, Some(s"""
      WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
        event_type FROM events),
      o AS (SELECT user_id, us, MIN_BY(event_type, event_id) AS event_type
            FROM e GROUP BY user_id, us),
      c AS (SELECT *, LAG(event_type) OVER
        (PARTITION BY user_id ORDER BY us) AS prev FROM o),
      k AS (SELECT user_id, event_type, us AS valid_from FROM c
            WHERE event_type IS DISTINCT FROM prev),
      iv0 AS (SELECT user_id, event_type, valid_from,
        LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
          AS valid_to FROM k),
      h AS (SELECT MAX(us) + 1 AS hz FROM e),
      iv AS (SELECT user_id, event_type, valid_from,
               coalesce(valid_to, hz) AS to_us FROM iv0 CROSS JOIN h),
      busy AS (SELECT us // ${TimeSeries.DayUs} AS day, COUNT(*) AS n_events
               FROM e GROUP BY 1
               ORDER BY n_events DESC, day LIMIT ${TimeSeries.BusyDays})
      SELECT user_id, event_type, valid_from, to_us, day, CAST(n_events AS BIGINT) AS n_events,
        least(to_us, (day + 1) * ${TimeSeries.DayUs})
          - greatest(valid_from, day * ${TimeSeries.DayUs}) AS overlap_us
      FROM iv JOIN busy
        ON valid_from < (day + 1) * ${TimeSeries.DayUs}
       AND day * ${TimeSeries.DayUs} < to_us
      ORDER BY user_id, valid_from, day""")),

    // Data-quality constraint audit: one row per expectation, exact
    // violation counts (scan rules fold per table; FKs are anti-joins)
    QueryDef("s9_constraints", Quality.s9Constraints, Some("""
      SELECT rule, n_violations FROM (
        SELECT 'orders_custkey_not_null' AS rule,
          CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violations FROM orders
        UNION ALL SELECT 'orders_status_in_domain',
          CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders
        UNION ALL SELECT 'orders_totalprice_positive',
          CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders
        UNION ALL SELECT 'lineitem_quantity_in_range',
          CAST(SUM(CASE WHEN l_quantity <= 0.0 OR l_quantity > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
        UNION ALL SELECT 'lineitem_discount_in_range',
          CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
        UNION ALL SELECT 'events_type_in_domain',
          CAST(SUM(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT)
          FROM events
        UNION ALL SELECT 'documents_text_not_empty',
          CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM documents
        UNION ALL SELECT 'orders_orderkey_unique',
          COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
        UNION ALL SELECT 'orders_custkey_fk_customer',
          CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)
        UNION ALL SELECT 'lineitem_orderkey_fk_orders',
          CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey))
      ORDER BY rule""")),

    // S2e: backpressure observability — the REAL DSv2 source drains a
    // fixture-derived backlog under maxOffsetsPerTrigger and the query
    // emits MqAdmission's recorded (backlog, admitted) history. The
    // oracle replays the whole drain — largest-remainder floors,
    // remainder-rank top-ups, the uncapped final batch — as UNROLLED
    // plain CTE stages (one per batch, bound computed from the shared
    // backlog-cap constants), NOT a recursive CTE: window functions
    // inside a recursive term are an engine-version minefield (the r16
    // driver's DuckDB hashed different values than the local 1.0.0 on
    // the recursive form while rows/schema matched), whereas windows in
    // ordinary CTEs are bog-standard SQL every version evaluates alike.
    // Each stage ranks positive-backlog partitions by (remainder DESC,
    // partition) and tops up the first budget−Σfloor (in the capped
    // regime every positive floor is strictly below its backlog, so no
    // top-up is ever skipped — the engine's saturation guard binds only
    // on zero-backlog partitions, which the rank already orders last).
    QueryDef("s2_admission", graft.streaming.Streams.s2Admission, Some {
      val p = graft.streaming.Streams.S2AdmissionPartitions
      val b = graft.streaming.Streams.S2AdmissionBudget
      val base = graft.streaming.Streams.S2AdmissionBase
      val m = graft.streaming.Streams.S2AdmissionMod
      val parts = (0 until p).map(i => s"($i)").mkString(", ")
      // worst-case drain length: every partition at its backlog cap
      // (base + mod − 1), budget rows per batch — the unroll bound is a
      // pure function of the same constants the engine publishes with
      val maxBatches = ((p.toLong * (base + m - 1) + b - 1) / b).toInt
      // DuckDB's sum(BIGINT) OVER () is HUGEINT, which widens total, fl,
      // admitted and every later stage's avail; the final SELECT casts
      // back to the engine's BIGINT so the column types match too.
      // one allocation stage: largest-remainder split of stage i's avail
      // vector (GREATEST guard only bites on the all-drained tail stages,
      // where total = 0 and every branch yields admitted = avail = 0)
      def stage(i: Int): String =
        s"""a$i AS (
        SELECT CAST($i AS BIGINT) AS batch_seq, partition, avail,
          CASE WHEN total <= $b THEN avail
               ELSE fl + CASE WHEN avail > 0 AND rnk <= $b - flsum
                         THEN 1 ELSE 0 END END AS admitted, total
        FROM (
          SELECT *, sum(fl) OVER () AS flsum,
            row_number() OVER (ORDER BY CASE WHEN avail > 0 THEN 0 ELSE 1 END,
                               rem DESC, partition) AS rnk
          FROM (
            SELECT *, avail * $b // GREATEST(total, 1) AS fl,
                      avail * $b % GREATEST(total, 1) AS rem
            FROM (SELECT *, sum(avail) OVER () AS total FROM b$i)))
      ),
      b${i + 1} AS (SELECT partition, avail - admitted AS avail FROM a$i)"""
      val stages = (0 until maxBatches).map(stage).mkString(",\n      ")
      val union = (0 until maxBatches).map(i => s"SELECT * FROM a$i")
        .mkString("\n        UNION ALL ")
      s"""
      WITH b0 AS (
        SELECT pp.partition,
          CAST($base + (COALESCE(c.cnt, 0) % $m) AS BIGINT) AS avail
        FROM (VALUES $parts) pp(partition)
        LEFT JOIN (SELECT CAST(event_id % $p AS INTEGER) AS partition,
                          count(*) AS cnt
                   FROM events GROUP BY 1) c USING (partition)
      ),
      $stages
      SELECT batch_seq, partition, CAST(avail AS BIGINT) AS backlog,
        CAST(admitted AS BIGINT) AS admitted,
        CAST(avail - admitted AS BIGINT) AS deferred
      FROM ($union)
      WHERE total > 0
      ORDER BY batch_seq, partition"""
    }),

    // Rank-sum AUC: exact Mann-Whitney over the tie-broken score order,
    // integer micro-unit ratio — the oracle replays scoring, ranking,
    // and the (2S - P(P+1))*1e6 // 2PN arithmetic in HUGEINT
    QueryDef("m1_auc", Eval.m1Auc, Some("""
      WITH q AS (SELECT embedding::DOUBLE[] AS qe, label AS q_label
                 FROM embeddings WHERE vec_id = 0),
      x AS (SELECT vec_id, (e.label = q.q_label) AS is_pos,
              unnest(e.embedding::DOUBLE[]) AS a, unnest(q.qe) AS b
            FROM embeddings e, q WHERE e.vec_id <> 0),
      d AS (SELECT vec_id, is_pos,
              SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
              SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
              SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
            FROM x GROUP BY ALL),
      s AS (SELECT vec_id, is_pos,
              ROUND(CAST(dot AS DOUBLE) /
                (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS score
            FROM d),
      r AS (SELECT is_pos,
              ROW_NUMBER() OVER (ORDER BY score, vec_id) AS rank FROM s),
      t AS (SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS HUGEINT) AS p,
              CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS HUGEINT) AS n,
              CAST(SUM(CASE WHEN is_pos THEN rank ELSE 0 END) AS HUGEINT) AS s
            FROM r)
      SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        CAST((2*s - p*(p+1)) * 1000000 // NULLIF(2*p*n, 0) AS BIGINT)
          AS auc_micro
      FROM t""")),

    // PageRank: the oracle replays every propagation round as a CTE in
    // lock-step with Graph.DefaultIters — integer micro-unit scores, so
    // each round is bit-exact on both engines
    QueryDef("g1_pagerank", Graph.g1PageRank, Some {
      val tp = (1000L - Graph.DefaultDampingPermille) * Graph.ScoreUnit
      val dp = Graph.DefaultDampingPermille
      val rounds = (1 to Graph.DefaultIters).map { i =>
        s"""s$i AS (SELECT n.node,
             (($tp + $dp * COALESCE(m.mass, 0)) // 1000) AS score
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, SUM(s.score // d.d) AS mass
             FROM edges e JOIN s${i - 1} s ON e.src = s.node
               JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON n.node = m.node)"""
      }.mkString(",\n      ")
      s"""
      WITH flows AS MATERIALIZED (
        SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (
        SELECT s AS src, c AS dst FROM flows
        UNION ALL SELECT c AS src, s AS dst FROM flows),
      deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      s0 AS (SELECT node, ${Graph.ScoreUnit} AS score FROM nodes),
      $rounds
      SELECT node, CAST(score AS BIGINT) AS score FROM s${Graph.DefaultIters}
      ORDER BY score DESC, node LIMIT 20"""
    }),

    // Dangling-aware PageRank: directed supplier→customer flows (every
    // customer a pure sink), per-round dangling mass folded back as a
    // floored uniform share — the oracle replays each round as a CTE
    // with the same BIGINT arithmetic, scalar subqueries for the
    // dangling mass and node count
    QueryDef("g1_pagerank_dangling", Graph.g1PageRankDangling, Some {
      val tp = (1000L - Graph.DefaultDampingPermille) * Graph.ScoreUnit
      val dp = Graph.DefaultDampingPermille
      val rounds = (1 to Graph.DefaultIters).map { i =>
        s"""s$i AS (SELECT n.node, n.dangling,
             (($tp + $dp * (COALESCE(m.mass, 0)
               + (SELECT COALESCE(SUM(score), 0) FROM s${i - 1} WHERE dangling)
                 // (SELECT COUNT(*) FROM nodes))) // 1000) AS score
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, SUM(s.score // d.d) AS mass
             FROM edges e JOIN s${i - 1} s ON e.src = s.node
               JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON n.node = m.node)"""
      }.mkString(",\n      ")
      s"""
      WITH edges AS MATERIALIZED (
        SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      nodes AS MATERIALIZED (
        SELECT node, node NOT IN (SELECT src FROM edges) AS dangling FROM (
          SELECT src AS node FROM edges
          UNION SELECT dst FROM edges)),
      s0 AS (SELECT node, dangling, ${Graph.ScoreUnit} AS score FROM nodes),
      $rounds
      SELECT node, CAST(score AS BIGINT) AS score FROM s${Graph.DefaultIters}
      ORDER BY score DESC, node LIMIT 20"""
    }),

    // Convergence-stop PageRank: the oracle replays DeclaredPrMaxIters
    // rounds as MATERIALIZED CTEs (each round frame is consumed three
    // times: next round, its delta, the tagged union), computes every
    // round's max |Δscore| against its predecessor, and selects the
    // stop round with the engine's own rule — first round whose delta
    // is ≤ ε, cap if none. Integer micro-unit arithmetic makes each
    // round bit-exact on both engines, so the dynamically-selected
    // stop round (and the rounds column) match exactly.
    QueryDef("g1_pagerank_conv", Graph.g1PageRankConverged, Some {
      val tp = (1000L - Graph.DefaultDampingPermille) * Graph.ScoreUnit
      val dp = Graph.DefaultDampingPermille
      val cap = Graph.DeclaredPrMaxIters
      val eps = Graph.DeclaredPrEpsMicro
      val rounds = (1 to cap).map { i =>
        s"""s$i AS MATERIALIZED (SELECT n.node,
             (($tp + $dp * COALESCE(m.mass, 0)) // 1000) AS score
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, SUM(s.score // d.d) AS mass
             FROM edges e JOIN s${i - 1} s ON e.src = s.node
               JOIN deg d ON d.src = e.src
             GROUP BY e.dst) m ON n.node = m.node)"""
      }.mkString(",\n      ")
      val deltas = (1 to cap).map { i =>
        s"""SELECT $i AS r, (SELECT MAX(ABS(a.score - b.score))
             FROM s$i a JOIN s${i - 1} b ON a.node = b.node) AS delta"""
      }.mkString("\n        UNION ALL ")
      val tagged = (1 to cap)
        .map(i => s"SELECT $i AS r, node, score FROM s$i")
        .mkString("\n        UNION ALL ")
      s"""
      WITH flows AS MATERIALIZED (
        SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (
        SELECT s AS src, c AS dst FROM flows
        UNION ALL SELECT c AS src, s AS dst FROM flows),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      s0 AS MATERIALIZED (SELECT node, ${Graph.ScoreUnit} AS score FROM nodes),
      $rounds,
      deltas AS ($deltas),
      stop AS (SELECT COALESCE(MIN(r), $cap) AS r FROM deltas WHERE delta <= $eps)
      SELECT node, CAST(score AS BIGINT) AS score,
        CAST((SELECT r FROM stop) AS INT) AS rounds
      FROM ($tagged) WHERE r = (SELECT r FROM stop)
      ORDER BY score DESC, node LIMIT 20"""
    }),

    // Label propagation: the oracle replays every synchronous round as a
    // CTE — per-round winner = most-voted neighbor label with smallest-
    // label tie-break (ROW_NUMBER over (cnt DESC, label) == the engine's
    // min_by over struct(−cnt, label)), so each round is a deterministic
    // function of the last and the replay is exact
    QueryDef("g3_label_prop", Graph.g3LabelProp, Some {
      val rounds = (1 to Graph.DefaultLpaIters).map { i =>
        s"""l$i AS (SELECT node, label FROM (
             SELECT e.dst AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                 ORDER BY COUNT(*) DESC, l.label) AS rn
             FROM edges e JOIN l${i - 1} l ON e.src = l.node
             GROUP BY e.dst, l.label) WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""
      WITH flows AS MATERIALIZED (
        SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS MATERIALIZED (
        SELECT s AS src, c AS dst FROM flows
        UNION ALL SELECT c AS src, s AS dst FROM flows),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
      $rounds
      SELECT node, CAST(label AS BIGINT) AS community
      FROM l${Graph.DefaultLpaIters} ORDER BY node"""
    }),

    // Triangle census: the oracle replays the SAME degree orientation —
    // wedge/closure algebra is exact integers, so one canonical answer
    QueryDef("g2_triangles", Graph.g2Triangles, Some("""
      WITH und AS MATERIALIZED (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        WHERE l1.l_partkey < l2.l_partkey),
      deg AS (SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
      o AS (SELECT CASE WHEN (ta.d, a) < (tb.d, b) THEN a ELSE b END AS src,
                   CASE WHEN (ta.d, a) < (tb.d, b) THEN b ELSE a END AS dst
            FROM und
              JOIN deg ta ON ta.v = und.a JOIN deg tb ON tb.v = und.b),
      w AS (SELECT o1.src, o1.dst AS x, o2.dst AS y
            FROM o o1 JOIN o o2 ON o1.src = o2.src WHERE o1.dst < o2.dst),
      t AS (SELECT COUNT(*) AS n_triangles
            FROM w JOIN und ON w.x = und.a AND w.y = und.b)
      SELECT (SELECT COUNT(*) FROM und) AS n_edges,
        (SELECT CAST(SUM(d * (d-1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        n_triangles,
        CAST(3 * n_triangles * 1000 //
          NULLIF((SELECT SUM(d * (d-1) // 2) FROM deg), 0) AS BIGINT)
          AS cc_permille
      FROM t""")),

    // Point-in-time read: SCD2 dimension + ASOF on interval starts (the
    // feature-store join); DuckDB replays the dimension build as CTEs and
    // the read as a native ASOF LEFT JOIN
    QueryDef("j11_pit", TimeSeries.j11Pit, Some("""
      WITH e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id,
        event_type FROM events),
      c AS (SELECT user_id, us, MIN_BY(event_type, event_id) AS event_type
            FROM e WHERE event_type <> 'purchase' GROUP BY user_id, us),
      l AS (SELECT *, LAG(event_type) OVER
        (PARTITION BY user_id ORDER BY us) AS prev FROM c),
      k AS (SELECT user_id, event_type, us AS valid_from FROM l
            WHERE event_type IS DISTINCT FROM prev),
      p AS (SELECT user_id, us, event_id FROM e WHERE event_type = 'purchase')
      SELECT p.user_id, p.event_id AS purchase_id, p.us AS purchase_ts_us,
        k.event_type AS state
      FROM p ASOF LEFT JOIN k
        ON p.user_id = k.user_id AND p.us >= k.valid_from
      ORDER BY p.user_id, purchase_id""")),

    // Fuzzy (edit-distance) match table: DISTINCT names collapse before
    // the blocked quadratic stage; oracle replays block + threshold on
    // canonical name<name pairs (the Spark-side chunk salting changes the
    // plan, not the pair set)
    QueryDef("j10_fuzzy_join", Fuzzy.j10FuzzyJoin, Some("""
      WITH names AS (SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name)
      SELECT a.p_name AS name_1, b.p_name AS name_2,
        a.n_parts AS n_parts_1, b.n_parts AS n_parts_2,
        CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM names a JOIN names b ON a.p_name < b.p_name
        AND regexp_extract(a.p_name, '[^ ]+$') = regexp_extract(b.p_name, '[^ ]+$')
      WHERE levenshtein(a.p_name, b.p_name) <= 4
      ORDER BY name_1, name_2""")),
  )

  /** L1–L6 (SURVEY.md §2.9): LLM-data-pipeline operators. */
  val llm: Seq[QueryDef] = {
    // LSH geometry shared with the operator defaults (ADVICE r3: a default
    // change must not silently drift the oracle out from under the query).
    val bands = Dedup.DefaultBands
    val rowsPerBand = Dedup.DefaultRowsPerBand
    val tau = Dedup.DefaultThreshold
    // MinHash signature columns, generated in lock-step on both sides:
    // one keyed md5 supplies TWO signatures, its 16-hex halves —
    // sig_2j = min of md5("j:" ‖ token)[1..16] (min-of-prefixes =
    // prefix-of-min, so it wraps the list_min), sig_2j+1 = min of
    // [17..32] suffixes (not monotone, so the substr sits inside the
    // transform). Mirrors Dedup.minhashSigsFromArrays exactly.
    def sigSql(i: Int, toksExpr: String): String = {
      val h = s"md5('${i / 2}:' || t)"
      if (i % 2 == 0)
        s"substr(list_min(list_transform($toksExpr, t -> $h)), 1, 16)"
      else
        s"list_min(list_transform($toksExpr, t -> substr($h, 17, 16)))"
    }
    val sigCols = (0 until bands * rowsPerBand).map { i =>
      f"${sigSql(i, "string_split(text, ' ')")} AS sig_$i%02d"
    }.mkString(", ")
    // Exact-decimal cosine scaffold shared by both L3 oracles (Det.dsum
    // discipline: float→double widening is exact, per-product DECIMAL cast
    // makes the sum order-independent, final round at 6 dp).
    def cosineSql(src: String, extraCols: String, where: String = ""): String = s"""
      WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM ($src) WHERE vec_id = 0),
      x AS (SELECT vec_id, label$extraCols, unnest(embedding::DOUBLE[]) AS a, unnest(qe) AS b FROM ($src), q $where),
      d AS (SELECT vec_id, label$extraCols,
              SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
              SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
              SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
            FROM x GROUP BY ALL)
      SELECT vec_id, label$extraCols,
        ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
      FROM d ORDER BY cosine DESC, vec_id LIMIT 10"""
    val bucketSql = (0 until 6)
      .map(i => s"${1 << i}*(embedding[${i + 1}]>0)::INT").mkString(" + ")
    // BPE training replay: v0 = the character-symbol state of the word
    // vocabulary (weight = corpus word count); each round k counts
    // adjacent pairs, takes the (count desc, l, r) argmax, and applies it
    // greedily leftmost-first (run-grouped parity over the match
    // positions — the same set-wise formulation TextOps.bpeApplyPair
    // executes). Lock-step with TextOps.bpeTrain.
    val bpeCteSql: String = {
      def round(k: Int): String = s"""
        n$k AS (SELECT word, n_word, pos, sym,
                  LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
                FROM v${k - 1}),
        c$k AS (SELECT sym AS l, nxt AS r, SUM(n_word) AS n FROM n$k
                WHERE nxt IS NOT NULL GROUP BY sym, nxt),
        b$k AS (SELECT l, r, n FROM c$k ORDER BY n DESC, l, r LIMIT 1),
        h$k AS (SELECT word, pos FROM n$k
                WHERE sym = (SELECT l FROM b$k) AND nxt = (SELECT r FROM b$k)),
        s$k AS (SELECT word, pos FROM (
                 SELECT word, pos, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS idx
                 FROM (SELECT word, pos,
                         pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
                       FROM h$k))
                WHERE idx % 2 = 1),
        v$k AS (SELECT word, n_word,
                  ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
                  CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
                FROM (SELECT n.word, n.n_word, n.pos, n.sym, n.nxt,
                        (se.pos IS NOT NULL) AS sel, (dr.pos IS NOT NULL) AS dropped
                      FROM n$k n
                      LEFT JOIN s$k se ON n.word = se.word AND n.pos = se.pos
                      LEFT JOIN s$k dr ON n.word = dr.word AND n.pos = dr.pos + 1)
                WHERE NOT dropped)"""
      s"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        vocab AS (SELECT word, COUNT(*) AS n_word FROM w GROUP BY word),
        v0 AS (SELECT word, n_word, pos, substr(word, pos, 1) AS sym FROM (
                 SELECT word, n_word,
                   CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos
                 FROM vocab)),
        ${(1 to TextOps.BpeTrainRounds).map(round).mkString(",\n        ")}"""
    }
    def stopFilter(words: Seq[String]): String =
      s"len(list_filter(t, x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"
    // Shared BM25 per-(doc, token) frame (lock-step replay of
    // TextOps.bm25Frame) — the l4_bm25 declared query adds its ORDER BY,
    // l4_bm25_search wraps it as a subquery and aggregates.
    val bm25BodySql = """
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        terms AS (SELECT doc_id, CAST(len(t) AS INT) AS dl, unnest(t) AS token FROM s),
        tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM terms GROUP BY ALL),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        n AS (SELECT COUNT(*) AS n_docs_total,
                     CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
              FROM documents)
        SELECT doc_id, token, tf, dl, df,
          ROUND(
            ROUND(ln(1.0 + (n_docs_total::DOUBLE - df + 0.5) / (df + 0.5)), 6)
            * tf::DOUBLE * 2.2
            / (tf::DOUBLE + 1.2 * (1.0 - 0.75
                 + 0.75 * dl::DOUBLE / (sum_dl::DOUBLE / n_docs_total))), 6) AS bm25
        FROM tf JOIN df USING (token) CROSS JOIN n"""
    // DuckDB replay of Dedup.simJoin downstream of any tokset CTE (the
    // word-bag and n-gram variants differ only in `toksetSelect`, which
    // must yield (doc_id, toks LIST<VARCHAR>) with toks already distinct).
    // Split into a CTE body (ending at `pairs`) + final select so the
    // cluster-collapse oracle can build on the same pair graph.
    def simJoinCtes(toksetSelect: String): String = {
      def sig(i: Int) = sigSql(i, "toks")
      val bandHashes = (0 until bands).map { b =>
        val rows = (0 until rowsPerBand).map(r => sig(b * rowsPerBand + r))
        s"md5(${rows.mkString(" || '|' || ")})"
      }.mkString(",\n            ")
      val bandIdx = (0 until bands).mkString("[", ",", "]")
      s"""
        WITH tokset AS ($toksetSelect),
        keyed AS (
          SELECT doc_id, toks,
            md5(array_to_string(list_sort(list_transform(toks, t -> md5(t))), '|')) AS set_sig
          FROM tokset),
        grp AS (
          SELECT set_sig, MIN(doc_id) AS rep_id, list(doc_id) AS members,
            arg_min(toks, doc_id) AS toks
          FROM keyed GROUP BY set_sig),
        sigs AS (
          SELECT rep_id, len(toks) AS n,
            [$bandHashes] AS bands
          FROM grp),
        b AS (
          SELECT rep_id, n, unnest(bands) AS band_hash,
            unnest($bandIdx) AS band_idx
          FROM sigs),
        cand AS (
          SELECT DISTINCT x.rep_id AS rep_a, y.rep_id AS rep_b
          FROM b x JOIN b y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
            AND x.rep_id < y.rep_id
          WHERE least(x.n, y.n)::DOUBLE >= greatest(x.n, y.n) * $tau - 1e-9),
        ver AS (
          SELECT rep_a, rep_b,
            len(list_intersect(ga.toks, gb.toks)) AS i,
            len(ga.toks) + len(gb.toks) - len(list_intersect(ga.toks, gb.toks)) AS u
          FROM cand JOIN grp ga ON ga.rep_id = rep_a JOIN grp gb ON gb.rep_id = rep_b),
        vpass AS (SELECT * FROM ver WHERE i::DOUBLE / u >= $tau),
        mem AS (SELECT rep_id, unnest(members) AS doc_id FROM grp),
        pairs AS (
          SELECT least(ma.doc_id, mb.doc_id) AS a_id,
            greatest(ma.doc_id, mb.doc_id) AS b_id, i, u
          FROM vpass JOIN mem ma ON ma.rep_id = rep_a JOIN mem mb ON mb.rep_id = rep_b
          UNION ALL
          SELECT ma.doc_id, mb.doc_id, 1, 1
          FROM mem ma JOIN mem mb ON ma.rep_id = mb.rep_id AND ma.doc_id < mb.doc_id)"""
    }
    def simJoinOracle(toksetSelect: String): String = s"""
        ${simJoinCtes(toksetSelect)}
        SELECT a_id, b_id,
          CAST((20000 * i + u) // (2 * u) AS DOUBLE) / 10000.0 AS jaccard
        FROM pairs ORDER BY a_id, b_id"""
    val wordBagTokset =
      "SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents"
    // Full cluster-collapse chain (shared by l6_dedup_docs and
    // l8_cluster_sample): the simJoin CTE body, the materialized rep edge
    // list, DefaultCcIters min-label propagation rounds, and the
    // member-expanded (doc_id, cluster_rep) frame.
    val ccChainSql = {
      val rounds = (1 to Dedup.DefaultCcIters).map { k =>
        s"""lab$k AS (
          SELECT l.doc_id, least(l.label, coalesce(MIN(n.label), l.label)) AS label
          FROM lab${k - 1} l
          LEFT JOIN edges e ON e.src = l.doc_id
          LEFT JOIN lab${k - 1} n ON n.doc_id = e.dst
          GROUP BY l.doc_id, l.label)"""
      }.mkString(",\n        ")
      s"""
        ${simJoinCtes(wordBagTokset)},
        -- MATERIALIZED: each propagation round references edges; inlined,
        -- DuckDB would re-execute the rep-verify pipeline per round
        edges AS MATERIALIZED (SELECT rep_a AS src, rep_b AS dst FROM vpass
                  UNION ALL SELECT rep_b AS src, rep_a AS dst FROM vpass),
        lab0 AS (SELECT rep_id AS doc_id, rep_id AS label FROM grp),
        $rounds,
        labels AS (SELECT m.doc_id, l.label AS cluster_rep
                   FROM mem m JOIN lab${Dedup.DefaultCcIters} l ON l.doc_id = m.rep_id)"""
    }
    // Shared k-means + full-corpus assignment CTE chain (exact-decimal
    // Lloyd rounds from the deterministic slice init, HALF_UP 9-dp
    // re-center with the +1024 offset, argmin assignment tie-broken on
    // cid) — the lock-step twin of Similarity.trainedCentroids +
    // exact-dist2 assignment, consumed by BOTH the IVF probe oracle and
    // the semantic-dedup oracle. Defines CTEs: c0, v, tv, the per-round
    // chains, pr, a2 (per-(vec, cid) d2), cell (final assignment).
    // `nCellsSql` is the cell count as a SQL expression: the IVF probe
    // pins the literal IvfCells; semantic dedup derives it from the
    // corpus size (Similarity.semCellsFor as a scalar subquery), so the
    // oracle trains exactly as many centroids as the engine at any sf.
    def kmAssignCtes(nCellsSql: String): String = {
      val rounds = (1 to Similarity.KmIters).map { k =>
        s"""pr$k AS (SELECT v.vec_id, c.cid, unnest(v.e) AS x, unnest(c.ce) AS y FROM tv v, c${k - 1} c),
        a2x$k AS (SELECT vec_id, cid, SUM(CAST((x-y)*(x-y) AS DECIMAL(30,15))) AS d2
               FROM pr$k GROUP BY vec_id, cid),
        cel$k AS (SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM a2x$k) WHERE rn = 1),
        mem$k AS (SELECT cell, unnest(e) AS x, generate_subscripts(e, 1) AS pos
               FROM tv JOIN cel$k USING (vec_id)),
        dim$k AS (SELECT cell, pos,
            CAST((CAST(SUM(CAST(x + 1024 AS DECIMAL(30,15))) * 2000000000000000 AS HUGEINT)
                  + COUNT(*) * 1000000) // (COUNT(*) * 2000000) AS DOUBLE) / 1000000000.0
              - 1024 AS cx
          FROM mem$k GROUP BY cell, pos),
        c$k AS (SELECT cell AS cid, list(cx ORDER BY pos) AS ce FROM dim$k GROUP BY cell)"""
      }.mkString(",\n        ")
      val cf = s"c${Similarity.KmIters}"
      s"""c0 AS (SELECT vec_id // ${Similarity.KmTrainMod} AS cid,
                     embedding::DOUBLE[] AS ce FROM embeddings
                   WHERE vec_id % ${Similarity.KmTrainMod} = 0
                     AND vec_id < ($nCellsSql) * ${Similarity.KmTrainMod}),
        v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        tv AS (SELECT * FROM v WHERE vec_id % ${Similarity.KmTrainMod} = 0),
        $rounds,
        pr AS (SELECT v.vec_id, c.cid, unnest(v.e) AS x, unnest(c.ce) AS y FROM v, $cf c),
        a2 AS (SELECT vec_id, cid, SUM(CAST((x-y)*(x-y) AS DECIMAL(30,15))) AS d2
               FROM pr GROUP BY vec_id, cid),
        cell AS (SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM a2) WHERE rn = 1)"""
    }

    // Naive-Bayes train + score replay, shared by the declared classifier
    // query and BOTH M7 eval queries — class-conditional token counts,
    // ONE snapped ln per vocabulary row (the l4_unigram_lm / m4_drift
    // transcendental discipline), integer micro-nat doc sums, identical
    // add-one smoothing constants injected from TextOps. Ends in a
    // `scored` CTE: (doc_id, n_tokens, is_ref, score_micro,
    // predicted_ref) — zero-token docs absent on both engines (no tf
    // rows), the fused nbQualityScore contract.
    def nbScoredCtes: String = {
      val refs = TextOps.NbRefSources.map(s => s"'$s'").mkString(", ")
      s"""cls AS (SELECT doc_id, COALESCE(source IN ($refs), FALSE) AS is_ref
                     FROM documents),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY ALL),
        cnt AS (SELECT token,
                  SUM(CASE WHEN is_ref THEN tf ELSE 0 END) AS c_pos,
                  SUM(CASE WHEN NOT is_ref THEN tf ELSE 0 END) AS c_neg
                FROM tf JOIN cls USING (doc_id) GROUP BY token),
        scal AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg, COUNT(*) AS v FROM cnt),
        nd AS (SELECT SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_pos,
                 SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_neg FROM cls),
        w AS (SELECT token,
                CAST(ROUND(ln(((c_pos + 1) * (t_neg + v))::DOUBLE /
                  ((c_neg + 1) * (t_pos + v))) * 1e6) AS BIGINT) AS w_micro
              FROM cnt CROSS JOIN scal),
        pri AS (SELECT CAST(ROUND(ln(n_pos::DOUBLE / n_neg) * 1e6) AS BIGINT)
                  AS prior_micro FROM nd),
        agg AS (SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * w_micro) AS s_micro
                FROM tf JOIN w USING (token) GROUP BY doc_id),
        scored AS (SELECT a.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, cls.is_ref,
            CAST(prior_micro + s_micro AS BIGINT) AS score_micro,
            (prior_micro + s_micro) > 0 AS predicted_ref
          FROM agg a JOIN cls USING (doc_id) CROSS JOIN pri)"""
    }

    Seq(
      QueryDef("l1_exact_dedup", Dedup.l1ExactDedup, Some("""
        SELECT MIN(doc_id) AS keeper_id, sha256(text) AS content_sha, COUNT(*) AS n_copies
        FROM documents GROUP BY sha256(text) ORDER BY keeper_id""")),

      // Cross-doc duplicated-span coverage: the oracle replays the span
      // construction (1-based inclusive list slices == Spark slice), the
      // dup filter, and the SAME lag-window interval merge; coverage is
      // exact integer permille. generate_series(1, 0) and Spark's guarded
      // empty array agree that short docs have no spans.
      QueryDef("l1_dupspans", Dedup.l1DupSpans, Some(s"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sp AS (SELECT doc_id, i AS p,
                 array_to_string(t[i : i + ${Dedup.DupSpanN - 1}], ' ') AS span
               FROM s, UNNEST(generate_series(1, len(t) - ${Dedup.DupSpanN - 1})) AS u(i)),
        c AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) > 1),
        d AS (SELECT sp.doc_id, least(${Dedup.DupSpanN},
                 coalesce(sp.p - lag(sp.p) OVER (PARTITION BY sp.doc_id ORDER BY sp.p),
                   ${Dedup.DupSpanN})) AS add
              FROM sp JOIN c USING (span)),
        cov AS (SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(add) AS covered FROM d GROUP BY doc_id)
        SELECT s.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
          CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
          CAST(CASE WHEN len(t) > 0 THEN coalesce(covered, 0) * 1000 // len(t) ELSE 0 END AS BIGINT)
            AS dup_coverage_permille,
          CASE WHEN len(t) > 0 THEN coalesce(covered, 0) * 1000 // len(t) ELSE 0 END
            <= ${Dedup.DupSpanMaxCoveragePermille} AS keep
        FROM s LEFT JOIN cov USING (doc_id) ORDER BY s.doc_id""")),

      // ExactSubstr removal (Lee et al. 2022): the oracle replays span
      // construction over the TRUE strings (the engine keys on the
      // 128-bit two-lane xxhash64 struct — a real collision would
      // surface as a hash-gate mismatch, same contract as l1_dupspans),
      // first-occurrence selection by
      // (doc_id, p), the covered-position union, and the token-level
      // rewrite via ordered string_agg.
      QueryDef("l1_substr_dedup", Dedup.l1SubstrDedup, Some(s"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sp AS (SELECT doc_id, i AS p,
                 array_to_string(t[i : i + ${Dedup.DupSpanN - 1}], ' ') AS span
               FROM s, UNNEST(generate_series(1, len(t) - ${Dedup.DupSpanN - 1})) AS u(i)),
        c AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) > 1),
        occ AS (SELECT sp.doc_id, sp.p,
                  ROW_NUMBER() OVER (PARTITION BY span ORDER BY sp.doc_id, sp.p) AS rn
                FROM sp JOIN c USING (span)),
        pos AS (SELECT DISTINCT doc_id, p + u.k AS q
                FROM occ, UNNEST(generate_series(0, ${Dedup.DupSpanN - 1})) AS u(k)
                WHERE rn > 1),
        tok AS (SELECT doc_id, i, t[i] AS tok
                FROM s, UNNEST(generate_series(1, len(t))) AS u(i)),
        kept AS (SELECT tok.doc_id, tok.i, tok.tok
                 FROM tok LEFT JOIN pos ON tok.doc_id = pos.doc_id AND tok.i = pos.q
                 WHERE pos.q IS NULL),
        clean AS (SELECT doc_id, COUNT(*) AS n_kept,
                    string_agg(tok, ' ' ORDER BY i) AS text_clean
                  FROM kept GROUP BY doc_id)
        SELECT s.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          CAST(len(t) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
          COALESCE(text_clean, '') AS text_clean
        FROM s LEFT JOIN clean USING (doc_id) ORDER BY s.doc_id""")),

      // ExactSubstr FIXPOINT (Lee et al. 2022 full semantics): the
      // oracle replays ALL SubstrDedupMaxRounds re-tokenizing passes as
      // a CTE chain — no recursion needed, a quiet pass is a fixpoint
      // (rewriting unchanged text stays unchanged), so unconditionally
      // replaying the cap's worth of passes lands on exactly the text
      // the engine's early stop returns, at ANY scale. Per-doc removals
      // are accumulated pass by pass (a final re-tokenize diff would
      // undercount fully-removed docs: '' re-splits to one empty
      // token); the rounds column counts passes that removed anything
      // anywhere — the engine's effectiveRounds.
      QueryDef("l1_substr_dedup_fix", Dedup.l1SubstrDedupFix, Some {
        val n = Dedup.DupSpanN
        val cap = Dedup.SubstrDedupMaxRounds
        val passes = (1 to cap).map { r =>
          s"""s$r AS MATERIALIZED (
             SELECT doc_id, string_split(text, ' ') AS t FROM txt${r - 1}),
          sp$r AS (SELECT doc_id, i AS p,
                   array_to_string(t[i : i + ${n - 1}], ' ') AS span
                 FROM s$r, UNNEST(generate_series(1, len(t) - ${n - 1})) AS u(i)),
          c$r AS (SELECT span FROM sp$r GROUP BY span HAVING COUNT(*) > 1),
          occ$r AS (SELECT sp$r.doc_id, sp$r.p,
                    ROW_NUMBER() OVER (PARTITION BY span
                      ORDER BY sp$r.doc_id, sp$r.p) AS rn
                  FROM sp$r JOIN c$r USING (span)),
          pos$r AS (SELECT DISTINCT doc_id, p + u.k AS q
                  FROM occ$r, UNNEST(generate_series(0, ${n - 1})) AS u(k)
                  WHERE rn > 1),
          tok$r AS (SELECT doc_id, i, t[i] AS tok
                  FROM s$r, UNNEST(generate_series(1, len(t))) AS u(i)),
          kept$r AS (SELECT tok$r.doc_id, tok$r.i, tok$r.tok
                   FROM tok$r LEFT JOIN pos$r
                     ON tok$r.doc_id = pos$r.doc_id AND tok$r.i = pos$r.q
                   WHERE pos$r.q IS NULL),
          clean$r AS (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(tok, ' ' ORDER BY i) AS text_clean
                    FROM kept$r GROUP BY doc_id),
          txt$r AS MATERIALIZED (
             SELECT s$r.doc_id, COALESCE(text_clean, '') AS text,
               len(t) - COALESCE(n_kept, 0) AS removed
             FROM s$r LEFT JOIN clean$r USING (doc_id))"""
        }.mkString(",\n          ")
        val eff = (1 to cap).map { r =>
          s"CASE WHEN (SELECT SUM(removed) FROM txt$r) > 0 THEN 1 ELSE 0 END"
        }.mkString(" + ")
        val joins = (1 to cap)
          .map(r => s"JOIN txt$r p$r ON o.doc_id = p$r.doc_id")
          .mkString("\n          ")
        val removedSum = (1 to cap).map(r => s"p$r.removed").mkString(" + ")
        s"""
        WITH txt0 AS MATERIALIZED (SELECT doc_id, text FROM documents),
        orig AS (SELECT doc_id, len(string_split(text, ' ')) AS n0
                 FROM documents),
        $passes,
        eff AS (SELECT $eff AS rounds)
        SELECT o.doc_id, CAST(o.n0 AS BIGINT) AS n_tokens,
          CAST($removedSum AS BIGINT) AS n_removed,
          CAST((SELECT rounds FROM eff) AS INT) AS rounds,
          p$cap.text AS text_clean
        FROM orig o
          $joins
        ORDER BY o.doc_id"""
      }),

      QueryDef("l2_minhash", Dedup.l2Minhash, Some(s"""
        SELECT doc_id, $sigCols FROM documents ORDER BY doc_id""")),

      // Production signature family (xxhash64): DuckDB cannot replay
      // Spark's xxhash64 VALUES, but the structural contract — every doc
      // yields a complete width-w signature with no null slots — is
      // oracle-checkable (tokens = split(text,' ') is never empty, so
      // every min is over a non-empty set). The declared form emits that
      // contract (Dedup.l2MinhashFastChecked, which still materializes
      // the full signature matrix in-plan); value semantics stay pinned
      // in PropertiesSpec and the md5 twin l2_minhash keeps the
      // value-exact oracle.
      QueryDef("l2_minhash_fast", Dedup.l2MinhashFastChecked, Some(s"""
        SELECT doc_id,
          CAST(${Dedup.DefaultBands * Dedup.DefaultRowsPerBand} AS BIGINT) AS n_hashes,
          TRUE AS sig_complete
        FROM documents ORDER BY doc_id""")),

      QueryDef("l2_simhash", Dedup.l2Simhash, Some {
        val votes = (0 until 32).map { i =>
          s"SUM(CASE WHEN substr(md5(tok), ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_$i"
        }.mkString(", ")
        val assemble = (0 until 32)
          .map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
        s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id)
        SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM v ORDER BY doc_id"""
      }),

      // Lock-step replay of Dedup.simJoin at its shared defaults
      // (DefaultBands × DefaultRowsPerBand, τ = DefaultThreshold): same
      // keyed-md5 minhash family as l2_minhash, banded candidates, same
      // conservative size prune, exact-Jaccard verify on int
      // intersection/union sizes, integer HALF_UP rounding at 4 dp.
      // Parameterized on the tokset CTE so the word-bag and n-gram-shingle
      // variants share every downstream stage.
      QueryDef("l6_simjoin", Dedup.l6SimJoin, Some(simJoinOracle(wordBagTokset))),

      // L7: cluster collapse — lock-step replay of Dedup.l6DedupDocs:
      // same verified REP pair graph (shared CTE body up to `vpass`), then
      // exactly DefaultCcIters rounds of min-label propagation over the
      // rep graph (label := min(own, neighbours')), one CTE per round so
      // the SQL is a round-for-round twin of the Spark loop, then a single
      // member-expansion join after convergence — never the member-expanded
      // pair list through the rounds (`pairs` is an unreferenced CTE here
      // and DuckDB never evaluates it).
      QueryDef("l6_dedup_docs", Dedup.l6DedupDocs, Some(s"""
        $ccChainSql
        SELECT doc_id, cluster_rep, doc_id = cluster_rep AS kept
        FROM labels ORDER BY doc_id""")),

      // L7b: quality-aware survivor selection over the SAME clustering —
      // per cluster keep the lowest-NLL member (ties by doc_id), with
      // the unigram-NLL chain replayed beside the cluster chain.
      QueryDef("l6_dedup_best", Dedup.l6DedupBest, Some(s"""
        $ccChainSql,
        qtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        qtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtoks GROUP BY ALL),
        qcnt AS (SELECT token, SUM(tf) AS cnt FROM qtf GROUP BY token),
        qtot AS (SELECT SUM(cnt) AS t_total FROM qcnt),
        qnll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                 FROM qcnt CROSS JOIN qtot),
        qdoc AS (SELECT doc_id,
                   (2 * SUM(tf * nll_micro) + SUM(tf)) // (2 * SUM(tf)) AS nll_micro
                 FROM qtf JOIN qnll USING (token) GROUP BY doc_id),
        br AS (SELECT l.cluster_rep, d.doc_id, d.nll_micro,
                 ROW_NUMBER() OVER (PARTITION BY l.cluster_rep
                   ORDER BY d.nll_micro, d.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY l.cluster_rep) AS cluster_size
               FROM labels l JOIN qdoc d USING (doc_id))
        SELECT cluster_rep, doc_id AS best_id,
          CAST(nll_micro AS BIGINT) AS best_nll_micro,
          CAST(cluster_size AS BIGINT) AS cluster_size
        FROM br WHERE rn = 1 ORDER BY cluster_rep""")),

      // L8h: unbiased per-cluster representative sampling over the SAME
      // clustering — seeded-hash rank replayed token-for-token.
      QueryDef("l8_cluster_sample", Curation.l8ClusterSample, Some(s"""
        $ccChainSql,
        sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size
               FROM labels GROUP BY cluster_rep),
        rk AS (SELECT doc_id, cluster_rep,
                 ROW_NUMBER() OVER (PARTITION BY cluster_rep
                   ORDER BY md5('${Curation.ClusterSampleSeed}|' || doc_id), doc_id) AS rk
               FROM labels)
        SELECT r.doc_id, r.cluster_rep, CAST(s.cluster_size AS BIGINT) AS cluster_size,
          r.rk <= 1 AS sampled
        FROM rk r JOIN sz s USING (cluster_rep) ORDER BY r.doc_id""")),

      // n-gram Jaccard: same pipeline over word 3-gram shingles (DuckDB
      // range() is empty once its stop bound falls to 1, so short docs yield []
      // exactly like the guarded Spark shingles()).
      QueryDef("l6_ngram_simjoin", Dedup.l6NgramSimJoin, Some(simJoinOracle {
        val n = Dedup.DefaultShingleN
        val parts = (0 until n).map(j => s"t[i+$j]").mkString(" || ' ' || ")
        s"""SELECT doc_id, list_distinct([$parts for i in range(1, len(t) - ${n - 2})]) AS toks
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)"""
      })),

      QueryDef("l3_cosine_topk", Similarity.l3CosineTopK,
        Some(cosineSql("SELECT * FROM embeddings", ""))),

      // Batched exact top-k: one corpus pass scores all three queries;
      // the oracle replays the same cosine algebra per (query, vector)
      // and ranks inside each query partition (the oracle-side window is
      // fine — DuckDB ranks a fixture-sized frame; the ENGINE avoids the
      // per-query window via offset-localized distributedRank).
      QueryDef("l3_batch_topk", Similarity.l3BatchTopK, Some(s"""
        WITH fv AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM fv
              WHERE vec_id IN (${Similarity.BatchQueryIds.mkString(", ")})),
        u AS (SELECT q.query_id, fv.vec_id, fv.label,
                unnest(fv.e) AS a, unnest(q.qe) AS b
              FROM fv, q),
        d AS (SELECT query_id, vec_id, label,
                SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY ALL),
        c AS (SELECT query_id, vec_id, label,
                ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
              FROM d),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
              FROM c)
        SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, label, cosine
        FROM r WHERE rn <= 10 ORDER BY query_id, rnk""")),

      // Filtered vector search: same batch-cosine replay restricted to
      // the label predicate on the CANDIDATE side only (query vectors
      // come from the unfiltered corpus).
      QueryDef("l3_filtered_topk", Similarity.l3FilteredTopK, Some(s"""
        WITH fv AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qe FROM fv
              WHERE vec_id IN (${Similarity.BatchQueryIds.mkString(", ")})),
        u AS (SELECT q.query_id, fv.vec_id, fv.label,
                unnest(fv.e) AS a, unnest(q.qe) AS b
              FROM fv, q WHERE fv.label = ${Similarity.FilteredLabel}),
        d AS (SELECT query_id, vec_id, label,
                SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY ALL),
        c AS (SELECT query_id, vec_id, label,
                ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
              FROM d),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
              FROM c)
        SELECT query_id, CAST(rn AS INT) AS rnk, vec_id, label, cosine
        FROM r WHERE rn <= 10 ORDER BY query_id, rnk""")),

      QueryDef("l3_ann_bucket", Similarity.l3AnnBucket,
        Some(cosineSql(
          s"SELECT vec_id, label, embedding, CAST($bucketSql AS INT) AS bucket FROM embeddings",
          ", bucket",
          // restrict the scan to the query vector's bucket, like the Spark plan
          s"WHERE bucket = (SELECT CAST($bucketSql AS INT) FROM embeddings WHERE vec_id = 0)"))),

      QueryDef("l3_ann_multiprobe", Similarity.l3AnnMultiProbe,
        Some(cosineSql(
          s"SELECT vec_id, label, embedding, CAST($bucketSql AS INT) AS bucket FROM embeddings",
          ", bucket",
          // probe = query bucket plus every Hamming-1 neighbor (one bit
          // XOR-flipped), like the Spark probe-set broadcast
          s"""WHERE xor(bucket, (SELECT CAST($bucketSql AS INT) FROM embeddings WHERE vec_id = 0))
              IN (${(0 +: (0 until 6).map(1 << _)).mkString(", ")})"""))),

      // Recall@k of the bucketed ANN vs the exact rank: both sides are
      // the (already lock-step) L3 oracles wrapped as id sets; output is
      // pure integer, so the comparison is exact.
      QueryDef("m2_ann_recall", Eval.m2AnnRecall, Some(s"""
        WITH exact_k AS (SELECT vec_id FROM (${cosineSql("SELECT * FROM embeddings", "")})),
        ann_k AS (SELECT vec_id FROM (${cosineSql(
          s"SELECT vec_id, label, embedding, CAST($bucketSql AS INT) AS bucket FROM embeddings",
          ", bucket",
          s"WHERE bucket = (SELECT CAST($bucketSql AS INT) FROM embeddings WHERE vec_id = 0)")})),
        k AS (SELECT COUNT(*) AS k_exact FROM exact_k),
        ka AS (SELECT COUNT(*) AS k_approx FROM ann_k),
        c AS (SELECT COUNT(*) AS n_common FROM ann_k JOIN exact_k USING (vec_id))
        SELECT k_exact, k_approx, n_common,
          CAST((1000 * n_common) // nullif(k_exact, 0) AS BIGINT) AS recall_permille
        FROM k CROSS JOIN ka CROSS JOIN c""")),

      // M3: MRR / precision@k — the oracle replays the shared BM25 body,
      // a VALUES query-token table, the same micro-unit score sum, and a
      // per-query window rank (the single-task twin of the engine's
      // offset-localized distributedRank).
      QueryDef("m3_mrr", Eval.m3Mrr, Some {
        val qVals = Eval.MrrQueries.flatMap { q =>
          val ts = q.split("\\s+").filter(_.nonEmpty).distinct
          ts.map(t => s"('$q', '$t', ${ts.length})")
        }.mkString(", ")
        s"""
        WITH bmq AS ($bm25BodySql),
        q(query, token, n_q) AS (SELECT * FROM (VALUES $qVals)),
        sc AS (SELECT query, doc_id, n_q,
                 SUM(CAST(ROUND(bm25 * 1e6) AS BIGINT)) AS score_micro,
                 COUNT(*) AS n_terms_hit
               FROM bmq JOIN q USING (token) GROUP BY ALL),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query
                 ORDER BY score_micro DESC, doc_id) AS rnk FROM sc),
        tk AS (SELECT * FROM rk WHERE rnk <= ${Eval.MrrK})
        SELECT query,
          CAST(coalesce(MIN(CASE WHEN n_terms_hit = n_q THEN rnk END), 0) AS INT)
            AS first_rel_rank,
          CAST(coalesce(1000000 // MIN(CASE WHEN n_terms_hit = n_q THEN rnk END), 0) AS BIGINT)
            AS rr_micro,
          CAST(SUM(CASE WHEN n_terms_hit = n_q THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_at_k,
          CAST(SUM(CASE WHEN n_terms_hit = n_q THEN 1 ELSE 0 END) * 1000000 // ${Eval.MrrK}
            AS BIGINT) AS prec_at_k_micro
        FROM tk GROUP BY query ORDER BY query"""
      }),

      // M5: nDCG@k under graded relevance (rel = #query terms hit). The
      // oracle replays the BM25 body, then sums the SAME precomputed
      // (rel, pos) → gain_micro literal table the engine plan carries
      // (Eval.ndcgGainTable — baked here as a VALUES CTE, so neither
      // engine evaluates log2/pow at query time; the round-9 hash-red
      // came from JVM-vs-libm log2 disagreeing by a ULP), and the
      // grade-count IDCG construction (prefix offsets over ≤ n_q grade
      // rows, exploded into ideal positions); the final ratio is integer
      // floor-DIV micro-units on both engines. The oracle's per-query
      // window rank is the single-task twin of the engine's bounded
      // TopKAgg partial aggregate.
      QueryDef("m5_ndcg", Eval.m5Ndcg, Some {
        val qVals = Eval.MrrQueries.flatMap { q =>
          q.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$q', '$t')")
        }.mkString(", ")
        val k = Eval.NdcgK
        val gVals = Eval.ndcgGainTable(Eval.ndcgMaxRel(Eval.MrrQueries), k)
          .map { case (r, p, g) => s"($r, $p, ${g}::BIGINT)" }.mkString(", ")
        s"""
        WITH bmq AS ($bm25BodySql),
        q(query, token) AS (SELECT * FROM (VALUES $qVals)),
        g(rel, pos, gain_micro) AS (SELECT * FROM (VALUES $gVals)),
        sc AS (SELECT query, doc_id,
                 SUM(CAST(ROUND(bm25 * 1e6) AS BIGINT)) AS score_micro,
                 COUNT(*) AS rel
               FROM bmq JOIN q USING (token) GROUP BY ALL),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query
                 ORDER BY score_micro DESC, doc_id) AS pos FROM sc),
        tk AS (SELECT query, pos, rel FROM rk WHERE pos <= $k),
        dcg AS (SELECT query, CAST(SUM(gain_micro) AS BIGINT) AS dcg_micro
                FROM tk JOIN g USING (rel, pos) GROUP BY query),
        rc AS (SELECT query, rel, COUNT(*) AS c FROM sc GROUP BY query, rel),
        ofs AS (SELECT query, rel, c,
                  CAST(COALESCE(SUM(c) OVER (PARTITION BY query ORDER BY rel DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
                FROM rc),
        ip AS (SELECT query, rel,
                 unnest(range(off + 1, least(off + c, $k) + 1)) AS pos
               FROM ofs WHERE off < $k),
        idcg AS (SELECT query, CAST(SUM(gain_micro) AS BIGINT) AS idcg_micro
                 FROM ip JOIN g USING (rel, pos) GROUP BY query)
        SELECT dcg.query, dcg_micro, idcg_micro,
          dcg_micro * 1000000 // idcg_micro AS ndcg_micro
        FROM dcg JOIN idcg USING (query) ORDER BY query"""
      }),

      // M6: embedding-space diversity — the oracle replays the SAME
      // k-means + exact-DECIMAL assignment chain as the IVF probe
      // (kmAssignCtes), counts per-cell occupancy, snaps ln once per
      // distinct count into micro-nat surprisal, and integer-folds the
      // entropy over the #cells-row frame (window SUM, bounded by
      // construction on both engines).
      QueryDef("m6_diversity", Eval.m6Diversity, Some(s"""
        WITH ${kmAssignCtes(Similarity.IvfCells.toString)},
        occ AS (SELECT cell, COUNT(*) AS n_vecs FROM cell GROUP BY cell),
        tot AS (SELECT SUM(n_vecs) AS n_total FROM occ),
        s AS (SELECT cell, n_vecs, n_total,
                CAST(n_vecs * 1000 // n_total AS BIGINT) AS share_permille,
                CAST(ROUND(ln(CAST(n_total AS DOUBLE) / n_vecs) * 1e6) AS BIGINT)
                  AS surprisal_micro
              FROM occ, tot)
        SELECT cell, n_vecs, share_permille, surprisal_micro,
          CAST(SUM(n_vecs * surprisal_micro) OVER () // n_total AS BIGINT)
            AS entropy_micro
        FROM s ORDER BY cell""")),

      // IVF replay: k-means-TRAINED centroids (Similarity.KmIters Lloyd
      // rounds over the deterministic vec_id % KmTrainMod == 0 training
      // slice from its first-cells init, one CTE chain
      // per round: exact-decimal squared-L2 assignment argmin tie-broken
      // on cid, then per-(cell,dim) mean rounded HALF_UP at 9 dp in
      // integer arithmetic with the +1024 offset — the lock-step twin of
      // Similarity.trainedCentroids), then the same exact assignment,
      // nprobe nearest cells of the query, and the shared
      // exact-cosine/ROUND(,6) rank.
      // PQ-ADC replay: one k-means chain per SUBSPACE (the IVF chain over
      // sliced vectors, CTE names prefixed), per-subspace code assignment,
      // ADC tables as d² between each codebook row and the query slice,
      // candidate rank by the exact-decimal ADC sum, exact-cosine rescore.
      QueryDef("l3_pq_topk", Similarity.l3PqTopK, Some {
        import Similarity.{PqM, PqSubDim, PqK, PqRescoreFactor, KmIters, KmTrainMod}
        def chain(j: Int): String = {
          val p = s"p$j"
          val (lo, hi) = (j * PqSubDim + 1, (j + 1) * PqSubDim)
          val rounds = (1 to KmIters).map { k =>
            s"""${p}pr$k AS (SELECT v.vec_id, c.cid, unnest(v.e) AS x, unnest(c.ce) AS y FROM ${p}tv v, ${p}c${k - 1} c),
        ${p}a2x$k AS (SELECT vec_id, cid, SUM(CAST((x-y)*(x-y) AS DECIMAL(30,15))) AS d2
               FROM ${p}pr$k GROUP BY vec_id, cid),
        ${p}cel$k AS (SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM ${p}a2x$k) WHERE rn = 1),
        ${p}mem$k AS (SELECT cell, unnest(e) AS x, generate_subscripts(e, 1) AS pos
               FROM ${p}tv JOIN ${p}cel$k USING (vec_id)),
        ${p}dim$k AS (SELECT cell, pos,
            CAST((CAST(SUM(CAST(x + 1024 AS DECIMAL(30,15))) * 2000000000000000 AS HUGEINT)
                  + COUNT(*) * 1000000) // (COUNT(*) * 2000000) AS DOUBLE) / 1000000000.0
              - 1024 AS cx
          FROM ${p}mem$k GROUP BY cell, pos),
        ${p}c$k AS (SELECT cell AS cid, list(cx ORDER BY pos) AS ce FROM ${p}dim$k GROUP BY cell)"""
          }.mkString(",\n        ")
          s"""${p}v AS (SELECT vec_id, (embedding::DOUBLE[])[$lo:$hi] AS e FROM embeddings),
        ${p}c0 AS (SELECT vec_id // $KmTrainMod AS cid, e AS ce FROM ${p}v
                   WHERE vec_id % $KmTrainMod = 0 AND vec_id < ${PqK * KmTrainMod}),
        ${p}tv AS (SELECT * FROM ${p}v WHERE vec_id % $KmTrainMod = 0),
        $rounds,
        ${p}apr AS (SELECT v.vec_id, c.cid, unnest(v.e) AS x, unnest(c.ce) AS y
                    FROM ${p}v v, ${p}c$KmIters c),
        ${p}a2 AS (SELECT vec_id, cid, SUM(CAST((x-y)*(x-y) AS DECIMAL(30,15))) AS d2
               FROM ${p}apr GROUP BY vec_id, cid),
        ${p}code AS (SELECT vec_id, cid AS code FROM (
            SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM ${p}a2) WHERE rn = 1),
        ${p}qt AS (SELECT cid, SUM(CAST((x-y)*(x-y) AS DECIMAL(30,15))) AS adc FROM
            (SELECT c.cid, unnest(c.ce) AS x, unnest(q.e) AS y
             FROM ${p}c$KmIters c, (SELECT e FROM ${p}v WHERE vec_id = 0) q)
          GROUP BY cid)"""
        }
        val chains = (0 until PqM).map(chain).mkString(",\n        ")
        val codeJoins = (1 until PqM).map(j => s"JOIN p${j}code c$j USING (vec_id)").mkString(" ")
        val tblJoins = (0 until PqM).map(j => s"JOIN p${j}qt t$j ON t$j.cid = c$j.code").mkString(" ")
        val adcSum = (0 until PqM).map(j => s"t$j.adc").mkString(" + ")
        s"""
        WITH $chains,
        adc AS (SELECT c0.vec_id, $adcSum AS adc_d2
                FROM p0code c0 $codeJoins $tblJoins),
        cand AS (SELECT vec_id FROM adc ORDER BY adc_d2, vec_id LIMIT ${PqRescoreFactor * 10}),
        fv AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
        q AS (SELECT e AS qe FROM fv WHERE vec_id = 0),
        u AS (SELECT fv.vec_id, fv.label, unnest(fv.e) AS a, unnest(qe) AS b
              FROM fv JOIN cand USING (vec_id), q),
        d AS (SELECT vec_id, label,
                SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY ALL)
        SELECT vec_id, label,
          ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
        FROM d ORDER BY cosine DESC, vec_id LIMIT 10"""
      }),

      QueryDef("l3_ivf_topk", Similarity.l3IvfTopK, Some(s"""
        WITH ${kmAssignCtes(Similarity.IvfCells.toString)},
        probe AS (SELECT cid AS cell FROM a2 WHERE vec_id = 0
                  ORDER BY d2, cid LIMIT ${Similarity.IvfNprobe}),
        q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
        cand AS (SELECT v.vec_id, v.label, cell.cell, v.e
                 FROM v JOIN cell USING (vec_id) JOIN probe USING (cell)),
        u AS (SELECT vec_id, label, cell, unnest(e) AS a, unnest(qe) AS b FROM cand, q),
        d AS (SELECT vec_id, label, cell,
                SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY ALL)
        SELECT vec_id, label, cell,
          ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
        FROM d ORDER BY cosine DESC, vec_id LIMIT 10""")),

      // L11 SemDeDup: the oracle replays the SAME k-means + assignment
      // chain as the IVF probe — but with the cell count derived from
      // the corpus size (GREATEST(IvfCells, CEIL(n/SemCellTarget)), the
      // scalar-subquery twin of Similarity.semCellsFor, so k ∝ n is part
      // of the hash contract) — then the within-cell pair sweep: a_id <
      // b_id pairing, 6-dp exact-decimal cosine at τ, greedy
      // drop-the-larger-id — and the per-cell summary with the dropped-id
      // digest. The oracle-side within-cell self-join is fixture-sized;
      // the ENGINE's rides the triangle-salted decomposition with a
      // codegen'd double prefilter ahead of the exact-decimal confirm.
      QueryDef("l11_semantic_dedup", Similarity.l11SemanticDedup, Some(s"""
        WITH ${kmAssignCtes(s"SELECT GREATEST(${Similarity.IvfCells}, " +
          s"CAST(CEIL(COUNT(*) / ${Similarity.SemCellTarget}.0) AS BIGINT)) FROM embeddings")},
        vc AS (SELECT v.vec_id, v.e, cell.cell FROM v JOIN cell USING (vec_id)),
        p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id
              FROM vc x JOIN vc y ON x.cell = y.cell AND x.vec_id < y.vec_id),
        u AS (SELECT a_id, b_id, unnest(xa.e) AS a, unnest(yb.e) AS bb
              FROM p JOIN vc xa ON xa.vec_id = p.a_id JOIN vc yb ON yb.vec_id = p.b_id),
        d AS (SELECT a_id, b_id,
                SUM(CAST(a*bb AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(bb*bb AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY a_id, b_id),
        dup AS (SELECT DISTINCT b_id AS vec_id FROM d
                WHERE ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
                      >= ${Similarity.SemTau})
        SELECT cell, COUNT(*) AS n_vecs,
          CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL THEN vc.vec_id ELSE 0 END) AS BIGINT) AS dropped_id_digest
        FROM vc LEFT JOIN dup ON vc.vec_id = dup.vec_id
        GROUP BY cell ORDER BY cell""")),

      QueryDef("l6_embed_neardup", Similarity.l6EmbedNearDup, Some(s"""
        WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e, CAST($bucketSql AS INT) AS bucket FROM embeddings),
        p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, x.e AS ea, y.e AS eb
              FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
        u AS (SELECT a_id, b_id, unnest(ea) AS a, unnest(eb) AS bb FROM p),
        d AS (SELECT a_id, b_id,
                SUM(CAST(a*bb AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(bb*bb AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY a_id, b_id)
        SELECT a_id, b_id,
          ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
        FROM d ORDER BY cosine DESC, a_id, b_id LIMIT 20""")),

      // kNN graph: the oracle replays the sign-bucket pair generation and
      // exact-DECIMAL cosine of l6_embed_neardup, symmetrizes, and ranks
      // per node with the same (cosine DESC, nbr_id) tie-break the
      // engine's bounded TopKAgg uses
      QueryDef("l3_knn_graph", Similarity.l3KnnGraph, Some(s"""
        WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e, CAST($bucketSql AS INT) AS bucket FROM embeddings),
        p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, x.e AS ea, y.e AS eb
              FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
        u AS (SELECT a_id, b_id, unnest(ea) AS a, unnest(eb) AS bb FROM p),
        d AS (SELECT a_id, b_id,
                SUM(CAST(a*bb AS DECIMAL(30,15))) AS dot,
                SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
                SUM(CAST(bb*bb AS DECIMAL(30,15))) AS nb
              FROM u GROUP BY a_id, b_id),
        e AS (SELECT a_id, b_id,
                ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
              FROM d),
        sym AS (SELECT a_id AS vec_id, b_id AS nbr_id, cosine FROM e
                UNION ALL SELECT b_id, a_id, cosine FROM e),
        r AS (SELECT vec_id, nbr_id, cosine,
                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nbr_id) AS rnk
              FROM sym WHERE cosine IS NOT NULL)
        SELECT vec_id, CAST(rnk AS INT) AS rnk, nbr_id, cosine
        FROM r WHERE rnk <= 5 ORDER BY vec_id, rnk""")),

      QueryDef("l4_text_analysis", TextOps.l4TextAnalysis, Some(s"""
        WITH s AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t FROM documents),
        c AS (SELECT doc_id, lang, n_chars,
          CAST(len(t) AS INT) AS n_tokens,
          CAST(len(list_distinct(t)) AS INT) AS n_unique,
          CAST(${stopFilter(TextOps.stopwords("en"))} AS INT) AS n_stop,
          CAST(list_sum(list_transform(t, x -> length(x))) AS INT) AS sum_tok_len,
          CAST(list_sum(list_transform(t, x -> (length(x) + 3) // 4)) AS INT) AS n_subtokens
        FROM s)
        SELECT doc_id, lang, n_chars, n_tokens, n_unique, n_stop, sum_tok_len, n_subtokens,
          ROUND(n_unique::DOUBLE / n_tokens, 6) AS ttr,
          ROUND(n_stop::DOUBLE / n_tokens, 6) AS stop_ratio,
          ROUND(sum_tok_len::DOUBLE / n_tokens, 6) AS avg_tok_len,
          CAST((700 * n_unique + 300 * (n_tokens - n_stop)) // n_tokens AS BIGINT) AS quality_permille
        FROM c ORDER BY doc_id""")),

      QueryDef("l4_term_freq", TextOps.l4TermFreq, Some("""
        SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY n_occurrences DESC, token""")),

      // Unicode tokenizer, replayed regex-for-regex: DuckDB punctuates the
      // text the same way and splits on the same [^\p{L}\p{N}]+ class
      // (RE2) as Spark's Java-regex split — the hash compare pins
      // cross-engine agreement of the tokenization itself.
      QueryDef("l4_termfreq_unicode", TextOps.l4TermFreqUnicode, Some("""
        WITH p AS (SELECT doc_id,
          regexp_replace(text, ' ', ', ', 'g') || '!' AS text FROM documents),
        tok AS (SELECT doc_id,
          unnest(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
                 x -> x <> '')) AS token FROM p)
        SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        FROM tok GROUP BY token ORDER BY n_occurrences DESC, token""")),

      // BPE-style pre-token budget: Java regex (Spark regexp_count) and
      // RE2 (DuckDB regexp_extract_all) must count the same matches —
      // the pattern sticks to ASCII classes so both dialects agree, and
      // the hash compare pins that agreement per document
      QueryDef("l4_tokcount_bpe", TextOps.l4TokcountBpe, Some(s"""
        SELECT doc_id,
          len(string_split(text, ' '))::BIGINT AS n_ws,
          len(regexp_extract_all(text, '${TextOps.BpeTokenPattern.replace("'", "''")}'))::BIGINT AS n_bpe,
          len(regexp_extract_all(text, '${TextOps.BpeTokenPattern.replace("'", "''")}'))::BIGINT * 1000
            // len(string_split(text, ' '))::BIGINT AS bpe_per_ws_permille
        FROM documents ORDER BY doc_id""")),

      QueryDef("l4_langid", TextOps.l4LangId, Some {
        val langs = Seq("en", "de", "es", "fr", "zh")
        val scores = langs.map(l => s"${stopFilter(TextOps.stopwords(l))} AS s_$l").mkString(", ")
        val cases = langs.init.map { l =>
          val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $ge THEN '$l'"
        }.mkString(" ")
        s"""
        WITH s AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        sc AS (SELECT lang, $scores FROM s)
        SELECT lang, CASE $cases ELSE 'zh' END AS predicted, COUNT(*) AS n
        FROM sc GROUP BY lang, predicted ORDER BY lang, predicted"""
      }),

      QueryDef("l4_tfidf", TextOps.l4TfIdf, Some("""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        terms AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, unnest(t) AS token FROM s),
        tf AS (SELECT doc_id, n_tokens, token, COUNT(*) AS tf FROM terms GROUP BY ALL),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        n AS (SELECT COUNT(*) AS n_docs_total FROM documents)
        SELECT doc_id, token, tf, n_tokens, df,
          CAST((2 * tf * CAST(ROUND(ln(n_docs_total::DOUBLE / df) * 1e6) AS BIGINT)
                + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1e6 AS tf_idf
        FROM tf JOIN df USING (token) CROSS JOIN n
        ORDER BY doc_id, token""")),

      QueryDef("l4_bm25", TextOps.l4Bm25,
        Some(s"$bm25BodySql\n        ORDER BY doc_id, token")),

      // Keyword extraction: the tf-idf chain + a per-doc window rank;
      // tf_idf is integer/1e6 on both engines so DESC ordering agrees.
      QueryDef("l4_keywords", TextOps.l4Keywords, Some(s"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        terms AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens, unnest(t) AS token FROM s),
        tf AS (SELECT doc_id, n_tokens, token, COUNT(*) AS tf FROM terms GROUP BY ALL),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        n AS (SELECT COUNT(*) AS n_docs_total FROM documents),
        w AS (SELECT doc_id, token, tf,
          CAST((2 * tf * CAST(ROUND(ln(n_docs_total::DOUBLE / df) * 1e6) AS BIGINT)
                + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1e6 AS tf_idf
        FROM tf JOIN df USING (token) CROSS JOIN n),
        r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tf_idf DESC, token) AS INT) AS rnk FROM w)
        SELECT doc_id, rnk, token, tf, tf_idf FROM r
        WHERE rnk <= ${TextOps.KeywordsK} ORDER BY doc_id, rnk""")),

      // BM25 retrieval: same per-term frame, filtered to the fixed query's
      // tokens, summed in exact integer micro-units (each weight is
      // 6-dp-rounded, so round(bm25·1e6) recovers the exact long and the
      // sum is aggregation-order-independent on both engines), top-k with
      // the doc_id tie-break.
      QueryDef("l4_bm25_search", TextOps.l4Bm25Search, Some {
        val qTokens = TextOps.Bm25SearchQuery.split("\\s+").distinct
          .map(t => s"'$t'").mkString(", ")
        s"""
        WITH bmq AS ($bm25BodySql)
        SELECT doc_id,
          CAST(SUM(CAST(ROUND(bm25 * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS score,
          COUNT(*) AS n_terms_hit
        FROM bmq WHERE token IN ($qTokens)
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT ${TextOps.Bm25SearchK}"""
      }),

      // Unigram-LM NLL: ln snapped once per distinct count to integer
      // micro-units (ln(T/cnt) >= 0, so truncating and flooring integer
      // division agree), per-doc mean as the exact HALF_UP rational in
      // integer arithmetic — the tf-idf transcendental discipline.
      QueryDef("l4_unigram_lm", TextOps.l4UnigramLm, Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY ALL),
        cnt AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
        tot AS (SELECT SUM(cnt) AS t_total FROM cnt),
        nll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                FROM cnt CROSS JOIN tot),
        doc AS (SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * nll_micro) AS s_micro
                FROM tf JOIN nll USING (token) GROUP BY doc_id)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST((2 * s_micro + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1e6 AS mean_nll
        FROM doc ORDER BY doc_id""")),

      // CCNet buckets: same unigram-NLL chain kept in integer micro-units,
      // then ROW_NUMBER over the fully tie-broken (nll_micro, doc_id)
      // order — the oracle's single-task window is the semantic twin of
      // the engine's distributedRank — and the integer-tenths cut.
      QueryDef("l4_ccnet_buckets", TextOps.l4CcnetBuckets, Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY ALL),
        cnt AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
        tot AS (SELECT SUM(cnt) AS t_total FROM cnt),
        nll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                FROM cnt CROSS JOIN tot),
        doc AS (SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * nll_micro) AS s_micro
                FROM tf JOIN nll USING (token) GROUP BY doc_id),
        scored AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     (2 * s_micro + n_tokens) // (2 * n_tokens) AS nll_micro FROM doc),
        ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY nll_micro, doc_id) AS rank,
                     COUNT(*) OVER () AS n FROM scored)
        SELECT doc_id, n_tokens, CAST(nll_micro AS BIGINT) AS nll_micro,
          CAST(rank AS BIGINT) AS rank,
          CASE WHEN (rank - 1) * 10 // n < ${TextOps.CcnetHeadTenths} THEN 'head'
               WHEN (rank - 1) * 10 // n < ${TextOps.CcnetHeadTenths + TextOps.CcnetMiddleTenths}
                 THEN 'middle' ELSE 'tail' END AS bucket
        FROM ranked ORDER BY doc_id""")),

      // Naive-Bayes quality classifier: the oracle replays train + apply
      // verbatim — class-conditional token counts, ONE snapped ln per
      // vocabulary row (the l4_unigram_lm / m4_drift transcendental
      // discipline), integer micro-nat doc sums, and the same add-one
      // smoothing constants injected from TextOps.
      QueryDef("l4_quality_classifier", TextOps.l4QualityClassifier, Some(s"""
        WITH $nbScoredCtes
        SELECT doc_id, n_tokens, is_ref, score_micro, predicted_ref
        FROM scored ORDER BY doc_id""")),

      // M7a: classifier calibration — the shared NB chain, then a
      // SIGN-DECOMPOSED floor bin (both engines divide only non-negative
      // operands; Spark DIV truncates, DuckDB // floors) and exact
      // integer permille per bin.
      QueryDef("m7_calibration", Eval.m7Calibration, Some {
        val w = Eval.CalibrationBinMicro
        s"""
        WITH $nbScoredCtes,
        b AS (SELECT CASE WHEN score_micro >= 0 THEN score_micro // $w
                     ELSE -((-score_micro + ${w - 1}) // $w) END AS bin,
                is_ref, predicted_ref FROM scored)
        SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
          CAST(SUM(CASE WHEN predicted_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_ref,
          CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
            AS ref_permille
        FROM b GROUP BY bin ORDER BY bin"""
      }),

      // M7b: confusion matrix + permille rates; zero-denominator rates
      // are NULL via nullif on both engines.
      QueryDef("m7_confusion", Eval.m7Confusion, Some(s"""
        WITH $nbScoredCtes,
        c AS (SELECT
            SUM(CASE WHEN is_ref AND predicted_ref THEN 1 ELSE 0 END) AS tp,
            SUM(CASE WHEN NOT is_ref AND predicted_ref THEN 1 ELSE 0 END) AS fp,
            SUM(CASE WHEN is_ref AND NOT predicted_ref THEN 1 ELSE 0 END) AS fn,
            SUM(CASE WHEN NOT is_ref AND NOT predicted_ref THEN 1 ELSE 0 END) AS tn
          FROM scored)
        SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
          CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
          CAST((tp + tn) * 1000 // nullif(tp + fp + fn + tn, 0) AS BIGINT) AS accuracy_permille,
          CAST(tp * 1000 // nullif(tp + fp, 0) AS BIGINT) AS precision_permille,
          CAST(tp * 1000 // nullif(tp + fn, 0) AS BIGINT) AS recall_permille,
          CAST(2 * tp * 1000 // nullif(2 * tp + fp + fn, 0) AS BIGINT) AS f1_permille
        FROM c""")),

      // M8: Cohen's κ between the Gopher rule gate and the NB classifier
      // gate — the gopher CTEs replay the l4_gopher ruleset (g_-prefixed
      // names to avoid clashing with the NB chain), joint counts over the
      // common doc set, then the snapped-rates κ arithmetic: po and the
      // four marginal rates in micro-units FIRST (non-negative // only),
      // pe from the snapped products, κ sign-decomposed with nullif for
      // the pe = 10⁶ undefined case. No n² term ever forms.
      QueryDef("m8_agreement", Eval.m8Agreement, Some {
        val stops = TextOps.GopherRequiredStops.map(s => s"'$s'").mkString(", ")
        import TextOps.{GopherMinWords, GopherMaxWords, GopherMinMeanLenPermille,
          GopherMaxMeanLenPermille, GopherMinAlphaPermille, GopherMinStopHits,
          GopherMaxSymbolPermille, GopherMaxDupBigramPermille}
        s"""
        WITH $nbScoredCtes,
        g_s AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        g_m AS (SELECT doc_id,
          CAST(len(t) AS INT) AS n_tokens,
          list_sum([length(x) for x in t]) AS sum_tok_len,
          len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
          CAST(len(list_filter([$stops], w -> list_contains(t, w))) AS INT) AS stop_hits,
          len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
          greatest(len(t) - 1, 0)
            - len(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS n_dup_bigrams,
          greatest(greatest(len(t) - 1, 0), 1) AS n_bigrams
        FROM g_s),
        gkeep AS (SELECT doc_id,
            (n_tokens BETWEEN $GopherMinWords AND $GopherMaxWords)
            AND (sum_tok_len * 1000 // n_tokens
              BETWEEN $GopherMinMeanLenPermille AND $GopherMaxMeanLenPermille)
            AND (n_alpha * 1000 // n_tokens >= $GopherMinAlphaPermille)
            AND (stop_hits >= $GopherMinStopHits)
            AND (n_symbols * 1000 // n_tokens <= $GopherMaxSymbolPermille)
            AND (n_dup_bigrams * 1000 // n_bigrams <= $GopherMaxDupBigramPermille) AS keep
          FROM g_m),
        j AS (SELECT g.keep AS a, s.predicted_ref AS b
              FROM gkeep g JOIN scored s USING (doc_id)),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
            CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
            CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
            CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
          FROM j),
        p AS (SELECT n, n11, n10, n01, n00,
            CAST(1000000 * (n11 + n00) // nullif(n, 0) AS BIGINT) AS po_micro,
            CAST(((1000000 * (n11 + n10) // nullif(n, 0)) * (1000000 * (n11 + n01) // nullif(n, 0))
              + (1000000 * (n01 + n00) // nullif(n, 0)) * (1000000 * (n10 + n00) // nullif(n, 0)))
              // 1000000 AS BIGINT) AS pe_micro
          FROM c)
        SELECT n, n11, n10, n01, n00, po_micro, pe_micro,
          CAST(CASE WHEN po_micro >= pe_micro
            THEN 1000000 * (po_micro - pe_micro) // nullif(1000000 - pe_micro, 0)
            ELSE -(1000000 * (pe_micro - po_micro) // nullif(1000000 - pe_micro, 0)) END
            AS BIGINT) AS kappa_micro
        FROM p"""
      }),

      // M9 corpus-overlap estimate: the oracle replays the KMV sketches
      // EXACTLY — same md5 hash order, same k smallest distinct values per
      // corpus (ORDER BY h LIMIT k over the distinct gram hashes), same
      // union re-sketch, same integer permille ratios — so the hash gate
      // checks the estimator itself, the A3/S7 discipline. The split CTE
      // and gram comprehension are the l9_decontam replays verbatim.
      QueryDef("m9_containment", Eval.m9Containment, Some {
        val n = Curation.DecontamN
        val k = Eval.KmvK
        s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
          CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
               ELSE 'test' END AS split
          FROM documents),
        g AS (SELECT split,
          unnest([array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]) AS gram
          FROM d WHERE split IN ('train', 'test')),
        a AS (SELECT DISTINCT md5(gram) AS h FROM g WHERE split = 'train' ORDER BY h LIMIT $k),
        b AS (SELECT DISTINCT md5(gram) AS h FROM g WHERE split = 'test'  ORDER BY h LIMIT $k),
        u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) ORDER BY h LIMIT $k),
        c AS (SELECT
          (SELECT COUNT(*) FROM a) AS n_sketch_a,
          (SELECT COUNT(*) FROM b) AS n_sketch_b,
          (SELECT COUNT(*) FROM u) AS n_union,
          (SELECT COUNT(*) FROM u JOIN a USING (h) JOIN b USING (h)) AS n_both,
          (SELECT COUNT(*) FROM u JOIN a USING (h)) AS n_a,
          (SELECT COUNT(*) FROM u JOIN b USING (h)) AS n_b,
          (SELECT md5(string_agg(h, ',' ORDER BY h)) FROM u) AS union_digest)
        SELECT CAST($k AS BIGINT) AS k,
          CAST(n_sketch_a AS BIGINT) AS n_sketch_a,
          CAST(n_sketch_b AS BIGINT) AS n_sketch_b,
          CAST(n_union AS BIGINT) AS n_union,
          CAST(n_both AS BIGINT) AS n_both,
          CAST(1000 * n_both // nullif(n_union, 0) AS BIGINT) AS jaccard_permille,
          CAST(1000 * n_both // nullif(n_b, 0) AS BIGINT) AS b_in_a_permille,
          CAST(1000 * n_both // nullif(n_a, 0) AS BIGINT) AS a_in_b_permille,
          union_digest
        FROM c"""
      }),

      // M9b pairwise source-overlap matrix: per-source bottom-k sketches
      // (DISTINCT hashes, row_number <= k per source), all source pairs,
      // then the SAME union re-sketch + permille arithmetic as m9 — the
      // membership flags fold per (pair, hash) with max() so a hash in
      // both sketches counts once in n_union and once in n_both.
      QueryDef("m9_overlap_matrix", Eval.m9OverlapMatrix, Some {
        val n = Curation.DecontamN
        val k = Eval.KmvK
        s"""
        WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        g AS (SELECT source,
          unnest([array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]) AS gram
          FROM d),
        h AS (SELECT DISTINCT source, md5(gram) AS h FROM g),
        r AS (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        sk AS (SELECT source, h FROM r WHERE rn <= $k),
        skn AS (SELECT source, COUNT(*) AS n FROM sk GROUP BY source),
        p AS (SELECT a.source AS sa, b.source AS sb
          FROM skn a JOIN skn b ON a.source < b.source),
        m AS (SELECT p.sa, p.sb, sk.h,
            MAX(CASE WHEN sk.source = p.sa THEN 1 ELSE 0 END) AS in_a,
            MAX(CASE WHEN sk.source = p.sb THEN 1 ELSE 0 END) AS in_b
          FROM p JOIN sk ON sk.source IN (p.sa, p.sb)
          GROUP BY p.sa, p.sb, sk.h),
        ur AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM m),
        u AS (SELECT * FROM ur WHERE rn <= $k),
        c AS (SELECT sa, sb, COUNT(*) AS n_union,
            SUM(in_a * in_b) AS n_both, SUM(in_a) AS n_a, SUM(in_b) AS n_b,
            md5(string_agg(h, ',' ORDER BY h)) AS union_digest
          FROM u GROUP BY sa, sb)
        SELECT c.sa AS source_a, c.sb AS source_b,
          CAST($k AS BIGINT) AS k,
          CAST(na.n AS BIGINT) AS n_sketch_a,
          CAST(nb.n AS BIGINT) AS n_sketch_b,
          CAST(c.n_union AS BIGINT) AS n_union,
          CAST(c.n_both AS BIGINT) AS n_both,
          CAST(1000 * c.n_both // nullif(c.n_union, 0) AS BIGINT) AS jaccard_permille,
          CAST(1000 * c.n_both // nullif(c.n_b, 0) AS BIGINT) AS b_in_a_permille,
          CAST(1000 * c.n_both // nullif(c.n_a, 0) AS BIGINT) AS a_in_b_permille,
          c.union_digest
        FROM c JOIN skn na ON na.source = c.sa JOIN skn nb ON nb.source = c.sb
        ORDER BY source_a, source_b"""
      }),

      // Gopher ruleset: every metric is exact integer permille; the regex
      // classes are ASCII so Java regex and RE2 count identically; the
      // bigram-uniqueness form matches l4_repetition's.
      QueryDef("l4_gopher", TextOps.l4Gopher, Some {
        val stops = TextOps.GopherRequiredStops.map(s => s"'$s'").mkString(", ")
        s"""
        WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        m AS (SELECT doc_id,
          CAST(len(t) AS INT) AS n_tokens,
          list_sum([length(x) for x in t]) AS sum_tok_len,
          len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
          CAST(len(list_filter([$stops], w -> list_contains(t, w))) AS INT) AS stop_hits,
          len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
          greatest(len(t) - 1, 0)
            - len(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS n_dup_bigrams,
          greatest(greatest(len(t) - 1, 0), 1) AS n_bigrams
        FROM s)
        SELECT doc_id, n_tokens,
          CAST(sum_tok_len * 1000 // n_tokens AS BIGINT) AS mean_len_permille,
          CAST(n_alpha * 1000 // n_tokens AS BIGINT) AS alpha_permille,
          stop_hits,
          CAST(n_symbols * 1000 // n_tokens AS BIGINT) AS symbol_permille,
          CAST(n_dup_bigrams * 1000 // n_bigrams AS BIGINT) AS dup_bigram_permille,
          n_tokens BETWEEN ${TextOps.GopherMinWords} AND ${TextOps.GopherMaxWords} AS r_words,
          sum_tok_len * 1000 // n_tokens
            BETWEEN ${TextOps.GopherMinMeanLenPermille} AND ${TextOps.GopherMaxMeanLenPermille} AS r_mean_len,
          n_alpha * 1000 // n_tokens >= ${TextOps.GopherMinAlphaPermille} AS r_alpha,
          stop_hits >= ${TextOps.GopherMinStopHits} AS r_stops,
          n_symbols * 1000 // n_tokens <= ${TextOps.GopherMaxSymbolPermille} AS r_symbols,
          n_dup_bigrams * 1000 // n_bigrams <= ${TextOps.GopherMaxDupBigramPermille} AS r_dup_bigram,
          (n_tokens BETWEEN ${TextOps.GopherMinWords} AND ${TextOps.GopherMaxWords})
            AND (sum_tok_len * 1000 // n_tokens
              BETWEEN ${TextOps.GopherMinMeanLenPermille} AND ${TextOps.GopherMaxMeanLenPermille})
            AND (n_alpha * 1000 // n_tokens >= ${TextOps.GopherMinAlphaPermille})
            AND (stop_hits >= ${TextOps.GopherMinStopHits})
            AND (n_symbols * 1000 // n_tokens <= ${TextOps.GopherMaxSymbolPermille})
            AND (n_dup_bigrams * 1000 // n_bigrams <= ${TextOps.GopherMaxDupBigramPermille}) AS keep
        FROM m ORDER BY doc_id"""
      }),

      // BPE merge candidates: the pair explode runs over the distinct-word
      // vocab with counts (both engines), exact integer weights throughout.
      QueryDef("l4_bpe_pairs", TextOps.l4BpePairs, Some(s"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        vocab AS (SELECT word, COUNT(*) AS n_word FROM w GROUP BY word
                  HAVING length(word) >= 2),
        p AS (SELECT n_word,
                unnest([substring(word, i, 2) for i in range(1, length(word))]) AS pair
              FROM vocab)
        SELECT pair, CAST(SUM(n_word) AS BIGINT) AS n_occurrences
        FROM p GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT ${TextOps.BpePairsK}""")),

      // BPE training + encode: the DuckDB replay runs the SAME
      // BpeTrainRounds merge rounds — pair count weighted by word
      // frequency, argmax (count desc, l, r), greedy leftmost-first
      // application via run-grouped parity — over the character-symbol
      // state of the word vocabulary (the trainedCentroids discipline,
      // text-side). Shared CTE prefix between the two queries.
      QueryDef("l4_bpe_train", TextOps.l4BpeTrain, Some(
        bpeCteSql + s"""
        SELECT * FROM (${(1 to TextOps.BpeTrainRounds).map(k =>
          s"SELECT $k AS round, l AS lhs, r AS rhs, CAST(n AS BIGINT) AS n_occurrences FROM b$k")
          .mkString("\n          UNION ALL ")})
        ORDER BY round""")),

      QueryDef("l4_bpe_encode", TextOps.l4BpeEncode, Some(
        bpeCteSql + s""",
        ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms_word
               FROM v${TextOps.BpeTrainRounds} GROUP BY word),
        dwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(n_syms_word) AS BIGINT) AS n_syms,
          CAST(SUM(n_syms_word) AS BIGINT) * 1000
            // greatest(CAST(SUM(length(word)) AS BIGINT), 1) AS compression_permille
        FROM dwords JOIN ws USING (word) GROUP BY doc_id ORDER BY doc_id""")),

      QueryDef("l4_langid_ngram", TextOps.l4LangIdNgram, Some {
        val langs = Seq("en", "de", "es", "fr", "zh")
        def gramScore(l: String): String = {
          val w = if (l == "zh") 3 else 1
          val terms = TextOps.trigramProfiles(l)
            .map(p => s"length(lo) - length(replace(lo, '$p', ''))")
            .mkString(" + ")
          s"($terms) * $w AS s_$l"
        }
        val cases = langs.init.map { l =>
          val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $ge THEN '$l'"
        }.mkString(" ")
        s"""
        WITH s AS (SELECT lang, lower(text) AS lo FROM documents),
        sc AS (SELECT lang, ${langs.map(gramScore).mkString(", ")} FROM s)
        SELECT lang, CASE $cases ELSE 'zh' END AS predicted, COUNT(*) AS n
        FROM sc GROUP BY lang, predicted ORDER BY lang, predicted"""
      }),

      QueryDef("l4_fingerprint", TextOps.l4Fingerprint, Some("""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
          list_min([md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) for i in range(1, len(t)-1)]) AS fingerprint,
          CAST(greatest(len(t) - 2, 0) AS INT) AS n_shingles
        FROM s ORDER BY doc_id""")),

      QueryDef("l4_postings", TextOps.l4Postings, Some(s"""
        WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents)
        SELECT token, CAST(doc_id // ${TextOps.PostingsBlock} AS BIGINT) AS block,
          COUNT(*) AS df_block, string_agg(doc_id, ',' ORDER BY doc_id) AS postings
        FROM tok GROUP BY token, block ORDER BY token, block""")),

      // Full-catalog profile: SQL generated from the SAME Profile.TableCols
      // spec the operator reads, one per-column SELECT per table. The
      // `events` view reaches DuckDB as raw TIMESTAMP(NANOS) parquet which
      // it truncates to micros — identical to Tables.events' `ts DIV 1000`.
      QueryDef("s7_profile", Profile.s7Profile,
        Some(profileOracle(distinctSlot = "COUNT(DISTINCT $c) AS n_distinct"))),

      // The 100 TB-default profile: HLL++ distinct counts in the SAME
      // single-pass shape. The sketch estimate is engine-specific (like
      // a3_approx_distinct), so the declared form trades the raw value
      // for the nd_est_ok acceptance predicate — estimate within ±3·rsd
      // of the exact count, computed engine-side against s7Profile's
      // frame (literal TRUE in the oracle — see
      // Profile.s7ProfileApproxChecked) — and every deterministic
      // column hash-compares exactly; RelationalSpec keeps the estimate
      // tolerance-asserted and proves the predicate rejects a broken
      // sketch.
      QueryDef("s7_profile_approx", Profile.s7ProfileApproxChecked,
        Some(profileOracle(distinctSlot = "TRUE AS nd_est_ok"))),

      QueryDef("l8_split", Curation.l8Split, Some("""
        WITH s AS (SELECT doc_id,
          CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
               ELSE 'test' END AS split,
          len(string_split(text, ' ')) AS n_tokens
        FROM documents)
        SELECT split, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
          CAST(SUM(doc_id) AS BIGINT) AS id_digest
        FROM s GROUP BY split ORDER BY split""")),

      // Importance sampling: the unigram-NLL chain (lock-step with
      // l4_unigram_lm), corpus bounds as a 1-row cross, linear integer
      // interpolation to a per-doc keep permille, membership by salted
      // md5 hex against the per-row printf'd threshold.
      QueryDef("l8_importance_sample", Curation.l8ImportanceSample, Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY ALL),
        cnt AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
        tot AS (SELECT SUM(cnt) AS t_total FROM cnt),
        nll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                FROM cnt CROSS JOIN tot),
        doc AS (SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * nll_micro) AS s_micro
                FROM tf JOIN nll USING (token) GROUP BY doc_id),
        scored AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     (2 * s_micro + n_tokens) // (2 * n_tokens) AS nll_micro FROM doc),
        b AS (SELECT MIN(nll_micro) AS lo, MAX(nll_micro) AS hi FROM scored),
        p AS (SELECT doc_id, n_tokens, nll_micro,
                ${Curation.ImpFloorPermille} + (hi - nll_micro)
                  * ${Curation.ImpCeilPermille - Curation.ImpFloorPermille}
                  // greatest(hi - lo, 1) AS p_permille
              FROM scored CROSS JOIN b)
        SELECT doc_id, n_tokens, CAST(nll_micro AS BIGINT) AS nll_micro,
          CAST(p_permille AS BIGINT) AS p_permille,
          (p_permille >= 1000 OR
           substr(md5('imp|' || CAST(doc_id AS VARCHAR)), 1, 4) <
             printf('%04x', CAST(p_permille * 65536 // 1000 AS BIGINT))) AS kept
        FROM p ORDER BY doc_id""")),

      // The gate form: the whole corpus scored against the quarter-slice
      // reference LM — OOV tokens drop from the per-doc mean (inner join
      // with the REFERENCE vocabulary), scores clamp into the reference
      // bounds, wholly-OOV docs floor with a NULL score.
      QueryDef("l8_importance_gate", Curation.l8ImportanceGate, Some(s"""
        WITH ref AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
        rtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM ref),
        rtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM rtoks GROUP BY ALL),
        rcnt AS (SELECT token, SUM(tf) AS cnt FROM rtf GROUP BY token),
        rtot AS (SELECT SUM(cnt) AS t_total FROM rcnt),
        nll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                FROM rcnt CROSS JOIN rtot),
        rdoc AS (SELECT doc_id, SUM(tf) AS n_iv, SUM(tf * nll_micro) AS s
                 FROM rtf JOIN nll USING (token) GROUP BY doc_id),
        b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM
               (SELECT (2 * s + n_iv) // (2 * n_iv) AS m FROM rdoc)),
        dtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        dtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM dtoks GROUP BY ALL),
        sc AS (SELECT doc_id, SUM(tf) AS n_iv, SUM(tf * nll_micro) AS s
               FROM dtf JOIN nll USING (token) GROUP BY doc_id),
        sd AS (SELECT doc_id, n_iv, (2 * s + n_iv) // (2 * n_iv) AS nll_micro FROM sc),
        j AS (SELECT a.doc_id, COALESCE(sd.n_iv, 0) AS n_iv, sd.nll_micro
              FROM (SELECT doc_id FROM documents) a LEFT JOIN sd USING (doc_id)),
        p AS (SELECT doc_id, n_iv, nll_micro,
                CASE WHEN nll_micro IS NULL THEN ${Curation.ImpFloorPermille}
                     ELSE ${Curation.ImpFloorPermille}
                       + greatest(0, least(hi - nll_micro, hi - lo))
                         * ${Curation.ImpCeilPermille - Curation.ImpFloorPermille}
                         // greatest(hi - lo, 1) END AS p_permille
              FROM j CROSS JOIN b)
        SELECT doc_id, CAST(n_iv AS BIGINT) AS n_iv,
          CAST(nll_micro AS BIGINT) AS nll_micro,
          CAST(p_permille AS BIGINT) AS p_permille,
          (p_permille >= 1000 OR
           substr(md5('imp|' || CAST(doc_id AS VARCHAR)), 1, 4) <
             printf('%04x', CAST(p_permille * 65536 // 1000 AS BIGINT))) AS kept
        FROM p ORDER BY doc_id""")),

      QueryDef("l8_mix", Curation.l8Mix, Some {
        val cases = Curation.MixRates.map { case (src, p) =>
          s"WHEN '$src' THEN '${Curation.rateThreshold(p)}'"
        }.mkString(" ")
        val dflt = Curation.rateThreshold(Curation.MixDefaultPermille)
        s"""
        WITH s AS (SELECT doc_id, source,
          substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4) AS h FROM documents),
        k AS (SELECT doc_id, source,
          h < (CASE source $cases ELSE '$dflt' END) AS keep FROM s)
        SELECT source, COUNT(*) AS n_total,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_digest
        FROM k GROUP BY source ORDER BY source"""
      }),

      QueryDef("l8_cap", Curation.l8Cap, Some(s"""
        SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
          SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        WHERE rn <= ${Curation.CapPerSource}
        ORDER BY source, rn""")),

      // L8i: exact-count stratified sample — DuckDB replays the
      // within-stratum salted-md5 rank with a plain window (the engine's
      // distributed prefix-sum rank must equal it row for row), and the
      // ⌈size·rate/1000⌉ keep bound with the same integer DIV identity.
      QueryDef("l8_stratified", Curation.l8StratifiedSample, Some(s"""
        SELECT doc_id, lang, source, stratum_size, CAST(rn AS BIGINT) AS rn,
          rn <= (stratum_size * ${Curation.StratifiedRatePermille} + 999) // 1000 AS sampled
        FROM (SELECT doc_id, lang, source,
            ROW_NUMBER() OVER (PARTITION BY lang, source
              ORDER BY md5('${Curation.StratifiedSalt}|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang, source) AS stratum_size
          FROM documents)
        ORDER BY doc_id""")),

      // L8j: temperature mix — the oracle replays the within-stratum
      // salted-md5 rank, the micro-snapped √n weights (sqrt is one
      // correctly-rounded IEEE op on both engines), and the integer quota
      // ceiling, so quotas and per-row keep flags hash-match exactly.
      QueryDef("l8_temperature_mix", Curation.l8TemperatureMix, Some(s"""
        WITH r AS (SELECT doc_id, lang,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5('${Curation.TemperatureSalt}|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY lang) AS stratum_size
          FROM documents),
        sz AS (SELECT lang, COUNT(*) AS n,
            CAST(ROUND(sqrt(COUNT(*)) * 1e6) AS BIGINT) AS s_micro
          FROM documents GROUP BY lang),
        tot AS (SELECT SUM(n) AS nn, SUM(s_micro) AS t FROM sz),
        alloc AS (SELECT lang,
            least(n, ((nn * ${Curation.TemperatureKeepPermille} // 1000) * s_micro + t - 1) // t)
              AS quota
          FROM sz CROSS JOIN tot)
        SELECT r.doc_id, r.lang, CAST(r.stratum_size AS BIGINT) AS stratum_size,
          CAST(r.rn AS BIGINT) AS rn, CAST(a.quota AS BIGINT) AS quota,
          r.rn <= a.quota AS sampled
        FROM r JOIN alloc a USING (lang) ORDER BY r.doc_id""")),

      QueryDef("l8_quality_gate", Curation.l8QualityGate, Some(s"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        q AS (SELECT doc_id,
          CAST((700 * len(list_distinct(t))
                + 300 * (len(t) - ${stopFilter(TextOps.stopwords("en"))}))
               // len(t) AS BIGINT) AS quality_permille
        FROM s),
        m AS (SELECT quantile_cont(quality_permille, 0.5) AS median_permille FROM q)
        SELECT doc_id, quality_permille, median_permille
        FROM q CROSS JOIN m
        WHERE quality_permille >= median_permille
        ORDER BY doc_id""")),

      // L0: the end-to-end curation run. Each CTE block replays the SAME
      // construction as the standalone oracle of its stage (l4_gopher,
      // l1_dupspans, l4_ccnet_buckets over the survivor set, l8_pack) with
      // the same shared constants — the hash pins the whole composed
      // manifest, so a drift in ANY stage breaks this query too.
      QueryDef("l0_pipeline", Curation.l0Pipeline, Some {
        val stops = TextOps.GopherRequiredStops.map(s => s"'$s'").mkString(", ")
        s"""
        WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        gm AS (SELECT doc_id,
          CAST(len(t) AS INT) AS n_tokens,
          list_sum([length(x) for x in t]) AS sum_tok_len,
          len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
          len(list_filter([$stops], w -> list_contains(t, w))) AS stop_hits,
          len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
          greatest(len(t) - 1, 0)
            - len(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS n_dup_bigrams,
          greatest(greatest(len(t) - 1, 0), 1) AS n_bigrams
        FROM s),
        g AS (SELECT doc_id FROM gm
          WHERE n_tokens BETWEEN ${TextOps.GopherMinWords} AND ${TextOps.GopherMaxWords}
            AND sum_tok_len * 1000 // n_tokens
              BETWEEN ${TextOps.GopherMinMeanLenPermille} AND ${TextOps.GopherMaxMeanLenPermille}
            AND n_alpha * 1000 // n_tokens >= ${TextOps.GopherMinAlphaPermille}
            AND stop_hits >= ${TextOps.GopherMinStopHits}
            AND n_symbols * 1000 // n_tokens <= ${TextOps.GopherMaxSymbolPermille}
            AND n_dup_bigrams * 1000 // n_bigrams <= ${TextOps.GopherMaxDupBigramPermille}),
        sp AS (SELECT doc_id, i AS p,
                 array_to_string(t[i : i + ${Dedup.DupSpanN - 1}], ' ') AS span
               FROM s, UNNEST(generate_series(1, len(t) - ${Dedup.DupSpanN - 1})) AS u(i)),
        dsc AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) > 1),
        dd AS (SELECT sp.doc_id, least(${Dedup.DupSpanN},
                 coalesce(sp.p - lag(sp.p) OVER (PARTITION BY sp.doc_id ORDER BY sp.p),
                   ${Dedup.DupSpanN})) AS add
               FROM sp JOIN dsc USING (span)),
        cov AS (SELECT doc_id, SUM(add) AS covered FROM dd GROUP BY doc_id),
        dk AS (SELECT s.doc_id FROM s LEFT JOIN cov USING (doc_id)
               WHERE CASE WHEN len(t) > 0 THEN coalesce(covered, 0) * 1000 // len(t) ELSE 0 END
                 <= ${Dedup.DupSpanMaxCoveragePermille}),
        surv AS (SELECT s.doc_id, s.text FROM s
                 JOIN g USING (doc_id) JOIN dk USING (doc_id)),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM surv),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY ALL),
        cnt AS (SELECT token, SUM(tf) AS cnt FROM tf GROUP BY token),
        tot AS (SELECT SUM(cnt) AS t_total FROM cnt),
        nll AS (SELECT token, CAST(ROUND(ln(t_total::DOUBLE / cnt) * 1e6) AS BIGINT) AS nll_micro
                FROM cnt CROSS JOIN tot),
        doc AS (SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * nll_micro) AS s_micro
                FROM tf JOIN nll USING (token) GROUP BY doc_id),
        scored AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     (2 * s_micro + n_tokens) // (2 * n_tokens) AS nll_micro FROM doc),
        ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY nll_micro, doc_id) AS rank,
                     COUNT(*) OVER () AS n FROM scored),
        bk AS (SELECT doc_id, n_tokens,
                 CASE WHEN (rank - 1) * 10 // n < ${TextOps.CcnetHeadTenths} THEN 'head'
                      ELSE 'middle' END AS bucket
               FROM ranked
               WHERE (rank - 1) * 10 // n < ${TextOps.CcnetHeadTenths + TextOps.CcnetMiddleTenths}),
        p AS (SELECT doc_id, n_tokens, bucket,
                SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS tokens_before
              FROM bk)
        SELECT doc_id, n_tokens, bucket,
          CAST(tokens_before // ${Curation.PackBudget} AS BIGINT) AS bin
        FROM p ORDER BY doc_id"""
      }),

      QueryDef("l8_pack", Curation.l8Pack, Some(s"""
        WITH s AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT doc_id, n_tokens,
          SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
        FROM s)
        SELECT CAST(tokens_before // ${Curation.PackBudget} AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY bin ORDER BY bin""")),

      // L8k: shard assembly — DuckDB's ordered string_agg is the
      // single-node twin of the engine's struct-sorted collect_list;
      // md5 pins byte-exact shard content.
      QueryDef("l8_shards", Curation.l8Shards, Some(s"""
        WITH s AS (SELECT doc_id, text,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT doc_id, text, n_tokens,
          SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS tokens_before
        FROM s)
        SELECT CAST(tokens_before // ${Curation.PackBudget} AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          md5(string_agg(text, ' ' ORDER BY doc_id)) AS shard_md5
        FROM c GROUP BY bin ORDER BY bin""")),

      // M4: token-distribution drift — ln ratio snapped once per
      // (group, token) to micro-nats, weighted HALF_UP mean via the
      // sign-decomposed integer DIV (Spark DIV truncates, DuckDB //
      // floors; operands are kept non-negative so both agree).
      QueryDef("m4_drift", Eval.m4Drift, Some("""
        WITH cg AS (SELECT source, token, COUNT(*) AS c_gt
               FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
               GROUP BY ALL),
        ct AS (SELECT token, SUM(c_gt) AS c_t FROM cg GROUP BY token),
        ng AS (SELECT source, SUM(c_gt) AS n_g FROM cg GROUP BY source),
        nt AS (SELECT SUM(c_t) AS n_total FROM ct),
        term AS (SELECT cg.source, cg.c_gt, ng.n_g,
            CAST(ROUND(ln((cg.c_gt * n_total)::DOUBLE / (ct.c_t * ng.n_g)) * 1e6) AS BIGINT)
              AS ln_micro
          FROM cg JOIN ct USING (token) JOIN ng USING (source) CROSS JOIN nt),
        agg AS (SELECT source, MAX(n_g) AS n_tokens, COUNT(*) AS n_token_types,
                  SUM(c_gt * ln_micro) AS s_micro
                FROM term GROUP BY source)
        SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(n_token_types AS BIGINT) AS n_token_types,
          CAST(CASE WHEN s_micro >= 0
               THEN (2 * s_micro + n_tokens) // (2 * n_tokens)
               ELSE -((2 * -s_micro + n_tokens) // (2 * n_tokens)) END AS BIGINT) AS kl_micro
        FROM agg ORDER BY source""")),

      QueryDef("l8_shuffle", Curation.l8Shuffle, Some(s"""
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (
            ORDER BY md5('${Curation.ShuffleSalt}|' || CAST(doc_id AS VARCHAR)), doc_id)
            AS INT) AS pos
        FROM documents ORDER BY pos""")),

      // decontamination replay: the split CASE is l8_split's, the gram
      // comprehension is l6_ngram's at n = DecontamN (range() falls empty
      // below n tokens exactly like the guarded Spark shingles())
      QueryDef("l9_decontam", Curation.l9Decontam, Some {
        val n = Curation.DecontamN
        s"""
        WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t,
          CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
               ELSE 'test' END AS split
          FROM documents),
        g AS (SELECT doc_id, split,
          unnest([array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]) AS gram
          FROM d),
        eg AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
        hit AS (SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram) WHERE g.split = 'train')
        SELECT d.source, COUNT(*) AS n_train,
          CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
          CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END) AS BIGINT) AS contaminated_id_digest
        FROM d LEFT JOIN hit h ON d.doc_id = h.doc_id
        WHERE d.split = 'train'
        GROUP BY d.source ORDER BY d.source"""
      }),

      // L9b FUZZY decontamination: the oracle replays the bipartite
      // banded-minhash probe — keyed-md5 signatures and band folds
      // (identical algebra to the l2/l6 replays), train×test band-bucket
      // join, the conservative size-ratio prune, exact list_intersect
      // Jaccard at τ — then the l9 per-source summary.
      QueryDef("l9_fuzzy_decontam", Curation.l9FuzzyDecontam, Some {
        val bands = Dedup.DefaultBands
        val rowsPerBand = Dedup.DefaultRowsPerBand
        val tau = Dedup.DefaultThreshold
        def sig(i: Int): String = {
          val h = s"md5('${i / 2}:' || t)"
          if (i % 2 == 0)
            s"substr(list_min(list_transform(toks, t -> $h)), 1, 16)"
          else
            s"list_min(list_transform(toks, t -> substr($h, 17, 16)))"
        }
        val bandHashes = (0 until bands).map { b =>
          val rows = (0 until rowsPerBand).map(r => sig(b * rowsPerBand + r))
          s"md5(${rows.mkString(" || '|' || ")})"
        }.mkString(",\n            ")
        val bandIdx = (0 until bands).mkString("[", ",", "]")
        s"""
        WITH d AS (SELECT doc_id, source, text,
          CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
               ELSE 'test' END AS split
          FROM documents),
        tk AS (SELECT doc_id, split, list_distinct(string_split(text, ' ')) AS toks FROM d),
        sigs AS (SELECT doc_id, split, len(toks) AS n,
            [$bandHashes] AS bands
          FROM tk),
        b AS (SELECT doc_id, split, n, unnest(bands) AS band_hash,
            unnest($bandIdx) AS band_idx
          FROM sigs),
        cand AS (SELECT DISTINCT x.doc_id AS train_id, y.doc_id AS bench_id
          FROM b x JOIN b y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
          WHERE x.split = 'train' AND y.split = 'test'
            AND least(x.n, y.n)::DOUBLE >= greatest(x.n, y.n) * $tau - 1e-9),
        ver AS (SELECT DISTINCT train_id AS doc_id
          FROM cand
          JOIN tk ta ON ta.doc_id = cand.train_id
          JOIN tk tb ON tb.doc_id = cand.bench_id
          WHERE len(list_intersect(ta.toks, tb.toks))::DOUBLE
              / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
              >= $tau)
        SELECT d.source, COUNT(*) AS n_train,
          CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
          CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END) AS BIGINT) AS contaminated_id_digest
        FROM d LEFT JOIN ver v ON d.doc_id = v.doc_id
        WHERE d.split = 'train'
        GROUP BY d.source ORDER BY d.source"""
      }),

      // L1c PARAGRAPH dedup: corpus-global first-occurrence keep over
      // fixed 12-token paragraphs + positional reassembly; the oracle
      // replays the chunking, the lexicographic (doc, position) winner
      // (as min-doc-then-min-p, equivalent), the keep flags, and the
      // reassembled text's md5 — so paragraph ORDER and the winner rule
      // are both inside the hash contract.
      QueryDef("l1_para_dedup", Dedup.l1ParaDedup, Some {
        val p = Dedup.ParaTokens
        s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        para AS (SELECT doc_id, i.i AS p,
            array_to_string(t[i.i * $p + 1 : i.i * $p + $p], ' ') AS para
          FROM d, UNNEST(generate_series(0, (len(t) + ${p - 1}) // $p - 1)) AS i(i)),
        w1 AS (SELECT para, MIN(doc_id) AS wd FROM para GROUP BY para),
        w2 AS (SELECT q.para, q.doc_id AS wd, MIN(q.p) AS wp
               FROM para q JOIN w1 ON q.para = w1.para AND q.doc_id = w1.wd
               GROUP BY q.para, q.doc_id),
        k AS (SELECT q.doc_id, q.p, q.para,
                (q.doc_id = w2.wd AND q.p = w2.wp) AS kept
              FROM para q JOIN w2 ON q.para = w2.para)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
          CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          md5(COALESCE(string_agg(para, ' ' ORDER BY p) FILTER (WHERE kept), '')) AS kept_md5
        FROM k GROUP BY doc_id ORDER BY doc_id"""
      }),

      // L9c BLOOM decontamination: the oracle replays the whole filter
      // — both md5 hash lanes, the k=4 double-hash probe positions, the
      // benchmark-derived width m = max(2^17, 16·n_grams to a word) as
      // a scalar subquery (the semCellsFor discipline), and the
      // all-bits-set membership test (as a position-set join,
      // bit-packing being storage not semantics) — so the declared
      // digest pins the bloom's exact output INCLUDING its false
      // positives.
      QueryDef("l9_bloom_decontam", Curation.l9BloomDecontam, Some {
        val n = Curation.DecontamN
        val minM = Curation.BloomMinBits
        val bpg = Curation.BloomBitsPerGram
        val k = Curation.BloomHashes
        s"""
        WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t,
          CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb' THEN 'train'
               WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'val'
               ELSE 'test' END AS split
          FROM documents),
        g AS (SELECT doc_id, split,
          unnest([array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]) AS gram
          FROM d),
        gh AS (SELECT doc_id, split, gram,
            ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h1,
            ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h2
          FROM g),
        mm AS (SELECT GREATEST($minM, 64 * (($bpg * COUNT(DISTINCT gram) + 63) // 64)) AS m
          FROM g WHERE split = 'test'),
        bloom AS (SELECT DISTINCT (h1 + u.i * h2) % mm.m AS pos
          FROM gh, mm, UNNEST(generate_series(0, ${k - 1})) AS u(i)
          WHERE split = 'test'),
        tp AS (SELECT doc_id, gram, u.i, (h1 + u.i * h2) % mm.m AS pos
          FROM gh, mm, UNNEST(generate_series(0, ${k - 1})) AS u(i)
          WHERE split = 'train'),
        hit AS (SELECT DISTINCT doc_id FROM (
          SELECT doc_id, gram FROM tp JOIN bloom USING (pos)
          GROUP BY doc_id, gram HAVING COUNT(DISTINCT i) = $k))
        SELECT d.source, COUNT(*) AS n_train,
          CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
          CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN d.doc_id ELSE 0 END) AS BIGINT) AS flagged_id_digest
        FROM d LEFT JOIN hit h ON d.doc_id = h.doc_id
        WHERE d.split = 'train'
        GROUP BY d.source ORDER BY d.source"""
      }),

      // SQ8 replay: corpus-max |x| scale, signed floor-quantized codes,
      // integer-cosine ranking to 4k candidates, then the shared
      // decimal-exact cosine rescore
      QueryDef("l3_sq_topk", Similarity.l3SqTopK, Some(s"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        px AS (SELECT vec_id, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos FROM e),
        mx AS (SELECT MAX(abs(x)) AS maxabs FROM px),
        codes AS (SELECT vec_id, pos,
            CASE WHEN maxabs = 0 THEN 0
                 ELSE CAST(floor(x / maxabs * 127) AS BIGINT) END AS c
          FROM px, mx),
        qc AS (SELECT pos, c AS qcv FROM codes WHERE vec_id = 0),
        dots AS (SELECT codes.vec_id,
            CAST(SUM(c * qcv) AS BIGINT) AS intdot,
            CAST(SUM(c * c) AS BIGINT) AS na,
            CAST(SUM(qcv * qcv) AS BIGINT) AS nb
          FROM codes JOIN qc USING (pos) GROUP BY codes.vec_id),
        cand AS (SELECT vec_id FROM (
            SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN -2.0
              ELSE intdot / sqrt(CAST(na * nb AS DOUBLE)) END AS approx FROM dots)
          ORDER BY approx DESC, vec_id LIMIT ${Similarity.SqRescoreFactor * 10}),
        q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
        xx AS (SELECT vec_id, label, unnest(emb) AS a, unnest(qe) AS b
          FROM e, q WHERE vec_id IN (SELECT vec_id FROM cand)),
        dd AS (SELECT vec_id, label,
            SUM(CAST(a*b AS DECIMAL(30,15))) AS dot,
            SUM(CAST(a*a AS DECIMAL(30,15))) AS na,
            SUM(CAST(b*b AS DECIMAL(30,15))) AS nb
          FROM xx GROUP BY ALL)
        SELECT vec_id, label,
          ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cosine
        FROM dd ORDER BY cosine DESC, vec_id LIMIT 10""")),

      QueryDef("l5_multimodal", Multimodal.l5Multimodal, Some("""
        SELECT doc_id, lang, source, label,
          CAST(len(embedding) AS INT) AS emb_dim,
          CAST(octet_length(unhex(md5(text))) AS INT) AS payload_len,
          substr(upper(md5(text)), 1, 16) AS payload_hex_head
        FROM documents JOIN embeddings ON doc_id = vec_id
        ORDER BY doc_id""")),

      // L5b: real WAV PCM decode — the engine synthesizes RIFF bytes
      // from the deterministic sample formula, then reads them back
      // through the byte-walk decoder (Multimodal.decodePcmSamples);
      // the oracle replays the FORMULA directly, so any header-walk or
      // 16-bit-LE extraction defect in the decode path surfaces as a
      // hash mismatch. All-integer stats; rms = floor(sqrt) is exact
      // below 2^53 on both engines.
      QueryDef("l5_audio_rms", Multimodal.l5AudioRms, Some("""
        WITH n AS (SELECT doc_id, 64 + doc_id % 64 AS ns FROM documents),
        s AS (SELECT n.doc_id, n.ns,
                ((n.doc_id * 2654435761 + u.i * 40503 + 12345) % 65536) - 32768 AS smp
              FROM n, UNNEST(generate_series(0, n.ns - 1)) AS u(i))
        SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
          CAST(SUM(smp * smp) // ns AS BIGINT) AS mean_square,
          CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
          CAST(FLOOR(SQRT(SUM(smp * smp) // ns)) AS BIGINT) AS rms
        FROM s GROUP BY doc_id, ns ORDER BY doc_id""")),

      // L5c: real BMP pixel decode — the image-side twin of
      // l5_audio_rms: the engine round-trips formula pixels through
      // actual BMP bytes (BGR order, bottom-up rows, 4-byte row
      // padding — the decoder must undo all three) and the oracle
      // replays the channel formula; a layout defect in the decoder
      // surfaces as a hash mismatch. All-integer channel means.
      QueryDef("l5_image_stats", Multimodal.l5ImageStats, Some("""
        WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
                   FROM documents),
        p AS (SELECT d.doc_id, d.w, d.h,
                (d.doc_id * 7 + u.i * 13 + 101) % 256 AS r,
                (d.doc_id * 11 + u.i * 17 + 53) % 256 AS g,
                (d.doc_id * 13 + u.i * 19 + 29) % 256 AS b
              FROM d, UNNEST(generate_series(0, d.w * d.h - 1)) AS u(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        FROM p GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5d: real PNG pixel decode — same synthesize/replay trick as
      // l5_image_stats, but through a COMPRESSED container: the engine
      // deflates formula pixels into genuine PNG bytes (per-row filter
      // type cycling through None/Sub/Up/Average/Paeth) and decodes
      // them back via Inflater + filter reversal; the oracle replays
      // only the pixel formula, so any inflate or filter-arithmetic
      // defect surfaces as a hash mismatch. All-integer channel means.
      QueryDef("l5_png_stats", Multimodal.l5PngStats, Some("""
        WITH d AS (SELECT doc_id, 5 + doc_id % 7 AS w, 3 + doc_id % 5 AS h
                   FROM documents),
        p AS (SELECT d.doc_id, d.w, d.h,
                (d.doc_id * 5 + u.i * 11 + 7) % 256 AS r,
                (d.doc_id * 17 + u.i * 3 + 83) % 256 AS g,
                (d.doc_id * 23 + u.i * 29 + 131) % 256 AS b
              FROM d, UNNEST(generate_series(0, d.w * d.h - 1)) AS u(i))
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        FROM p GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5e: real baseline JPEG pixel decode — the synthesize/replay
      // trick through an ENTROPY-CODED container: the engine Huffman-
      // encodes block-constant formula images into genuine baseline
      // JPEG bytes (Annex K tables, byte stuffing, restart markers on
      // every 5th doc) across all three decoder arms — grayscale,
      // 4:4:4, 4:2:0 with replication upsampling — and decodes them
      // back through Huffman + dequant + IDCT + fixed-point YCbCr→RGB.
      // Block-constant images round-trip EXACTLY under SynthQ (DC
      // quantum 8 — Jpeg.scala's exactness contract), and the color
      // step is a pure integer formula, so the oracle replays expected
      // channel means exactly; any defect in entropy decode, IDCT
      // rounding, upsampling, or color conversion is a hash mismatch.
      // The biased fixed-point form keeps every // operand non-negative
      // (floor == truncate, no negative-division caveats).
      QueryDef("l5_jpeg_stats", Multimodal.l5JpegStats, Some("""
        WITH d AS (SELECT doc_id, doc_id % 3 AS mode,
            CASE WHEN doc_id % 3 = 2 THEN 16 * (1 + doc_id % 2)
                 ELSE 8 * (1 + (doc_id // 3) % 3) END AS w,
            CASE WHEN doc_id % 3 = 2 THEN 16
                 ELSE 8 * (1 + (doc_id // 3) % 2) END AS h,
            CASE WHEN doc_id % 3 = 2 THEN 256 ELSE 64 END AS p
          FROM documents),
        u AS (SELECT d.doc_id, d.mode, d.w, d.h,
            (d.doc_id * 7 + k.k * 29 + 31) % 256 AS y,
            (d.doc_id * 11 + k.k * 17 + 57) % 256 AS cb,
            (d.doc_id * 13 + k.k * 23 + 94) % 256 AS cr
          FROM d, UNNEST(generate_series(0, d.w * d.h // d.p - 1)) AS k(k)),
        c AS (SELECT doc_id, w, h,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS r,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS g,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) END AS b
          FROM u)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // COUNT(*) AS BIGINT) AS mean_r,
          CAST(SUM(g) // COUNT(*) AS BIGINT) AS mean_g,
          CAST(SUM(b) // COUNT(*) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5f: real PROGRESSIVE JPEG pixel decode — the l5_jpeg_stats
      // trick through SOF2's multi-scan pipeline: interleaved DC first
      // scan at Al=1, DC refinement (the successive-approximation OR
      // of the dropped bit — exact in two's complement), per-component
      // AC first + refinement scans whose EOB runs span every block of
      // the component for this block-constant corpus, restart markers
      // (with EOB-run flushes) on every 7th doc. Same fixed-point color
      // formula; dims/constants differ from the sequential corpus so
      // the two queries can't mask each other.
      QueryDef("l5_jpeg_progressive", Multimodal.l5JpegProgressive, Some("""
        WITH d AS (SELECT doc_id, doc_id % 3 AS mode,
            CASE WHEN doc_id % 3 = 2 THEN 16
                 ELSE 8 * (1 + (doc_id // 3) % 2) END AS w,
            CASE WHEN doc_id % 3 = 2 THEN 16 * (1 + doc_id % 2)
                 ELSE 8 * (1 + (doc_id // 3) % 3) END AS h,
            CASE WHEN doc_id % 3 = 2 THEN 256 ELSE 64 END AS p
          FROM documents),
        u AS (SELECT d.doc_id, d.mode, d.w, d.h,
            (d.doc_id * 19 + k.k * 37 + 23) % 256 AS y,
            (d.doc_id * 29 + k.k * 41 + 11) % 256 AS cb,
            (d.doc_id * 31 + k.k * 43 + 201) % 256 AS cr
          FROM d, UNNEST(generate_series(0, d.w * d.h // d.p - 1)) AS k(k)),
        c AS (SELECT doc_id, w, h,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS r,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS g,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) END AS b
          FROM u)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // COUNT(*) AS BIGINT) AS mean_r,
          CAST(SUM(g) // COUNT(*) AS BIGINT) AS mean_g,
          CAST(SUM(b) // COUNT(*) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5h: real GIF pixel decode — the synthesize/replay trick
      // through an LZW-compressed PALETTE container: the engine packs
      // formula palette indices through genuine GIF bytes
      // (variable-width LZW over min code sizes 2..4, 255-byte
      // sub-block chunking, GIF89a + Graphic Control Extension on even
      // docs vs bare GIF87a on odd, 4-pass interlaced row order every
      // third doc) and decodes them back; the oracle replays only the
      // palette formula at index (d + i·5) mod P, so any defect in the
      // LZW table walk, code-width growth, sub-block reassembly,
      // palette lookup, or interlace reordering is a hash mismatch.
      // Real-world interop (vs the JDK's independent ImageIO GIF codec)
      // is pinned both directions in LlmOpsSpec.
      QueryDef("l5_gif_stats", Multimodal.l5GifStats, Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 6 AS h,
                          3 + doc_id % 14 AS p
                   FROM documents),
        px AS (SELECT d.doc_id, d.w, d.h, (d.doc_id + u.i * 5) % d.p AS j
               FROM d, UNNEST(generate_series(0, d.w * d.h - 1)) AS u(i)),
        c AS (SELECT doc_id, w, h,
                (doc_id * 3 + j * 7 + 11) % 256 AS r,
                (doc_id * 5 + j * 13 + 101) % 256 AS g,
                (doc_id * 7 + j * 19 + 59) % 256 AS b
              FROM px)
        SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5i: real VIDEO frame-sample — the synthesize/replay trick
      // lifted to a container OF containers: the engine muxes
      // block-constant JPEG frames into genuine MJPEG-AVI bytes (RIFF
      // chunk tree, word-alignment padding on odd-length frames, idx1
      // index), demuxes them back by walking the movi list, keeps every
      // 2nd frame (the decimation step of a video curation pipeline),
      // and entropy-decodes each kept frame through the engine's own
      // JPEG codec. The oracle replays the per-(frame, block) integer
      // formula on the SAMPLED frame indices only, so a defect in the
      // RIFF walk, the sampling arithmetic, or the frame decode — or a
      // reader that loses frame order — is a hash mismatch. Grayscale
      // on even docs, 4:4:4 color (fixed-point formula) on odd.
      QueryDef("l5_video_frames", Multimodal.l5VideoFrames, Some("""
        WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nf, doc_id % 2 AS mode,
                          8 * (1 + doc_id % 2) AS w,
                          8 * (1 + (doc_id // 2) % 2) AS h
                   FROM documents),
        f AS (SELECT d.doc_id, d.mode, d.w, d.h, u.f
              FROM d, UNNEST(generate_series(0, d.nf - 1)) AS u(f)
              WHERE u.f % 2 = 0),
        u AS (SELECT f.doc_id, f.f, f.mode, f.w, f.h,
                (f.doc_id * 7 + f.f * 31 + k.k * 29 + 19) % 256 AS y,
                (f.doc_id * 11 + f.f * 37 + k.k * 17 + 57) % 256 AS cb,
                (f.doc_id * 13 + f.f * 41 + k.k * 23 + 94) % 256 AS cr
              FROM f, UNNEST(generate_series(0, f.w * f.h // 64 - 1)) AS k(k)),
        c AS (SELECT doc_id, f, w, h,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS r,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) END AS g,
            CASE WHEN mode = 0 THEN y ELSE
              LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) END AS b
          FROM u)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // COUNT(*) AS BIGINT) AS mean_r,
          CAST(SUM(g) // COUNT(*) AS BIGINT) AS mean_g,
          CAST(SUM(b) // COUNT(*) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5m: real MPEG-1 INTRA video — the engine entropy-decodes a
      // genuine 11172-2 elementary stream (sequence/GOP/picture/slice/
      // macroblock layers, DC-prediction chains, VLC sizes, dequant
      // with mismatch control, the shared IDCT, 4:2:0 chroma) that its
      // own conforming I-frame encoder wrote, samples every 2nd
      // picture, and emits channel means; the oracle replays the
      // per-(picture, 8×8-block) integer formula — each block is one
      // flat 64-pixel patch whose chroma comes from its macroblock —
      // so a defect in any bitstream layer, the DC chain, the IDCT
      // scale, or the sampling arithmetic is a hash mismatch.
      QueryDef("l5_mpeg1_frames", Multimodal.l5Mpeg1Frames, Some("""
        WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
                          16 * (1 + doc_id % 2) AS w,
                          16 * (1 + (doc_id // 2) % 2) AS h
                   FROM documents),
        f AS (SELECT d.doc_id, d.w, d.h, u.f
              FROM d, UNNEST(generate_series(0, d.nf - 1)) AS u(f)
              WHERE u.f % 2 = 0),
        blk AS (SELECT f.doc_id, f.w, f.h, f.f, k.k,
                  ((k.k // (f.w // 8)) // 2) * (f.w // 16)
                    + (k.k % (f.w // 8)) // 2 AS m
                FROM f, UNNEST(generate_series(0, (f.w // 8) * (f.h // 8) - 1)) AS k(k)),
        u AS (SELECT doc_id, w, h, f,
                (doc_id * 7 + f * 29 + k * 31 + 23) % 256 AS y,
                (doc_id * 11 + f * 37 + m * 17 + 61) % 256 AS cb,
                (doc_id * 13 + f * 41 + m * 19 + 96) % 256 AS cr
              FROM blk),
        c AS (SELECT doc_id, w, h, f,
            LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS r,
            LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS g,
            LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) AS b
          FROM u)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) * 64 // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) * 64 // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) * 64 // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5n: real MPEG-1 PREDICTED video — each doc is one intra
      // picture plus 1–3 zero-motion P pictures whose per-block odd
      // luma deltas ride the REAL P path (macroblock-type VLC, coded
      // block pattern, dct_coeff_first escapes, non-intra dequant with
      // oddification, residual IDCT, prediction add, reference-frame
      // chaining); the delta family is constructed so reconstruction
      // is exact, and the oracle replays Y_f = Y0 + cumulative-delta
      // as a window sum — a defect anywhere in the P machinery (or a
      // decoder that drops/reorders reference frames) is a hash
      // mismatch on the chained frames.
      QueryDef("l5_mpeg1p_frames", Multimodal.l5Mpeg1PFrames, Some("""
        WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS np,
                          16 * (1 + doc_id % 2) AS w,
                          16 * (1 + (doc_id // 2) % 2) AS h
                   FROM documents),
        fk AS (SELECT d.doc_id, d.w, d.h, u.f, k.k,
                 ((k.k // (d.w // 8)) // 2) * (d.w // 16)
                   + (k.k % (d.w // 8)) // 2 AS m
               FROM d,
                    UNNEST(generate_series(0, d.np)) AS u(f),
                    UNNEST(generate_series(0, (d.w // 8) * (d.h // 8) - 1)) AS k(k)),
        delta AS (SELECT *, CASE WHEN f = 0 THEN 0 ELSE
                    (CASE WHEN (doc_id + f + k) % 2 = 0 THEN 1 ELSE -1 END)
                    * (3 + 2 * ((doc_id + f * 5 + k * 3) % 4)) END AS dlt
                  FROM fk),
        u AS (SELECT doc_id, w, h, f,
                40 + (doc_id * 7 + k * 31 + 23) % 176
                  + SUM(dlt) OVER (PARTITION BY doc_id, k ORDER BY f) AS y,
                (doc_id * 11 + m * 17 + 61) % 256 AS cb,
                (doc_id * 13 + m * 19 + 96) % 256 AS cr
              FROM delta),
        c AS (SELECT doc_id, w, h, f,
            LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS r,
            LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS g,
            LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) AS b
          FROM u)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) * 64 // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) * 64 // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) * 64 // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5o: real MPEG-1 BIDIRECTIONAL video — each doc is the
      // decode-order stream [I, P, B…] whose DISPLAY order is
      // I, B…, P; the engine must run the genuine B machinery (the
      // B macroblock-type VLC, backward f_code, zero-vector fwd/bwd/
      // interpolated prediction with the round-half-away average,
      // odd-delta residuals on top, and the past/future anchor
      // REORDER that emits held anchors at the right display slots);
      // the oracle replays the display-order closed-form arithmetic,
      // so a defect in any B layer — type table, prediction direction,
      // interpolation rounding, or frame ordering — is a hash mismatch.
      QueryDef("l5_mpeg1b_frames", Multimodal.l5Mpeg1BFrames, Some("""
        WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS nb,
                          16 * (1 + doc_id % 2) AS w,
                          16 * (1 + (doc_id // 2) % 2) AS h
                   FROM documents),
        fk AS (SELECT d.doc_id, d.nb, d.w, d.h, u.f, k.k,
                 ((k.k // (d.w // 8)) // 2) * (d.w // 16)
                   + (k.k % (d.w // 8)) // 2 AS m
               FROM d,
                    UNNEST(generate_series(0, d.nb + 1)) AS u(f),
                    UNNEST(generate_series(0, (d.w // 8) * (d.h // 8) - 1)) AS k(k)),
        base AS (SELECT *,
            40 + (doc_id * 7 + k * 31 + 23) % 140 AS y0,
            40 + (doc_id * 7 + k * 31 + 23) % 140
              + (CASE WHEN (doc_id + k) % 2 = 0 THEN 1 ELSE -1 END)
                * (3 + 2 * ((doc_id + k * 3) % 4)) AS yp
          FROM fk),
        u AS (SELECT doc_id, w, h, f,
            CASE
              WHEN f = 0 THEN y0
              WHEN f = nb + 1 THEN yp
              ELSE
                (CASE (doc_id + f) % 3
                   WHEN 0 THEN y0
                   WHEN 1 THEN yp
                   ELSE (y0 + yp + 1) // 2 END)
                + (CASE WHEN (doc_id + f) % 2 = 0 THEN
                     (CASE WHEN (doc_id + f + k) % 2 = 0 THEN 1 ELSE -1 END)
                     * (3 + 2 * ((doc_id + f * 5 + k * 3) % 4))
                   ELSE 0 END)
            END AS y,
            (doc_id * 11 + m * 17 + 61) % 256 AS cb,
            (doc_id * 13 + m * 19 + 96) % 256 AS cr
          FROM base),
        c AS (SELECT doc_id, w, h, f,
            LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS r,
            LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS g,
            LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) AS b
          FROM u)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) * 64 // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) * 64 // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) * 64 // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5p: real MPEG-1 TRICK-MODE video — the fourth 11172-2
      // picture type (D: DC-only blocks with NO end_of_block, the
      // single-entry macroblock-type table, an end_of_macroblock
      // marker per macroblock, all-D sequence constraint) — grammar
      // the I/P/B queries structurally cannot reach; the oracle
      // replays the flat-block arithmetic on the sampled indices with
      // fresh constants vs l5_mpeg1_frames so the two can't mask
      // each other.
      QueryDef("l5_mpeg1d_frames", Multimodal.l5Mpeg1DFrames, Some("""
        WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
                          16 * (1 + doc_id % 2) AS w,
                          16 * (1 + (doc_id // 2) % 2) AS h
                   FROM documents),
        f AS (SELECT d.doc_id, d.w, d.h, u.f
              FROM d, UNNEST(generate_series(0, d.nf - 1)) AS u(f)
              WHERE u.f % 2 = 0),
        blk AS (SELECT f.doc_id, f.w, f.h, f.f, k.k,
                  ((k.k // (f.w // 8)) // 2) * (f.w // 16)
                    + (k.k % (f.w // 8)) // 2 AS m
                FROM f, UNNEST(generate_series(0, (f.w // 8) * (f.h // 8) - 1)) AS k(k)),
        u AS (SELECT doc_id, w, h, f,
                (doc_id * 5 + f * 23 + k * 37 + 11) % 256 AS y,
                (doc_id * 17 + f * 31 + m * 13 + 42) % 256 AS cb,
                (doc_id * 19 + f * 43 + m * 29 + 77) % 256 AS cr
              FROM blk),
        c AS (SELECT doc_id, w, h, f,
            LEAST(255, GREATEST(0, (y * 65536 + 91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS r,
            LEAST(255, GREATEST(0, (y * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS g,
            LEAST(255, GREATEST(0, (y * 65536 + 116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) AS b
          FROM u)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) * 64 // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) * 64 // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) * 64 // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5q: real GZIP ingestion — each doc round-trips through two
      // concatenated RFC-1952 members (the WARC/WET record layout);
      // the engine parses/verifies every framing byte and reassembles
      // the members, and the oracle replays the expected
      // transformation from the original text (length + md5), so any
      // framing, CRC, or member-boundary defect is a hash mismatch.
      QueryDef("l5_gzip_text", Multimodal.l5GzipText, Some("""
        SELECT doc_id, CAST(2 AS INT) AS n_members,
          CAST(length(text) AS INT) AS n_chars,
          md5(text) AS text_md5
        FROM documents ORDER BY doc_id""")),

      // L5s: real MS-RLE8 delta video — palettized run-length opcodes
      // over a persistent canvas; frame 0 is a keyframe and later
      // frames are genuine temporal deltas (the synthesis keeps every
      // third pixel-group constant across frames, so the builder emits
      // real skip escapes the decoder's canvas must honor). The oracle
      // replays the palette + index arithmetic per (frame, pixel).
      QueryDef("l5_rle8_frames", Multimodal.l5Rle8Frames, Some("""
        WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
                          8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
                   FROM documents),
        f AS (SELECT d.doc_id, d.w, d.h, u.f
              FROM d, UNNEST(generate_series(0, d.nf - 1)) AS u(f)),
        px AS (SELECT doc_id, w, h, f,
                 (doc_id * 3 + (i.i // 4) + f * (((i.i // 4) + doc_id) % 3)) % 16 AS k
               FROM f, UNNEST(generate_series(0, f.w * f.h - 1)) AS i(i)),
        c AS (SELECT doc_id, w, h, f,
                (doc_id * 29 + k * 31 + 47) % 256 AS r,
                (doc_id * 37 + k * 41 + 89) % 256 AS g,
                (doc_id * 43 + k * 53 + 3) % 256 AS b
              FROM px)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5j: real image RESIZE — decode, nearest-neighbor resample to
      // 5x3 (output pixel (x2,y2) reads source (x2*w//5, y2*h//3)),
      // BMP re-encode, re-decode, channel means. The oracle replays the
      // index mapping + channel formula, so defects in the resample
      // arithmetic, either BMP codec direction, or the format sniff all
      // surface as hash mismatches. Fresh channel constants vs
      // l5_image_stats so the two queries can't mask each other.
      QueryDef("l5_resize_stats", Multimodal.l5ResizeStats, Some("""
        WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
                   FROM documents),
        grid AS (SELECT d.doc_id, d.w, d.h, u.i AS i2
                 FROM d, UNNEST(generate_series(0, 14)) AS u(i)),
        mp AS (SELECT doc_id, w, h,
                 ((i2 // 5) * h // 3) * w + (i2 % 5) * w // 5 AS i
               FROM grid),
        c AS (SELECT doc_id, w, h,
                (doc_id * 29 + i * 31 + 47) % 256 AS r,
                (doc_id * 37 + i * 41 + 89) % 256 AS g,
                (doc_id * 43 + i * 53 + 3) % 256 AS b
              FROM mp)
        SELECT doc_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
          CAST(5 AS INT) AS width, CAST(3 AS INT) AS height,
          CAST(15 AS BIGINT) AS n_pixels,
          CAST(SUM(r) // 15 AS BIGINT) AS mean_r,
          CAST(SUM(g) // 15 AS BIGINT) AS mean_g,
          CAST(SUM(b) // 15 AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, w, h ORDER BY doc_id""")),

      // L5l: real ANIMATED-GIF frame-sample — last-writer-wins
      // composition with a closed form: frame g is a full-height rect
      // of width W-g, so composited frame f shows frame
      // g* = min(f, W-x-1) at column x (pure integer arithmetic the
      // oracle replays), with the engine walking genuine GIF89a bytes —
      // NETSCAPE loop block, per-frame GCEs, shrinking descriptors,
      // 4-pass interlace inside rects on every 3rd doc, LZW per frame —
      // and compositing onto the logical-screen canvas. A defect in the
      // canvas composition, rect placement, interlace-in-rect order,
      // GCE walk, or frame sampling is a hash mismatch.
      QueryDef("l5_gif_frames", Multimodal.l5GifFrames, Some("""
        WITH d AS (SELECT doc_id, 4 + doc_id % 12 AS p, 6 + doc_id % 6 AS w,
                          4 + doc_id % 4 AS h, 2 + doc_id % 3 AS nf
                   FROM documents),
        f AS (SELECT d.doc_id, d.p, d.w, d.h, u.f
              FROM d, UNNEST(generate_series(0, d.nf - 1)) AS u(f)
              WHERE u.f % 2 = 0),
        px AS (SELECT f.doc_id, f.f, f.w, f.h, f.p,
                 u.i % f.w AS x, u.i // f.w AS y
               FROM f, UNNEST(generate_series(0, f.w * f.h - 1)) AS u(i)),
        jj AS (SELECT doc_id, f, w, h,
                 (doc_id + LEAST(f, w - x - 1) * 7 +
                  (y * (w - LEAST(f, w - x - 1)) + x) * 5) % p AS j
               FROM px),
        c AS (SELECT doc_id, f, w, h,
                (doc_id * 11 + j * 3 + 17) % 256 AS r,
                (doc_id * 13 + j * 23 + 41) % 256 AS g,
                (doc_id * 17 + j * 29 + 103) % 256 AS b
              FROM jj)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          CAST(w * h AS BIGINT) AS n_pixels,
          CAST(SUM(r) // (w * h) AS BIGINT) AS mean_r,
          CAST(SUM(g) // (w * h) AS BIGINT) AS mean_g,
          CAST(SUM(b) // (w * h) AS BIGINT) AS mean_b
        FROM c GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")),

      // L5k: real G.711 telephony decode — µ-law (even docs) and A-law
      // (odd docs) companded bytes through genuine WAV containers
      // (format tags 7/6 at 8 bits), expanded to linear by the ITU
      // formula: complement (µ) / XOR 0x55 (A), mantissa + segment
      // shift, law-specific sign convention. The oracle replays the
      // same bit arithmetic in SQL (255-c is the 8-bit complement; the
      // A-law sign bit SET means positive), so a defect in either
      // expansion, the format-tag dispatch, or the chunk walk is a hash
      // mismatch. Codes sweep the full 0..255 alphabet of both laws.
      QueryDef("l5_g711_rms", Multimodal.l5G711Rms, Some("""
        WITH n AS (SELECT doc_id, 48 + doc_id % 32 AS ns FROM documents),
        s AS (SELECT n.doc_id, n.ns, (n.doc_id * 31 + u.i * 7 + 3) % 256 AS c
              FROM n, UNNEST(generate_series(0, n.ns - 1)) AS u(i)),
        v AS (SELECT doc_id, ns,
          CASE WHEN doc_id % 2 = 0 THEN
            CASE WHEN ((255 - c) & 128) != 0
              THEN 132 - ((((255 - c) & 15) * 8 + 132) * (1 << (((255 - c) & 112) // 16)))
              ELSE ((((255 - c) & 15) * 8 + 132) * (1 << (((255 - c) & 112) // 16))) - 132 END
          ELSE
            (CASE WHEN (xor(c, 85) & 112) // 16 = 0 THEN (xor(c, 85) & 15) * 16 + 8
                  WHEN (xor(c, 85) & 112) // 16 = 1 THEN (xor(c, 85) & 15) * 16 + 264
                  ELSE ((xor(c, 85) & 15) * 16 + 264) * (1 << ((xor(c, 85) & 112) // 16 - 1)) END)
            * (CASE WHEN (xor(c, 85) & 128) != 0 THEN 1 ELSE -1 END)
          END AS smp FROM s)
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
          CAST(ns AS BIGINT) AS n_samples,
          CAST(SUM(smp * smp) // ns AS BIGINT) AS mean_square,
          CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
          CAST(FLOOR(SQRT(SUM(smp * smp) // ns)) AS BIGINT) AS rms
        FROM v GROUP BY doc_id, ns ORDER BY doc_id""")),

      // L5r: real IMA ADPCM decode — per-block state headers through a
      // genuine format-0x11 WAV container, the 89-entry step table,
      // nibble-order and both clamps all on the decode path; the
      // synthesis stays in the index-0 closed-form family (codes
      // {0..3, 8..11} at step 7 → deltas ±{0,1,3,4}), so the oracle
      // replays every sample as a per-(doc, block) window cumsum —
      // the Mpeg1 P-picture discipline on the audio side.
      QueryDef("l5_adpcm_rms", Multimodal.l5AdpcmRms, Some("""
        WITH n AS (SELECT doc_id, 2 + doc_id % 3 AS nb FROM documents),
        bj AS (SELECT n.doc_id, n.nb, b.b, j.j
               FROM n, UNNEST(generate_series(0, n.nb - 1)) AS b(b),
                    UNNEST(generate_series(0, 16)) AS j(j)),
        dl AS (SELECT doc_id, nb, b, j,
                 (doc_id * 13 + b * 47) % 512 - 256 AS s0,
                 CASE WHEN j = 0 THEN 0 ELSE
                   (CASE WHEN (doc_id + b * 3 + (j - 1) * 5) % 8 < 4 THEN 1 ELSE -1 END)
                   * (CASE (doc_id + b * 3 + (j - 1) * 5) % 4
                        WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 4 END)
                 END AS dlt
               FROM bj),
        s AS (SELECT doc_id, nb,
                s0 + SUM(dlt) OVER (PARTITION BY doc_id, b ORDER BY j) AS smp
              FROM dl)
        SELECT doc_id, CAST(nb * 17 AS BIGINT) AS n_samples,
          CAST(SUM(smp * smp) // (nb * 17) AS BIGINT) AS mean_square,
          CAST(MAX(ABS(smp)) AS BIGINT) AS peak,
          CAST(FLOOR(SQRT(SUM(smp * smp) // (nb * 17))) AS BIGINT) AS rms
        FROM s GROUP BY doc_id, nb ORDER BY doc_id""")),

      // Within-doc repetition metrics: per-(doc, token) counts replayed
      // as the same two-stage aggregation; bigram comprehension is the
      // fingerprint oracle's at n=2. All permille metrics integer DIV.
      QueryDef("l4_repetition", TextOps.l4Repetition, Some("""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        pt AS (SELECT doc_id, token, COUNT(*) AS cnt
               FROM (SELECT doc_id, unnest(t) AS token FROM s)
               GROUP BY doc_id, token),
        ts AS (SELECT doc_id,
          CAST(SUM(cnt) AS INT) AS n_tokens,
          CAST(COUNT(*) AS INT) AS n_unique,
          CAST(MAX(cnt) AS INT) AS top_count,
          SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_mass
        FROM pt GROUP BY doc_id),
        gs AS (SELECT doc_id,
          CAST(greatest(len(t) - 1, 0) AS INT) AS n_bigrams,
          CAST(len(list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS INT) AS n_unique_bigrams
        FROM s)
        SELECT ts.doc_id, n_tokens, n_unique, top_count, n_bigrams, n_unique_bigrams,
          CAST(1000 * (n_tokens - n_unique) // n_tokens AS BIGINT) AS dup_token_permille,
          CAST(1000 * top_count // n_tokens AS BIGINT) AS top_token_permille,
          CAST(1000 * dup_mass // n_tokens AS BIGINT) AS dup_mass_permille,
          CAST(CASE WHEN n_bigrams > 0
               THEN 1000 * (n_bigrams - n_unique_bigrams) // n_bigrams
               ELSE 0 END AS BIGINT) AS dup_bigram_permille
        FROM ts JOIN gs ON ts.doc_id = gs.doc_id
        ORDER BY ts.doc_id""")),

      // Token-window chunking: same greatest-clamped chunk count, same
      // 1-based inclusive slice bounds (DuckDB t[a : a+size-1] truncates
      // at the end exactly like Spark's slice(t, a, size))
      QueryDef("l8_chunk", Curation.l8Chunk, Some {
        val (c, st) = (Curation.ChunkSize, Curation.ChunkStride)
        s"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        k AS (SELECT doc_id, t,
          unnest(range(0, greatest(0, (len(t) - $c + ${st - 1}) // $st) + 1)) AS chunk_id
        FROM s)
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
          CAST(len(t[chunk_id * $st + 1 : chunk_id * $st + $c]) AS INT) AS n_tokens,
          array_to_string(t[chunk_id * $st + 1 : chunk_id * $st + $c], ' ') AS chunk_text
        FROM k ORDER BY doc_id, chunk_id"""
      }),

      // HTML boilerplate strip: the engine builds deterministic HTML
      // around the fixture token halves and strips it with the real
      // walker (script skip incl. a stray '<', comment, entity decode,
      // CDATA, block paragraphs, min-token filter dropping the 'T' and
      // 'x' one-token paragraphs); the oracle replays the expected
      // TRANSFORMATION — the clean text reconstructed from the same
      // halves and the synthesis constants (7 non-empty paragraphs, 5
      // kept). Any walker defect shifts the clean text or the counts
      // and hash-mismatches. Fixture precondition (verified tri-scale):
      // docs have ≥ 10 tokens (halves always pass the 2-token filter)
      // and no '&<>"' characters.
      QueryDef("l4_html_strip", TextOps.l4HtmlStrip, Some("""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        h AS (SELECT doc_id,
                array_to_string(t[1 : (len(t)+1)//2], ' ') AS fh,
                array_to_string(t[(len(t)+1)//2 + 1 : len(t)], ' ') AS sh
              FROM s)
        SELECT doc_id, CAST(7 AS INT) AS n_paras, CAST(5 AS INT) AS n_kept,
          'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || fh || chr(10) ||
          sh || ' & <b> AB ok' || chr(10) || 'tail words' || chr(10) ||
          'raw ' || CAST(doc_id AS VARCHAR) AS text_clean
        FROM h ORDER BY doc_id""")),

      // PII scrub: patterns interpolated from the SAME PiiPatterns list
      // the operator applies (ASCII classes — Java regex and RE2 agree);
      // the appended doc-derived contact line makes the redaction real
      QueryDef("l10_pii_scrub", TextOps.l10PiiScrub, Some {
        val Seq((urlP, urlR), (emP, emR), (ipP, ipR)) = TextOps.PiiPatterns
        s"""
        WITH p AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or http://host' ||
               CAST(doc_id AS VARCHAR) || '.example/x via 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
        FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$urlP'))
             + len(regexp_extract_all(text, '$emP'))
             + len(regexp_extract_all(text, '$ipP')) AS BIGINT) AS n_pii,
          md5(text) AS raw_md5,
          regexp_replace(regexp_replace(regexp_replace(text,
            '$urlP', '$urlR', 'g'),
            '$emP', '$emR', 'g'),
            '$ipP', '$ipR', 'g') AS scrubbed
        FROM p ORDER BY doc_id"""
      }),

      // PII v2 (staged counts + Luhn cards + E.164 phones): the oracle
      // replays the check-digit derivation with the same integer fold
      // (odd 1-based positions double with cast-out-nines), the staged
      // regex chain in the same order, and redacts exactly the card it
      // DERIVED as valid — if the engine's Luhn fold wrongly accepts
      // the +1-check-digit sibling (or rejects the valid one), the
      // scrubbed text hash-mismatches. n_cc is the constructed 1:
      // the fixture corpus carries no 16-digit runs (verified across
      // sf0.001/0.01/0.1) and a wrong engine count breaks the compare.
      QueryDef("l10_pii_v2", TextOps.l10PiiV2, Some {
        val Seq((urlP, urlR), (emP, emR), (ipP, ipR)) = TextOps.PiiPatterns
        val phoneP = TextOps.PhonePattern
        s"""
        WITH b AS (SELECT doc_id, text,
            '4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0') AS b15
          FROM documents),
        lu AS (SELECT doc_id, SUM(CASE WHEN i % 2 = 1
                  THEN CASE WHEN 2*d > 9 THEN 2*d - 9 ELSE 2*d END
                  ELSE d END) AS s
               FROM (SELECT doc_id, u.i AS i,
                       ascii(substr(b15, CAST(u.i AS INT), 1)) - 48 AS d
                     FROM b, UNNEST(generate_series(1, 15)) AS u(i))
               GROUP BY doc_id),
        cards AS (SELECT lu.doc_id,
            (10 - s % 10) % 10 AS chk FROM lu),
        p AS (SELECT b.doc_id,
            b.text || ' reach user' || CAST(b.doc_id AS VARCHAR) ||
              '@mail.example or +1' ||
              lpad(CAST(b.doc_id % 1000000000 AS VARCHAR), 9, '0') ||
              ' card ' || b.b15 || CAST(c.chk AS VARCHAR) ||
              ' not ' || b.b15 || CAST((c.chk + 1) % 10 AS VARCHAR) AS text,
            b.b15 || CAST(c.chk AS VARCHAR) AS valid_cc
          FROM b JOIN cards c USING (doc_id)),
        q1 AS (SELECT doc_id, valid_cc,
            CAST(len(regexp_extract_all(text, '$urlP')) AS BIGINT) AS n_url,
            regexp_replace(text, '$urlP', '$urlR', 'g') AS t FROM p),
        q2 AS (SELECT doc_id, valid_cc, n_url,
            CAST(len(regexp_extract_all(t, '$emP')) AS BIGINT) AS n_email,
            regexp_replace(t, '$emP', '$emR', 'g') AS t FROM q1),
        q3 AS (SELECT doc_id, valid_cc, n_url, n_email,
            CAST(len(regexp_extract_all(t, '$ipP')) AS BIGINT) AS n_ip,
            regexp_replace(t, '$ipP', '$ipR', 'g') AS t FROM q2),
        q4 AS (SELECT doc_id, valid_cc, n_url, n_email, n_ip,
            CAST(len(regexp_extract_all(t, '$phoneP')) AS BIGINT) AS n_phone,
            regexp_replace(t, '$phoneP', '<PHONE>', 'g') AS t FROM q3)
        SELECT doc_id, n_url, n_email, n_ip, n_phone,
          CAST(1 AS BIGINT) AS n_cc,
          replace(t, valid_cc, '<CC>') AS scrubbed
        FROM q4 ORDER BY doc_id"""
      }),
    )
  }

  /** F1–F7 + J7 + A7 (SURVEY.md §2.7, §2.3, §2.4). */
  val fns: Seq[QueryDef] = Seq(
    QueryDef("f1_string", FnQueries.f1String, Some("""
      SELECT doc_id,
        substr(text, 1, 20) AS head,
        upper(substr(text, 1, 10)) AS up_head,
        CAST(length(text) AS INT) AS len,
        split_part(text, ' ', 1) AS first_tok,
        lpad(lang, 5, '_') AS lang_pad,
        CAST(strpos(text, 'spark') AS INT) AS spark_pos,
        regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
        replace(substr(text, 1, 20), ' ', '-') AS dashed,
        lang || '-' || source AS lang_src,
        trim('  x  ') AS trimmed
      FROM documents ORDER BY doc_id""")),

    QueryDef("f2_datetime", FnQueries.f2Datetime, Some("""
      SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        COUNT(*) AS n,
        CAST(MIN(day(o_orderdate)) AS INT) AS min_day,
        CAST(MAX(day(o_orderdate)) AS INT) AS max_day,
        epoch_us(date_trunc('month', MIN(o_orderdate))) AS month_start_us,
        epoch_us(MIN(o_orderdate) + INTERVAL 30 DAY) AS plus30d_us,
        CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS INT) AS span_days
      FROM orders GROUP BY 1, 2 ORDER BY y, m""")),

    QueryDef("f3_math", FnQueries.f3Math, Some("""
      SELECT l_orderkey, l_linenumber,
        abs(l_discount - 0.05) AS abs_disc_gap,
        CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        ROUND(sqrt(l_quantity), 6) AS qty_sqrt,
        ((l_partkey % 7) + 7) % 7 AS pk_mod7,
        greatest(l_tax, l_discount) AS max_rate,
        least(l_tax, l_discount) AS min_rate,
        ROUND(l_extendedprice * 0.1, 3) AS tithe
      FROM lineitem WHERE l_orderkey < 100
      ORDER BY l_orderkey, l_linenumber""")),

    QueryDef("f4_array", FnQueries.f4Array, Some("""
      WITH s AS (SELECT vec_id, embedding, list_sort(list_slice(embedding, 1, 3)) AS f3 FROM embeddings)
      SELECT vec_id,
        CAST(len(embedding) AS INT) AS emb_dim,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        CAST(list_max(embedding) AS DOUBLE) AS max_elem,
        CAST(list_min(embedding) AS DOUBLE) AS min_elem,
        CAST(f3[1] AS DOUBLE) AS f3_lo, CAST(f3[2] AS DOUBLE) AS f3_mid, CAST(f3[3] AS DOUBLE) AS f3_hi,
        ROUND(CAST(list_sum(list_transform(list_slice(embedding, 1, 8),
          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15)))) AS DOUBLE), 6) AS head8_sum
      FROM s ORDER BY vec_id""")),

    QueryDef("f4_explode", FnQueries.f4Explode, Some("""
      SELECT vec_id, 0 AS pos, CAST(embedding[1] AS DOUBLE) AS val FROM embeddings WHERE vec_id < 50
      UNION ALL SELECT vec_id, 1, CAST(embedding[2] AS DOUBLE) FROM embeddings WHERE vec_id < 50
      UNION ALL SELECT vec_id, 2, CAST(embedding[3] AS DOUBLE) FROM embeddings WHERE vec_id < 50
      ORDER BY vec_id, pos""")),

    QueryDef("f4_hof", FnQueries.f4Hof, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
      SELECT vec_id,
        len(list_filter(emb, x -> x > 0.9)) > 0 AS has_hot,
        len(list_filter(emb, x -> NOT abs(x) <= 1.0)) = 0 AS all_unit,
        CAST(len(list_filter(emb, x -> x > -0.5 AND x < 0.5)) AS INT) AS n_mid,
        CAST(len(list_filter([emb[i] > emb[len(emb)-i+1] for i in range(1, len(emb)+1)], x -> x)) AS INT) AS n_gt_mirror
      FROM e
      ORDER BY vec_id""")),

    QueryDef("f5_map", FnQueries.f5Map, Some("""
      SELECT k, v, n FROM (
        SELECT 'type' AS k, event_type AS v, COUNT(*) AS n FROM events GROUP BY event_type
        UNION ALL
        SELECT 'band' AS k, CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS v, COUNT(*) AS n
        FROM events GROUP BY 2)
      ORDER BY k, v""")),

    QueryDef("f6_json", FnQueries.f6Json, Some("""
      WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(k) AS BIGINT) AS sum_k,
        MIN(k) AS min_k, MAX(k) AS max_k,
        CAST(COUNT(k) AS BIGINT) AS n_paths_agree
      FROM e GROUP BY event_type ORDER BY event_type""")),

    QueryDef("f7_hash", FnQueries.f7Hash, Some("""
      SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256,
        md5(c_name || '|' || c_mktsegment) AS composite_md5
      FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""")),

    // DuckDB's ^ is exponentiation, so xor is spelled as a function; its
    // bit_count lands TINYINT → cast to Spark's INT
    QueryDef("f8_bitwise", FnQueries.f8Bitwise, Some("""
      SELECT o_orderkey,
        o_orderkey & 255 AS band,
        o_orderkey | o_custkey AS bor,
        xor(o_orderkey, o_custkey) AS bxor,
        o_custkey << 4 AS shl,
        o_orderkey >> 2 AS shr,
        CAST(bit_count(o_orderkey) AS INT) AS popcnt
      FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""")),

    QueryDef("j7_asof", AsOf.j7AsOf, Some("""
      SELECT p.user_id, p.event_id AS purchase_id,
        epoch_us(p.ts) AS purchase_ts_us,
        epoch_us(c.ts) AS click_ts_us,
        epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      FROM (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.user_id, purchase_id""")),

    QueryDef("a7_weighted_udaf", WeightedAvg.a7WeightedAvg, Some("""
      SELECT l_returnflag,
        CAST((CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,12))) * 1000000000000 AS HUGEINT) * 20000
              + CAST(SUM(CAST(l_quantity AS DECIMAL(30,12))) * 1000000000000 AS HUGEINT))
          // (CAST(SUM(CAST(l_quantity AS DECIMAL(30,12))) * 1000000000000 AS HUGEINT) * 2) AS DOUBLE) / 10000.0 AS wavg_price,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Misra–Gries frequent-items sketch in its exact regime (25-brand
    // domain under a 32-slot summary → no decrement ever fires), so the
    // plain GROUP BY is the precise oracle; under-capacity error bounds
    // are property-tested instead (PropertiesSpec)
    QueryDef("a8_freq_items", FreqItems.a8FreqItems, Some("""
      SELECT p_brand AS item, COUNT(*) AS cnt
      FROM part
      GROUP BY p_brand
      ORDER BY cnt DESC, item""")),
  )

  /** S10: the SQL-STRING entry point, declared end-to-end. ONE portable
    * SQL text is both the engine query (spark.sql over
    * [[Tables.registerViews]] temp views) and the DuckDB oracle — the
    * strongest possible pin that the registered-view surface gives a
    * SQL user cross-engine-correct answers with zero translation. The
    * text keeps to the shared dialect (CAST/ROUND/JOIN/GROUP BY; money
    * snapped to integer cents BEFORE the sum, the Det discipline, so no
    * float accumulation order enters the contract; outer CAST because
    * DuckDB's SUM(BIGINT) is HUGEINT).
    */
  private val sqlEntryText = """
      SELECT n_name,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""

  val sqlEntry: Seq[QueryDef] = Seq(
    QueryDef("s10_sql_entry", (spark, dir) => {
      Tables(spark, dir).registerViews()
      spark.sql(sqlEntryText)
    }, Some(sqlEntryText)))

  def all: Seq[QueryDef] = relational ++ llm ++ fns ++ sqlEntry

  /** Per-(session, query, dir) memo of BUILT (lazy) frames — the
    * l0_pipeline/l6DedupDocs discipline generalized to the declared
    * queries whose frame CONSTRUCTION is analysis-dominated: Spark's
    * eager per-op Catalyst analysis costs 0.2–0.6 s per invocation on
    * these trees (measured warm), paid again on every
    * re-declaration of an identical query. The memo caches the PLAN, not
    * results: every action on the returned frame still computes from the
    * parquet inputs (plus the session's established persist/checkpoint
    * pins). Opt-IN only, and deliberately NOT applied to queries whose
    * construction runs side effects or pins its own output rows — the MQ
    * drain snapshot (s2_admission), the file-roundtrip writers (s6_*),
    * and the iterative forms whose loop actions produce checkpointed
    * score/label frames (g1_*, g3, l1_substr_dedup_fix) — so each of
    * those still re-executes its real work per invocation. A query that
    * pins only REFERENCE state at construction, not its output rows, is
    * memoized on purpose: l8_importance_gate checkpoints its reference
    * quarter's NLL table and score bounds once per (session, dir), the
    * offline-reference posture [[graft.operators.Curation.importanceRef]]
    * documents, and every action still scores the corpus afresh.
    */
  private val FrameMemo = new graft.SessionCache[String, org.apache.spark.sql.DataFrame]
  private val MemoFrames: Set[String] = Set(
    "s10_sql_entry", "s9_constraints", "l8_importance_gate",
    "l6_ngram_simjoin", "q5_local_supplier", "q7_volume", "q3_join_agg",
    "a3_approx_distinct", "a6_stats", "a6_stats_approx", "a10_equi_depth",
    "g2_triangles", "j10_fuzzy_join", "m2_ann_recall", "m5_ndcg",
    "l3_ann_bucket", "l3_ann_multiprobe", "l3_batch_topk",
    "l3_cosine_topk", "l3_filtered_topk", "l3_ivf_topk", "l3_knn_graph",
    "l3_pq_topk", "l3_sq_topk")

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] =
    all.map { d =>
      val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
        if (MemoFrames(d.name))
          (s, dir) => FrameMemo.getOrElseUpdate(s, s"${d.name}|$dir")(d.fn(s, dir))
        else d.fn
      d.name -> fn
    }.toMap

  // NOTE: no whitespace collapsing here — it would rewrite spacing inside
  // quoted SQL literals; Verify's JSON escaping already handles newlines.
  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(o => d.name -> o.stripMargin.trim)).toMap
}
