package graft.queries

import graft.{Engine, Q}
import graft.functions.GraftWindowFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window-function surface (reference: WindowAggExec / BoundedWindowAggExec,
  * datafusion/physical-plan/src/windows/window_agg_exec.rs:52,
  * bounded_window_agg_exec.rs:72; built-ins
  * expr/src/built_in_window_function.rs:42-71; frames
  * expr/src/window_frame.rs:41-47: ROWS/RANGE/GROUPS — Spark lacks GROUPS,
  * documented gap, emulated via dense_rank+range when needed).
  *
  * Scale: each window spec = one shuffle on partitionBy keys + in-partition
  * sort. All queries here share one partitioning per query so Catalyst plans
  * a single Exchange; skewed partition keys at 100 TB would use a two-level
  * (salted prefix-agg) rewrite for the agg-over-window cases.
  */
object WindowQueries {

  val defs: Map[String, Q] = Map(
    // ── ranking functions ────────────────────────────────────────────────
    "window_ranking" -> Q("""
      |SELECT c_custkey,
      |       CAST(row_number() OVER w AS BIGINT) AS rn,
      |       CAST(rank()       OVER w AS BIGINT) AS rnk,
      |       CAST(dense_rank() OVER w AS BIGINT) AS drnk
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_custkey""") { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Engine.table(s, d, "customer")
        .select(col("c_custkey"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy(col("c_custkey"))
    },

    // ── distribution functions + ntile ───────────────────────────────────
    "window_distribution" -> Q("""
      |SELECT c_custkey,
      |       round(percent_rank() OVER w + 0.000000001, 6) AS pr,
      |       round(cume_dist() OVER w + 0.000000001, 6) AS cd,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""") { (s, d) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Engine.table(s, d, "customer")
        .select(col("c_custkey"),
          round(percent_rank().over(w) + 1e-9, 6).as("pr"),
          round(cume_dist().over(w) + 1e-9, 6).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("c_custkey"))
    },

    // ── lag / lead with defaults ─────────────────────────────────────────
    "window_lag_lead" -> Q("""
      |SELECT o_orderkey,
      |       lag(o_totalprice, 1, -1.0)  OVER w AS prev_price,
      |       lead(o_totalprice, 1, -1.0) OVER w AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          lag(col("o_totalprice"), 1, -1.0).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"))
        .orderBy(col("o_orderkey"))
    },

    // ── ROWS frame: running sum + moving average ─────────────────────────
    "window_frame_rows" -> Q("""
      |SELECT o_orderkey,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
      |       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_sum"),
          round(avg(col("o_totalprice"))
            .over(w.rowsBetween(-2, Window.currentRow)), 4).as("moving_avg"))
        .orderBy(col("o_orderkey"))
    },

    // ── RANGE frame over a numeric ordering ──────────────────────────────
    "window_frame_range" -> Q("""
      |SELECT o_orderkey,
      |       CAST(count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
      |             RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_cheaper
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          expr("""count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                  RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)""")
            .cast("long").as("near_cheaper"))
        .orderBy(col("o_orderkey"))
    },

    // ── RANGE frame with an INTERVAL bound over timestamp ordering (the
    //    typed-bound variant of window_frame_range; reference:
    //    expr/src/window_frame.rs:313-327 coerces RANGE bounds to the
    //    order column's type — for timestamps that is an interval).
    //    ts anchors to whole seconds on both engines (ns-vs-µs parquet
    //    truncation would otherwise shift frame boundaries) ────────────────
    "window_range_interval" -> Q("""
      |SELECT event_id,
      |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
      |       round(sum(value) OVER w + 0.000000001, 2) AS v_1h
      |FROM (SELECT event_id, user_id, value,
      |             date_trunc('second', CAST(ts AS TIMESTAMP)) AS t
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY t
      |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""
        SELECT event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_1h,
               round(sum(value) OVER w + 1e-9, 2) AS v_1h
        FROM (SELECT event_id, user_id, value,
                     date_trunc('second', ts) AS t
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY t
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")
    },

    // ── IGNORE NULLS variants (reference: ignore_nulls on window exprs,
    //    expr/src/expr.rs WindowFunction + physical-expr nth_value/lead_lag
    //    evaluators). Spark: first/last/nth_value/lag/lead all take an
    //    ignoreNulls flag; lag/lead need a frameless window spec (Spark
    //    rejects explicit frames on offset functions — DuckDB ignores
    //    the frame for them, so one named window serves its side) ─────────
    "window_ignore_nulls" -> Q("""
      |SELECT o_orderkey,
      |       first_value(v IGNORE NULLS) OVER w AS fv,
      |       last_value(v IGNORE NULLS) OVER w AS lv,
      |       nth_value(v, 2 IGNORE NULLS) OVER w AS nv2,
      |       lag(v, 1 IGNORE NULLS) OVER w AS lg,
      |       lead(v, 1 IGNORE NULLS) OVER w AS ld
      |FROM (SELECT o_orderkey, o_custkey,
      |             CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |                  ELSE o_totalprice END AS v
      |      FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""") { (s, d) =>
      val framed = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offset = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 3 === 0, lit(null))
            .otherwise(col("o_totalprice")).as("v"))
        .select(col("o_orderkey"),
          first(col("v"), ignoreNulls = true).over(framed).as("fv"),
          last(col("v"), ignoreNulls = true).over(framed).as("lv"),
          nth_value(col("v"), 2, ignoreNulls = true).over(framed).as("nv2"),
          lag(col("v"), 1, null, ignoreNulls = true).over(offset).as("lg"),
          lead(col("v"), 1, null, ignoreNulls = true).over(offset).as("ld"))
        .orderBy(col("o_orderkey"))
    },

    // ── first_value / last_value / nth_value over full-partition frame ───
    "window_first_last_nth" -> Q("""
      |SELECT o_orderkey,
      |       first_value(o_orderkey) OVER w AS first_ok,
      |       last_value(o_orderkey)  OVER w AS last_ok,
      |       nth_value(o_orderkey, 2) OVER w AS second_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy(col("o_orderkey"))
    },

    // ── arbitrary aggregate over unordered window (whole partition) ──────
    "window_partition_agg" -> Q("""
      |SELECT o_orderkey,
      |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total,
      |       CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS cust_orders,
      |       round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
      |         AS share
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("cust_total"),
          count(lit(1)).over(w).cast("long").as("cust_orders"),
          round(col("o_totalprice") / sum(col("o_totalprice")).over(w), 6)
            .as("share"))
        .orderBy(col("o_orderkey"))
    },

    // ── GROUPS-frame gap emulation: count of distinct-order-value peers ──
    // DataFusion supports GROUPS frames (window_frame.rs:313-327); Spark
    // does not. Emulate "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW" by
    // bucketing ties with dense_rank, then a range frame over the rank.
    "window_groups_emulated" -> Q("""
      |SELECT o_orderkey, CAST(grp_cnt AS BIGINT) AS grp_cnt FROM (
      |  SELECT o_orderkey,
      |         count(*) OVER (PARTITION BY o_orderstatus ORDER BY dr
      |                        RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS grp_cnt
      |  FROM (SELECT o_orderkey, o_orderstatus,
      |               dense_rank() OVER (PARTITION BY o_orderstatus
      |                                  ORDER BY o_orderpriority) AS dr
      |        FROM orders))
      |ORDER BY o_orderkey""") { (s, d) =>
      val wRank = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      val wRange = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("dr")).rangeBetween(-1, Window.currentRow)
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(wRank).as("dr"))
        .select(col("o_orderkey"),
          count(lit(1)).over(wRange).cast("long").as("grp_cnt"))
        .orderBy(col("o_orderkey"))
    },

    // ── NATIVE GROUPS frame: single-pass custom AggregateWindowFunction
    //    (functions/WindowExpressions.GroupsSum) vs the 2-pass dense_rank
    //    emulation as the oracle — DuckDB itself has no GROUPS mode
    //    ("not implemented yet", probed 2026-08-13), so the two engines
    //    derive the same frame by entirely different routes ──────────────
    "window_groups_native" -> Q("""
      |WITH ranked AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey,
      |         dense_rank() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_orderpriority) AS dr
      |  FROM orders)
      |SELECT o_orderkey,
      |       CAST(count(*) OVER w AS BIGINT) AS grp_cnt,
      |       CAST(sum(o_custkey) OVER w AS BIGINT) AS cust_sum
      |FROM ranked
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY dr
      |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          GraftWindowFunctions.groupsCount(col("o_orderpriority"), 2)
            .over(w).as("grp_cnt"),
          GraftWindowFunctions.groupsSum(col("o_custkey"),
            col("o_orderpriority"), 2).over(w).as("cust_sum"))
        .orderBy(col("o_orderkey"))
    },

    // ── native GROUPS frame min/max/avg: the extremum ring needs no
    //    subtraction on eviction, avg composes sum/count; oracle
    //    emulates GROUPS via RANGE over dense_rank ──────────────────────
    "window_groups_minmax" -> Q("""
      |WITH ranked AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey,
      |         dense_rank() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_orderpriority) AS dr
      |  FROM orders)
      |SELECT o_orderkey,
      |       CAST(min(o_custkey) OVER w AS BIGINT) AS cust_min,
      |       CAST(max(o_custkey) OVER w AS BIGINT) AS cust_max,
      |       round(avg(CAST(o_custkey AS BIGINT)) OVER w, 4) AS cust_avg
      |FROM ranked
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY dr
      |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          GraftWindowFunctions.groupsMin(col("o_custkey"),
            col("o_orderpriority"), 2).over(w).as("cust_min"),
          GraftWindowFunctions.groupsMax(col("o_custkey"),
            col("o_orderpriority"), 2).over(w).as("cust_max"),
          round(GraftWindowFunctions.groupsAvg(col("o_custkey"),
            col("o_orderpriority"), 2, w), 4).as("cust_avg"))
        .orderBy(col("o_orderkey"))
    },

    // ── native GROUPS frame first_value/last_value — the type-GENERIC
    //    ring tier (GroupsEdge holds the value's own type; here STRING):
    //    the value is functionally dependent on the peer key (edge
    //    picks within a peer group are otherwise tie-nondeterministic
    //    on BOTH engines), which still pins ring eviction and the
    //    partition-start clipping. Oracle emulates GROUPS via RANGE
    //    over dense_rank like the rest of the family ────────────────────
    "window_groups_first_last" -> Q("""
      |WITH ranked AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |         dense_rank() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_orderpriority) AS dr
      |  FROM orders)
      |SELECT o_orderkey,
      |       first_value(upper(o_orderpriority)) OVER w AS first_prio,
      |       last_value(upper(o_orderpriority)) OVER w AS last_prio
      |FROM ranked
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY dr
      |             RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""") { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          GraftWindowFunctions.groupsFirst(upper(col("o_orderpriority")),
            col("o_orderpriority"), 2).over(w).as("first_prio"),
          GraftWindowFunctions.groupsLast(upper(col("o_orderpriority")),
            col("o_orderpriority"), 2).over(w).as("last_prio"))
        .orderBy(col("o_orderkey"))
    },

    // ── native GROUPS frame, two-sided: GROUPS BETWEEN 1 PRECEDING AND
    //    2 FOLLOWING — composed from opposite-direction streaming passes
    //    (asc(a) + desc(b) - current group); oracle emulates GROUPS via
    //    RANGE over dense_rank (DuckDB has no GROUPS mode either) ────────
    "window_groups_between" -> Q("""
      |WITH ranked AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey,
      |         dense_rank() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_orderpriority) AS dr
      |  FROM orders)
      |SELECT o_orderkey,
      |       CAST(sum(o_custkey) OVER w AS BIGINT) AS cust_sum
      |FROM ranked
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY dr
      |             RANGE BETWEEN 1 PRECEDING AND 2 FOLLOWING)
      |ORDER BY o_orderkey""") { (s, d) =>
      // the three windowed passes land in their own projections (r14):
      // the single-Column groupsSumBetween references its asc-window
      // sums twice (null test + coalesce), and Spark's window
      // extraction evaluated each reference as a SEPARATE window
      // expression (5 evals where 3 suffice); withColumn intermediates
      // make them attribute refs, and CollapseWindow still merges the
      // two asc passes into one Window operator — same 2 sorts, 3
      // window evals. Same algebra as groupsSumBetween (OperatorSpec
      // pins that Column form against this frame's semantics).
      val asc = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority").asc)
      val desc = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority").desc)
      Engine.table(s, d, "orders")
        .withColumn("__up", GraftWindowFunctions.groupsSum(
          col("o_custkey"), col("o_orderpriority"), 1).over(asc))
        .withColumn("__cur", GraftWindowFunctions.groupsSum(
          col("o_custkey"), col("o_orderpriority"), 0).over(asc))
        .withColumn("__down", GraftWindowFunctions.groupsSum(
          col("o_custkey"), col("o_orderpriority"), 2).over(desc))
        .select(col("o_orderkey"),
          when(col("__up").isNull && col("__down").isNull,
            lit(null).cast("long"))
            .otherwise(coalesce(col("__up"), lit(0L))
              + coalesce(col("__down"), lit(0L))
              - coalesce(col("__cur"), lit(0L)))
            .as("cust_sum"))
        .orderBy(col("o_orderkey"))
    },

    // ── UDWF: custom AggregateWindowFunction (running EWMA fold) ─────────
    // Reference capability: WindowUDFImpl/PartitionEvaluator (udwf.rs:251).
    // Not expressible with built-in window aggregates — the state is a
    // fold. Oracle re-derives it via list(x) OVER running window +
    // list_reduce; both engines fold the same doubles in the same order,
    // so raw double output is bit-identical (no rounding needed).
    // ordering includes l_quantity: testdata lineitem has duplicate
    // (orderkey, linenumber) pairs, and a tie in the fold ORDER would be
    // resolved differently per engine; ties in quantity itself cannot
    // change the fold value.
    "window_udwf_ewma" -> Q("""
      |SELECT l_orderkey, l_linenumber,
      |       list_reduce(
      |         list(CAST(l_quantity AS DOUBLE))
      |           OVER (PARTITION BY l_orderkey
      |                 ORDER BY l_linenumber, l_quantity
      |                 ROWS UNBOUNDED PRECEDING),
      |         (acc, x) -> 0.3*x + (1.0-0.3)*acc) AS ewma
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"))
      Engine.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          GraftWindowFunctions.ewma(col("l_quantity"), 0.3).over(w).as("ewma"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ── frame EXCLUDE clause, emulated (reference: WindowFrame has no
    //    EXCLUDE either — SQL:2016 feature; DuckDB runs it natively, which
    //    makes it the oracle). Spark rewrite over the SAME shuffled
    //    partitioning (one Exchange, extra window columns are free):
    //      EXCLUDE CURRENT ROW  = frame_sum − own value   (NULL if frame
    //                             held only the current row)
    //      EXCLUDE GROUP        = frame_sum − peer_sum    (NULL if frame
    //                             was exactly the peer group)
    //      EXCLUDE TIES         = frame_sum − peer_sum + own value
    //    l_quantity is integral, so double sums are exact and the
    //    subtraction form is bit-equal to summing the remaining set. ──────
    "window_exclude_emulated" -> Q("""
      |SELECT l_orderkey, l_linenumber,
      |       sum(l_quantity) OVER wrx AS sum_rows_excl_cur,
      |       sum(l_quantity) OVER wgx AS sum_range_excl_group,
      |       sum(l_quantity) OVER wtx AS sum_range_excl_ties
      |FROM lineitem
      |WINDOW
      |  wrx AS (PARTITION BY l_suppkey
      |          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING EXCLUDE CURRENT ROW),
      |  wgx AS (PARTITION BY l_suppkey
      |          ORDER BY date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |          RANGE BETWEEN 7 PRECEDING AND 7 FOLLOWING EXCLUDE GROUP),
      |  wtx AS (PARTITION BY l_suppkey
      |          ORDER BY date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |          RANGE BETWEEN 7 PRECEDING AND 7 FOLLOWING EXCLUDE TIES)
      |ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      val qty = col("l_quantity")
      // l_quantity in the ORDER BY: lineitem has duplicate (orderkey,
      // linenumber) pairs, and a ROWS frame needs a TOTAL order over the
      // summed value or frame contents depend on physical row order
      val wRows = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
        .rowsBetween(-3, 3)
      val wRange = Window.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rangeBetween(-7, 7)
      // peer-group aggregates as a zero-width RANGE frame — same
      // partitioning AND ordering as wRange, so Catalyst plans ONE
      // exchange+sort for both (a partitionBy(suppkey, day) window would
      // add a third shuffle)
      val wPeers = Window.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rangeBetween(0, 0)
      // let-bind each window aggregate ONCE (r15, same duplicate-window-
      // expression elimination as window_groups_between in r14: Catalyst
      // does NOT collapse textually repeated window expressions — the
      // select form evaluated sum-over-wRange and sum-over-wPeers twice
      // each, 6 exprs in the range Window node; withColumn makes the
      // reuses attribute refs, 6 → 4). Same algebra, same two sorts.
      Engine.table(s, d, "lineitem")
        .withColumn("day",
          datediff(to_date(col("l_shipdate")), lit("1992-01-01").cast("date")))
        .withColumn("cnt_rows", count(qty).over(wRows))
        .withColumn("sum_rows", sum(qty).over(wRows))
        .withColumn("cnt_range", count(qty).over(wRange))
        .withColumn("cnt_peers", count(qty).over(wPeers))
        .withColumn("sum_range", sum(qty).over(wRange))
        .withColumn("sum_peers", sum(qty).over(wPeers))
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("cnt_rows") === 1, lit(null))
            .otherwise(col("sum_rows") - qty).as("sum_rows_excl_cur"),
          when(col("cnt_range") === col("cnt_peers"), lit(null))
            .otherwise(col("sum_range") - col("sum_peers"))
            .as("sum_range_excl_group"),
          (col("sum_range") - col("sum_peers") + qty)
            .as("sum_range_excl_ties"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }
  )
}
