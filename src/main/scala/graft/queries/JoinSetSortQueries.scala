package graft.queries

import graft.{Engine, Q}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join-type matrix (reference: all 8 join types,
  * datafusion/common/src/join_type.rs:30-47, residual non-equi filters via
  * joins/utils.rs JoinFilter; NestedLoopJoinExec joins/nested_loop_join.rs:141;
  * CrossJoinExec joins/cross_join.rs:55), set operations
  * (physical-plan/src/union.rs:89; INTERSECT/EXCEPT planned as semi/anti —
  * expr/src/logical_plan/builder.rs), and sort/limit/distinct
  * (sorts/sort.rs:668, limit.rs:43,267, replace_distinct_aggregate.rs).
  *
  * Scale notes: outer/semi/anti joins shuffle on their keys (sort-merge by
  * default, AQE may pick shuffled-hash); the cross and theta joins here are
  * deliberately dimension×dimension (≤ thousands of rows broadcast) — at
  * 100 TB a fact×fact theta join would need a range-bucketing rewrite
  * instead.
  */
object JoinSetSortQueries {

  val defs: Map[String, Q] = Map(
    // ── inner join with equi keys + non-equi residual filter ─────────────
    "join_inner_residual" -> Q("""
      |SELECT o_orderstatus, count(*) AS n
      |FROM orders JOIN lineitem
      |  ON o_orderkey = l_orderkey AND l_quantity > 45 AND l_shipdate > o_orderdate
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, d) =>
      val o = Engine.table(s, d, "orders")
      val l = Engine.table(s, d, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_quantity") > 45 && l("l_shipdate") > o("o_orderdate"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },

    // ── left outer join, row-level output with nullable right side ───────
    "join_left_outer" -> Q("""
      |SELECT c_custkey, o_orderkey
      |FROM customer LEFT OUTER JOIN orders
      |  ON c_custkey = o_custkey AND o_totalprice > 4000.0
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      val o = Engine.table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey") &&
          o("o_totalprice") > 4000.0, "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // ── right outer join ─────────────────────────────────────────────────
    "join_right_outer" -> Q("""
      |SELECT c_custkey, o_orderkey
      |FROM orders RIGHT OUTER JOIN customer
      |  ON c_custkey = o_custkey AND o_totalprice > 4000.0
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      val o = Engine.table(s, d, "orders")
      o.join(c, c("c_custkey") === o("o_custkey") &&
          o("o_totalprice") > 4000.0, "right_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    // ── full outer join between disjoint-ish filtered sides ──────────────
    "join_full_outer" -> Q("""
      |SELECT a.k AS left_k, b.k AS right_k
      |FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey < 100) a
      |FULL OUTER JOIN
      |     (SELECT o_custkey AS k FROM orders WHERE o_custkey BETWEEN 50 AND 150
      |      GROUP BY o_custkey) b
      |ON a.k = b.k
      |ORDER BY left_k NULLS FIRST, right_k NULLS FIRST""") { (s, d) =>
      val a = Engine.table(s, d, "customer")
        .filter(col("c_custkey") < 100).select(col("c_custkey").as("ak"))
      val b = Engine.table(s, d, "orders")
        .filter(col("o_custkey").between(50, 150))
        .select(col("o_custkey")).distinct()
        .select(col("o_custkey").as("bk"))
      a.join(b, col("ak") === col("bk"), "full_outer")
        .select(col("ak").as("left_k"), col("bk").as("right_k"))
        .orderBy(col("left_k").asc_nulls_first, col("right_k").asc_nulls_first)
    },

    // ── left semi (EXISTS) ───────────────────────────────────────────────
    "join_semi" -> Q("""
      |SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      val o = Engine.table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // ── left anti (NOT EXISTS) ───────────────────────────────────────────
    "join_anti" -> Q("""
      |SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 2000.0)
      |ORDER BY c_custkey""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      val o = Engine.table(s, d, "orders").filter(col("o_totalprice") > 2000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // ── cartesian product (dimension × dimension only) ───────────────────
    "join_cross" -> Q("""
      |SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""") { (s, d) =>
      Engine.table(s, d, "region").select(col("r_name"))
        .crossJoin(Engine.table(s, d, "nation").select(col("n_name")))
        .orderBy(col("r_name"), col("n_name"))
    },

    // ── theta join (no equi keys → nested-loop/broadcast) ────────────────
    "join_theta" -> Q("""
      |SELECT a.s_suppkey AS poorer, b.s_suppkey AS richer
      |FROM supplier a JOIN supplier b ON a.s_acctbal < b.s_acctbal
      |ORDER BY poorer, richer""") { (s, d) =>
      val a = Engine.table(s, d, "supplier")
        .select(col("s_suppkey").as("poorer"), col("s_acctbal").as("bal_a"))
      val b = Engine.table(s, d, "supplier")
        .select(col("s_suppkey").as("richer"), col("s_acctbal").as("bal_b"))
      a.join(b, col("bal_a") < col("bal_b"))
        .select(col("poorer"), col("richer"))
        .orderBy(col("poorer"), col("richer"))
    },

    // ── UNION ALL / UNION DISTINCT ───────────────────────────────────────
    "setop_union_all" -> Q("""
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION ALL
      |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
      |ORDER BY c_custkey""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .unionAll(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
        .orderBy(col("c_custkey"))
    },

    // ── UNION by column NAME (schema-aligned, missing cols → NULL):
    //    Spark unionByName(allowMissingColumns) ≡ DuckDB UNION ALL BY NAME.
    //    The branches disagree on column order AND width on purpose. ──────
    "setop_union_by_name" -> Q("""
      |SELECT n_nationkey AS k, n_name AS name, NULL AS src FROM nation
      |UNION ALL BY NAME
      |(SELECT r_name AS name, r_regionkey + 100 AS k, 'region' AS src
      | FROM region)
      |ORDER BY k, name""") { (s, d) =>
      val a = Engine.table(s, d, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("name"))
      val b = Engine.table(s, d, "region")
        .select(col("r_name").as("name"),
          (col("r_regionkey") + 100).as("k"), lit("region").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("k"), col("name"))
    },

    "setop_union_distinct" -> Q("""
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
      |ORDER BY c_custkey""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .union(c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey")))
        .distinct()
        .orderBy(col("c_custkey"))
    },

    // ── INTERSECT / INTERSECT ALL ────────────────────────────────────────
    "setop_intersect" -> Q("""
      |SELECT c_nationkey AS k FROM customer
      |INTERSECT
      |SELECT s_nationkey AS k FROM supplier
      |ORDER BY k""") { (s, d) =>
      Engine.table(s, d, "customer").select(col("c_nationkey").as("k"))
        .intersect(Engine.table(s, d, "supplier").select(col("s_nationkey").as("k")))
        .orderBy(col("k"))
    },

    "setop_intersect_all" -> Q("""
      |SELECT c_nationkey AS k FROM customer WHERE c_custkey < 200
      |INTERSECT ALL
      |SELECT c_nationkey AS k FROM customer WHERE c_custkey >= 100
      |ORDER BY k""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      c.filter(col("c_custkey") < 200).select(col("c_nationkey").as("k"))
        .intersectAll(
          c.filter(col("c_custkey") >= 100).select(col("c_nationkey").as("k")))
        .orderBy(col("k"))
    },

    // ── EXCEPT / EXCEPT ALL ──────────────────────────────────────────────
    "setop_except" -> Q("""
      |SELECT c_nationkey AS k FROM customer
      |EXCEPT
      |SELECT s_nationkey AS k FROM supplier
      |ORDER BY k""") { (s, d) =>
      Engine.table(s, d, "customer").select(col("c_nationkey").as("k"))
        .except(Engine.table(s, d, "supplier").select(col("s_nationkey").as("k")))
        .orderBy(col("k"))
    },

    "setop_except_all" -> Q("""
      |SELECT c_nationkey AS k FROM customer WHERE c_custkey < 300
      |EXCEPT ALL
      |SELECT c_nationkey AS k FROM customer WHERE c_custkey >= 100 AND c_custkey < 200
      |ORDER BY k""") { (s, d) =>
      val c = Engine.table(s, d, "customer")
      c.filter(col("c_custkey") < 300).select(col("c_nationkey").as("k"))
        .exceptAll(c.filter(col("c_custkey") >= 100 && col("c_custkey") < 200)
          .select(col("c_nationkey").as("k")))
        .orderBy(col("k"))
    },

    // ── sort with explicit null ordering + top-k ─────────────────────────
    "sort_nulls" -> Q("""
      |SELECT o_orderkey, CASE WHEN o_orderstatus = 'P' THEN NULL
      |                        ELSE o_totalprice END AS price
      |FROM orders
      |ORDER BY price ASC NULLS FIRST, o_orderkey LIMIT 50""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit(null)).otherwise(col("o_totalprice"))
            .as("price"))
        .orderBy(col("price").asc_nulls_first, col("o_orderkey"))
        .limit(50)
    },

    // ── LIMIT + OFFSET ───────────────────────────────────────────────────
    "limit_offset" -> Q("""
      |SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 20 OFFSET 10""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .offset(10).limit(20)
    },

    // ── DISTINCT over multiple columns ───────────────────────────────────
    "distinct_multi" -> Q("""
      |SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""") { (s, d) =>
      Engine.table(s, d, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },

    // ── DISTINCT ON-style: one row per key, deterministic pick ───────────
    "distinct_on_top1" -> Q("""
      |SELECT c_nationkey, c_custkey, c_acctbal FROM customer
      |QUALIFY row_number() OVER (PARTITION BY c_nationkey
      |                           ORDER BY c_acctbal DESC, c_custkey) = 1
      |ORDER BY c_nationkey""") { (s, d) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Engine.table(s, d, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"))
    },

    // ── VALUES literal relation ──────────────────────────────────────────
    "values_literal" -> Q("""
      |SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) t(id, name)
      |ORDER BY id""") { (s, _) =>
      import s.implicits._
      Seq((1, "one"), (2, "two"), (3, "three")).toDF("id", "name")
        .orderBy(col("id"))
    }
  )
}
