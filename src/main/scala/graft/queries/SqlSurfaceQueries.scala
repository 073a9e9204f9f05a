package graft.queries

import graft.{Engine, Q}

/** SQL entry point parity (reference E1: SessionContext::sql —
  * datafusion/core/src/execution/context/mod.rs:457; SELECT planning
  * sql/src/select.rs, CTEs sql/src/cte.rs, set ops set_expr.rs). These
  * queries go through `spark.sql` over registered views — same Catalyst
  * pipeline as the DataFrame API, proving the SQL surface end-to-end. The
  * oracle is near-verbatim the same ANSI SQL (dialect-neutral by
  * construction).
  */
object SqlSurfaceQueries {

  /** Build a Q whose Spark side runs `sparkSql` via spark.sql and whose
    * oracle is `duckSql` (defaults to the same string). */
  private def sql(sparkSql: String, duckSql: String = null): Q =
    Q(Option(duckSql).getOrElse(sparkSql)) { (s, d) =>
      Engine.registerAll(s, d)
      s.sql(sparkSql.stripMargin)
    }

  val defs: Map[String, Q] = Map(
    // ── CTE + join + aggregate + having through SQL ──────────────────────
    "sql_cte" -> sql("""
      |WITH big_cust AS (
      |  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      |  FROM orders GROUP BY o_custkey HAVING sum(o_totalprice) > 10000)
      |SELECT c_mktsegment, count(*) AS n, round(sum(spend), 2) AS total
      |FROM big_cust JOIN customer ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ── modern SQL sugar: GROUP BY ALL / ORDER BY ALL / correlated
    //    LATERAL derived column — supported verbatim by both engines
    //    (QUALIFY is NOT in Spark 4.1; window-in-subquery covers it) ───────
    "sql_modern_surface" -> sql("""
      |SELECT g, c, twice FROM (
      |  SELECT o_orderstatus AS g, count(*) AS c
      |  FROM orders GROUP BY ALL) t,
      |  LATERAL (SELECT t.c * 2 AS twice)
      |ORDER BY ALL"""),

    // ── range() table function (reference: generate_series/range UDTFs,
    //    datafusion table functions) — DuckDB names the column `range` ────
    "sql_range_tf" -> sql(
      """
      |SELECT id, id * id AS sq FROM range(0, 50, 3) ORDER BY id""",
      """
      |SELECT r.range AS id, r.range * r.range AS sq
      |FROM range(0, 50, 3) r ORDER BY id"""),

    // ── correlated EXISTS + scalar subquery through SQL ──────────────────
    "sql_subqueries" -> sql("""
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_suppkey = s_suppkey AND l_quantity > 49)
      |  AND s_acctbal > (SELECT avg(s_acctbal) FROM supplier)
      |ORDER BY s_suppkey"""),

    // ── IN / NOT IN subqueries ───────────────────────────────────────────
    "sql_in_subquery" -> sql("""
      |SELECT n_name FROM nation
      |WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
      |  AND n_nationkey NOT IN (SELECT c_nationkey FROM customer
      |                          WHERE c_acctbal < -900.0)
      |ORDER BY n_name"""),

    // ── set operation pipeline through SQL ───────────────────────────────
    "sql_setops" -> sql("""
      |SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer WHERE c_acctbal > 9000
      |INTERSECT
      |SELECT CAST(s_nationkey AS BIGINT) FROM supplier
      |EXCEPT
      |SELECT CAST(n_nationkey AS BIGINT) FROM nation WHERE n_regionkey = 0
      |ORDER BY k"""),

    // ── window functions through SQL (named window) ──────────────────────
    "sql_window" -> sql("""
      |SELECT o_orderkey,
      |       CAST(rank() OVER w AS BIGINT) AS r,
      |       round(avg(o_totalprice) OVER w2 + 0.000000001, 4) AS run_avg
      |FROM orders
      |WINDOW w  AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey),
      |       w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey"""),

    // ── CASE/cast/arith expression surface through SQL ───────────────────
    "sql_expressions" -> sql("""
      |SELECT l_orderkey, l_linenumber,
      |       CASE WHEN l_quantity >= 30 THEN 'bulk'
      |            WHEN l_quantity >= 10 THEN 'std' ELSE 'small' END AS bucket,
      |       CAST(l_quantity AS BIGINT) AS qty_int,
      |       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS net,
      |       CAST(l_shipdate AS DATE) AS ship_day
      |FROM lineitem WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber"""),

    // ── parameterized query (reference: prepared statements,
    //    expr/src/logical_plan/statement.rs + Expr::Placeholder) — Spark's
    //    named-parameter spark.sql; the oracle inlines the bindings ───────
    "sql_parameterized" -> Q("""
      |SELECT o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE o_totalprice > 3000.0 AND o_orderstatus = 'O'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders
          |WHERE o_totalprice > :minPrice AND o_orderstatus = :status
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("minPrice" -> 3000.0, "status" -> "O"))
    },

    // ── CREATE EXTERNAL TABLE over existing parquet (reference: CREATE
    //    EXTERNAL TABLE parser extension, sql/src/parser.rs:182-233 +
    //    ListingTable) — LOCATION-based, so DROP never touches the data;
    //    the catalog resolves the scan exactly like a registered view ────
    "ddl_external_table" -> Q("""
      |SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("DROP TABLE IF EXISTS graft_ext_nation")
      s.sql(s"CREATE TABLE graft_ext_nation USING parquet " +
        s"LOCATION '$d/nation.parquet'")
      s.sql("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
              |FROM graft_ext_nation GROUP BY n_regionkey
              |ORDER BY n_regionkey""".stripMargin)
    },

    // ── CREATE TEMPORARY VIEW + query through it (reference: ViewTable,
    //    core/src/datasource/view.rs — views inline into the plan) ───────
    "ddl_view" -> Q("""
      |WITH supp_per_nation AS (
      |  SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY s_nationkey)
      |SELECT n_name, n FROM supp_per_nation
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE n >= 2 ORDER BY n_name""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW supp_per_nation AS
              |SELECT s_nationkey, count(*) AS n
              |FROM supplier GROUP BY s_nationkey""".stripMargin)
      s.sql("""SELECT n_name, n FROM supp_per_nation
              |JOIN nation ON n_nationkey = s_nationkey
              |WHERE n >= 2 ORDER BY n_name""".stripMargin)
    },

    // ── CREATE TABLE AS SELECT (CTAS — reference: LogicalPlan::Ddl
    //    CreateMemoryTable with input plan; here a parquet-backed external
    //    table materialized from a query, then queried back) ──────────────
    "ddl_ctas" -> Q("""
      |SELECT r_name, n_nations FROM (
      |  SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
      |  FROM nation JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name)
      |ORDER BY r_name""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("DROP TABLE IF EXISTS graft_ctas_demo")
      // CTAS requires an empty LOCATION; clear leftovers from prior runs
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      val dir = MiscQueries.scratch("ctas_demo")
      rm(new java.io.File(dir))
      s.sql(s"""CREATE TABLE graft_ctas_demo
              |USING parquet LOCATION '$dir'
              |AS SELECT r_name, count(*) AS n_nations
              |   FROM nation JOIN region ON n_regionkey = r_regionkey
              |   GROUP BY r_name""".stripMargin)
      s.sql("SELECT r_name, n_nations FROM graft_ctas_demo ORDER BY r_name")
    }
  )
}
