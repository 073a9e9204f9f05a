package graft.queries

import graft.{Engine, Q}
import graft.plans.RecursiveCte
import graft.sources.CopyTo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recursive CTEs (driver-side fixpoint — the documented Spark gap, see
  * graft.plans.RecursiveCte) and COPY TO / multi-format source-sink
  * round-trips (CSV, NDJSON, hive-partitioned parquet with partition
  * pruning on read-back).
  */
object MiscQueries {

  /** Scratch path for one write query's output: `graft_io/<name>` under
    * `java.io.tmpdir` (default `/tmp`), the one scratch root of every
    * query that writes files. */
  private[queries] def scratch(name: String): String = java.nio.file.Paths
    .get(System.getProperty("java.io.tmpdir"), "graft_io", name).toString

  val defs: Map[String, Q] = Map(
    // ── rows oracle for Bench's timing suites (r7 verdict #6): the pqf
    //    suite's filters (THE SAME Column objects — Bench.pqfPredicates)
    //    plus the sort suite's input cardinalities, value-adjudicated by
    //    DuckDB every round so the timing-only suites can't silently go
    //    semantically wrong ──────────────────────────────────────────────
    "bench_suite_rows" -> Q("""
      |SELECT
      |  (SELECT count(*) FROM events WHERE event_type = 'click') AS selective,
      |  (SELECT count(*) FROM events WHERE event_type <> 'click') AS unselective,
      |  (SELECT count(*) FROM events WHERE event_type = 'purchase' AND value > 400) AS conjunction,
      |  (SELECT count(*) FROM events WHERE event_type = 'purchase' AND (value > 450 OR value < 10)) AS and_or,
      |  (SELECT count(*) FROM events WHERE event_type <> 'click' AND value > 100 AND user_id % 7 = 0) AS many,
      |  (SELECT count(*) FROM events WHERE value < 0) AS everything,
      |  (SELECT count(*) FROM events WHERE value >= 0) AS nothing,
      |  (SELECT count(*) FROM events) AS events_rows,
      |  (SELECT count(*) FROM lineitem) AS li_rows""") { (s, d) =>
      val e = Engine.table(s, d, "events")
      val li = Engine.table(s, d, "lineitem")
      val aggCols = graft.Bench.pqfPredicates.map { case (n, p) =>
        count(when(p, 1)).as(n) } :+ count(lit(1)).as("events_rows")
      // one pass over events (9 conditional counts fold map-side), then
      // a 1-row × 1-row join to attach the lineitem cardinality —
      // scale-constant build sides (sanctioned in PlanBudgetSpec)
      e.agg(aggCols.head, aggCols.tail: _*)
        .crossJoin(li.agg(count(lit(1)).as("li_rows")))
    },

    // ── WITH RECURSIVE: series generation ────────────────────────────────
    "recursive_series" -> Q("""
      |WITH RECURSIVE t(n) AS (
      |  SELECT CAST(1 AS BIGINT) AS n
      |  UNION ALL
      |  SELECT n + 1 FROM t WHERE n < 30)
      |SELECT n FROM t ORDER BY n""") { (s, d) =>
      // single-partition seed: a 1-row frontier scheduled as 32 tasks
      // per iteration is pure overhead (narrow steps preserve the
      // partitioning, so the whole recursion stays 1-task-per-job)
      val init = s.range(1, 2, 1, 1).toDF("n")
      // UNION ALL in the SQL → the batched all-rows fixpoint (no
      // cross-iteration dedup, several steps per Spark job)
      RecursiveCte.fixpointAll(init,
          frontier => frontier.filter(col("n") < 30)
            .select((col("n") + 1).as("n")))
        .orderBy(col("n"))
    },

    // ── WITH RECURSIVE as SQL TEXT through spark.sql (Spark 4.1 ships
    //    native recursive CTEs — UnionLoopExec + cteRecursionLevelLimit;
    //    reference surface: datafusion/sql/src/cte.rs). Same series as
    //    recursive_series, but typed by a user, not built via the
    //    library fixpoint API ────────────────────────────────────────────
    "recursive_series_sql" -> Q("""
      |WITH RECURSIVE t(n) AS (
      |  SELECT CAST(1 AS BIGINT) AS n
      |  UNION ALL
      |  SELECT n + 1 FROM t WHERE n < 30)
      |SELECT n FROM t ORDER BY n""") { (s, d) =>
      s.sql("""
        WITH RECURSIVE t(n) AS (
          SELECT CAST(1 AS BIGINT) AS n
          UNION ALL
          SELECT n + 1 FROM t WHERE n < 30)
        SELECT n FROM t ORDER BY n""")
    },

    // SQL-text transitive closure over the same supplier→nation→region
    // hierarchy recursive_reachability walks via the fixpoint API.
    // Spark 4.1 supports only UNION ALL recursion (UNION raises
    // UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, probed 2026-08-13); the
    // hierarchy is a tree (one outgoing edge per node) so every path is
    // unique and UNION ALL yields the same rows — the frontier empties
    // at the region sinks, which is what terminates the walk.
    "recursive_reachability_sql" -> Q("""
      |WITH RECURSIVE edges AS (
      |  SELECT CAST(s_suppkey + 1000 AS BIGINT) AS src,
      |         CAST(s_nationkey + 100 AS BIGINT) AS dst FROM supplier
      |  UNION ALL
      |  SELECT CAST(n_nationkey + 100 AS BIGINT),
      |         CAST(n_regionkey AS BIGINT) FROM nation),
      |r(start, node) AS (
      |  SELECT CAST(s_suppkey + 1000 AS BIGINT), CAST(s_suppkey + 1000 AS BIGINT)
      |  FROM supplier
      |  UNION ALL
      |  SELECT r.start, e.dst FROM r JOIN edges e ON e.src = r.node)
      |SELECT start, node FROM r ORDER BY start, node""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""
        WITH RECURSIVE edges AS (
          SELECT CAST(s_suppkey + 1000 AS BIGINT) AS src,
                 CAST(s_nationkey + 100 AS BIGINT) AS dst FROM supplier
          UNION ALL
          SELECT CAST(n_nationkey + 100 AS BIGINT),
                 CAST(n_regionkey AS BIGINT) FROM nation),
        r(start, node) AS (
          SELECT CAST(s_suppkey + 1000 AS BIGINT),
                 CAST(s_suppkey + 1000 AS BIGINT)
          FROM supplier
          UNION ALL
          SELECT r.start, e.dst FROM r JOIN edges e ON e.src = r.node)
        SELECT start, node FROM r ORDER BY start, node""")
    },

    // ── WITH RECURSIVE: reachability over a node hierarchy ───────────────
    // supplier(id+1000) → nation(id+100) → region(id); transitive closure.
    "recursive_reachability" -> Q("""
      |WITH RECURSIVE edges AS (
      |  SELECT CAST(s_suppkey + 1000 AS BIGINT) AS src,
      |         CAST(s_nationkey + 100 AS BIGINT) AS dst FROM supplier
      |  UNION ALL
      |  SELECT CAST(n_nationkey + 100 AS BIGINT),
      |         CAST(n_regionkey AS BIGINT) FROM nation),
      |r(start, node) AS (
      |  SELECT CAST(s_suppkey + 1000 AS BIGINT), CAST(s_suppkey + 1000 AS BIGINT)
      |  FROM supplier
      |  UNION
      |  SELECT r.start, e.dst FROM r JOIN edges e ON e.src = r.node)
      |SELECT start, node FROM r ORDER BY start, node""") { (s, d) =>
      val su = Engine.table(s, d, "supplier")
      val na = Engine.table(s, d, "nation")
      val edges = su.select((col("s_suppkey") + 1000).cast("long").as("src"),
          (col("s_nationkey") + 100).cast("long").as("dst"))
        .unionAll(na.select((col("n_nationkey") + 100).cast("long").as("src"),
          col("n_regionkey").cast("long").as("dst")))
      val init = su.select((col("s_suppkey") + 1000).cast("long").as("start"),
        (col("s_suppkey") + 1000).cast("long").as("node"))
      RecursiveCte.fixpoint(init,
          frontier => frontier.join(edges, col("node") === col("src"))
            .select(col("start"), col("dst").as("node")))
        .orderBy(col("start"), col("node"))
    },

    // ── COPY TO avro → read back → aggregate (reference AvroExec,
    //    avro.rs:38 — built on the bundled Avro core jars, sources/
    //    AvroIo; the oracle replays the aggregate from the base table,
    //    so any write/read corruption breaks the match) ─────────────────
    "copyto_avro" -> Q("""
      |SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(o_custkey) AS BIGINT) AS cust_sum
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, d) =>
      val path = scratch("orders_avro")
      graft.sources.AvroIo.write(
        Engine.table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        path)
      graft.sources.AvroIo.read(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("cust_sum"))
        .orderBy(col("o_orderstatus"))
    },

    // ── COPY TO avro with logical types (date / timestamp-micros /
    //    decimal): values survive the physical Avro encodings (epoch
    //    days, µs since epoch, unscaled big-endian bytes); timestamps
    //    leave the output as epoch seconds (tz-naive-vs-aware dtype rule)
    //    and decimals as rounded doubles — the read-back values feed the
    //    casts, so any codec error breaks the match ─────────────────────
    "copyto_avro_logical" -> Q("""
      |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
      |       CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS ts_s,
      |       round(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 2)
      |         AS price
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      val path = scratch("orders_avro_logical")
      graft.sources.AvroIo.write(
        Engine.table(s, d, "orders")
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("od"),
            col("o_orderdate").cast("timestamp").as("ots"),
            col("o_totalprice").cast("decimal(12,2)").as("odec")),
        path)
      graft.sources.AvroIo.read(s, path)
        .select(col("o_orderkey"), col("od"),
          unix_timestamp(col("ots")).as("ts_s"),
          round(col("odec").cast("double"), 2).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // ── LogicalPlan → SQL unparser (reference: datafusion/sql/src/
    //    unparser/ plan_to_sql): build the plan with the DataFrame API,
    //    unparse to SQL text, execute THE GENERATED TEXT through
    //    spark.sql — the oracle replays the equivalent hand-written SQL,
    //    so a wrong unparse breaks the row match ─────────────────────────
    "unparse_roundtrip" -> Q("""
      |SELECT o_orderpriority, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS rev
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority HAVING count(*) > 10
      |ORDER BY o_orderpriority""") { (s, d) =>
      Engine.registerAll(s, d)
      val df = s.table("orders")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("rev"))
        .filter(col("n") > 10)
        .orderBy(col("o_orderpriority"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: window expressions — the OVER clause (partition,
    //    order, frame) must survive the plan→SQL→plan round trip ───────
    "unparse_window" -> Q("""
      |SELECT o_orderkey, o_orderstatus,
      |       CAST(row_number() OVER (PARTITION BY o_orderstatus
      |                               ORDER BY o_orderkey) AS BIGINT) AS rn,
      |       CAST(sum(o_orderkey) OVER (PARTITION BY o_orderstatus
      |            ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING
      |            AND CURRENT ROW) AS BIGINT) AS run
      |FROM orders WHERE o_orderkey < 500
      |ORDER BY o_orderkey""") { (s, d) =>
      Engine.registerAll(s, d)
      import org.apache.spark.sql.expressions.{Window => W}
      val w = W.partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
      val df = s.table("orders")
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("run", sum(col("o_orderkey"))
          .over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"))
        .orderBy(col("o_orderkey"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: subquery expressions (EXISTS + IN + scalar) — the
    //    nested plans re-enter the plan recursion; correlation binds by
    //    name in the generated text ─────────────────────────────────────
    "unparse_subquery" -> Q("""
      |SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_totalprice > 300000)
      |  AND c_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_regionkey <= 2)
      |  AND c_acctbal > (SELECT min(c_acctbal) FROM customer)
      |ORDER BY c_custkey""") { (s, d) =>
      Engine.registerAll(s, d)
      val df = s.sql(
        """SELECT c_custkey FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |              AND o_totalprice > 300000)
          |  AND c_nationkey IN (SELECT n_nationkey FROM nation
          |                      WHERE n_regionkey <= 2)
          |  AND c_acctbal > (SELECT min(c_acctbal) FROM customer)
          |ORDER BY c_custkey""".stripMargin)
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: GROUPING SETS — the analyzer's Aggregate-over-Expand
    //    encoding is recovered and re-emitted as explicit GROUPING SETS
    //    text; the GENERATED SQL executes and must match the oracle
    //    (reference: sql/src/unparser/plan.rs grouping-set handling) ─────
    "unparse_grouping_sets" -> Q("""
      |SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS rev
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderpriority), ())
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""") { (s, d) =>
      Engine.registerAll(s, d)
      val df = s.sql(
        """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
          |       round(sum(o_totalprice), 2) AS rev
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          |                        (o_orderpriority), ())
          |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
          |""".stripMargin)
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: Unnest/Generate — the explode plan re-emits as
    //    LATERAL VIEW and the GENERATED text executes (reference:
    //    sql/src/unparser/plan.rs Unnest round-trip) ─────────────────────
    "unparse_unnest" -> Q("""
      |SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |FROM documents WHERE doc_id < 50 ORDER BY doc_id, word""") { (s, d) =>
      Engine.registerAll(s, d)
      val df = s.table("documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .orderBy(col("doc_id"), col("word"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: raw file scan — a plan built straight over
    //    spark.read.parquet (no view name) renders through the
    //    direct-file-query syntax parquet.`path` and the generated text
    //    executes (reference: TableScan-with-filters round-trip) ─────────
    "unparse_file_scan" -> Q("""
      |SELECT n_nationkey, n_name FROM nation
      |WHERE n_regionkey <= 2 ORDER BY n_nationkey""") { (s, d) =>
      val df = s.read.parquet(s"$d/nation.parquet")
        .filter(col("n_regionkey") <= 2)
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: OPTIMIZED plan over a raw file scan — filter AND
    //    fetch survive optimization as Filter/GlobalLimit nodes above
    //    the scan and re-emit as WHERE/LIMIT around the
    //    direct-file-query term (reference: select_to_sql_recursively
    //    re-emits TableScan-level filters/fetch —
    //    sql/src/unparser/plan.rs:218). The optimizer's injected
    //    IsNotNull guard rides along in the regenerated WHERE. ──────────
    "unparse_scan_filters" -> Q("""
      |SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 20""") { (s, d) =>
      val df = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_totalprice") > 100000)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .limit(20)
      s.sql(graft.plans.Unparser.toSql(df.queryExecution.optimizedPlan))
    },

    // ── unparser: USING-key join — the analyzer rewrites USING (and
    //    the DataFrame join(df, Seq(k)) API) into an equi-join on two
    //    SAME-NAMED attributes; the unparser re-emits USING (k) so the
    //    merged key resolves (reference: USING-join re-emission,
    //    sql/src/unparser/plan.rs). The generated text executes. ────────
    "unparse_join_using" -> Q("""
      |SELECT r_name, count(*) AS n
      |FROM (SELECT n_name, n_regionkey AS regionkey FROM nation) a
      |JOIN (SELECT r_regionkey AS regionkey, r_name FROM region) b
      |USING (regionkey)
      |GROUP BY r_name ORDER BY r_name""") { (s, d) =>
      Engine.registerAll(s, d)
      val n = s.table("nation")
        .select(col("n_name"), col("n_regionkey").as("regionkey"))
      val r = s.table("region")
        .select(col("r_regionkey").as("regionkey"), col("r_name"))
      val df = n.join(r, Seq("regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1)).as("n"))
        .orderBy(col("r_name"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: OUTER USING-key join (r12 — the r11 refusal retired):
    //    the analyzer's merged-key projection (FULL: coalesce(lk, rk))
    //    over the equi-join re-emits as FULL JOIN ... USING (k); the
    //    generated text executes and reproduces the merged key on
    //    unmatched rows from BOTH sides ──────────────────────────────────
    "unparse_join_using_outer" -> Q("""
      |SELECT regionkey, n_name, r_name
      |FROM (SELECT n_name, n_regionkey AS regionkey FROM nation
      |      WHERE n_nationkey < 10) a
      |FULL JOIN (SELECT r_regionkey + 2 AS regionkey, r_name
      |           FROM region) b
      |USING (regionkey)
      |ORDER BY regionkey NULLS FIRST, n_name NULLS FIRST, r_name NULLS FIRST""") { (s, d) =>
      Engine.registerAll(s, d)
      // nation keys 0..4 vs region keys 2..6: unmatched rows on BOTH
      // sides, so the coalesced USING key is exercised where it matters
      val n = s.table("nation").filter(col("n_nationkey") < 10)
        .select(col("n_name"), col("n_regionkey").as("regionkey"))
      val r = s.table("region")
        .select((col("r_regionkey") + 2).as("regionkey"), col("r_name"))
      val df = n.join(r, Seq("regionkey"), "full")
        .select(col("regionkey"), col("n_name"), col("r_name"))
        .orderBy(col("regionkey").asc_nulls_first,
          col("n_name").asc_nulls_first, col("r_name").asc_nulls_first)
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── unparser: ROOT-level join with same-name keys (r13 — the r11
    //    refusal converted): renders with derived-table aliases and a
    //    fully QUALIFIED ON, so BOTH identically-named key columns
    //    survive in the regenerated schema (USING would merge them).
    //    The generated text executes; the rename to distinct output
    //    names happens on the regenerated RESULT only (parquet can't
    //    carry duplicate column names), after the root join ran ─────────
    "unparse_join_on_root" -> Q("""
      |SELECT a.n_name, a.regionkey AS regionkey_l,
      |       b.regionkey AS regionkey_r, b.r_name
      |FROM (SELECT n_name, n_regionkey AS regionkey FROM nation) a
      |JOIN (SELECT r_regionkey AS regionkey, r_name FROM region) b
      |ON a.regionkey = b.regionkey
      |ORDER BY n_name""") { (s, d) =>
      Engine.registerAll(s, d)
      val n = s.table("nation")
        .select(col("n_name"), col("n_regionkey").as("regionkey"))
      val r = s.table("region")
        .select(col("r_regionkey").as("regionkey"), col("r_name"))
      val df = n.join(r, n("regionkey") === r("regionkey"))
      s.sql(graft.plans.Unparser.toSql(df.queryExecution.analyzed))
        .toDF("n_name", "regionkey_l", "regionkey_r", "r_name")
        .orderBy(col("n_name"))
    },

    // ── unparser: PIVOT — the PivotFirst two-level aggregate is
    //    recovered and re-emitted as a PIVOT clause; absent combos pivot
    //    to NULL on both the original and regenerated plan, and the
    //    oracle replays portable conditional aggregation ─────────────────
    "unparse_pivot" -> Q("""
      |SELECT user_id,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
      Engine.registerAll(s, d)
      val df = s.table("events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "purchase", "view"))
        .agg(count(lit(1)))
        .orderBy(col("user_id"))
      s.sql(graft.plans.Unparser.toSql(df))
    },

    // ── parquet schema evolution (reference: schema_evolution.slt) —
    //    two file generations with different schemas read as one table
    //    via mergeSchema; rows from the old generation surface NULL for
    //    the added column. The oracle replays the union semantics over
    //    the base table (both engines' sides derive the same two
    //    generations deterministically) ────────────────────────────────────
    "schema_evolution" -> Q("""
      |SELECT r_regionkey, r_name, pop FROM (
      |  SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS pop FROM region
      |  UNION ALL
      |  SELECT r_regionkey, r_name, r_regionkey * 100 AS pop FROM region)
      |ORDER BY r_regionkey, pop NULLS FIRST""") { (s, d) =>
      val (g1, g2) = (scratch("schevo_g1"), scratch("schevo_g2"))
      val r = Engine.table(s, d, "region")
      r.select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").parquet(g1)
      r.select(col("r_regionkey"), col("r_name"),
          (col("r_regionkey") * 100).as("pop"))
        .write.mode("overwrite").parquet(g2)
      s.read.option("mergeSchema", "true").parquet(g1, g2)
        .select(col("r_regionkey"), col("r_name"), col("pop"))
        .orderBy(col("r_regionkey"), col("pop").asc_nulls_first)
    },

    // ── file-provenance metadata column (_metadata.file_name): row
    //    lineage for multi-file tables — at 100 TB "which drop did this
    //    row come from" is a first-class curation dimension. Spark's
    //    hidden _metadata struct ≡ DuckDB read_parquet(filename=true) ─────
    //    (the oracle pins the basename literally: the `<table>.parquet`
    //    single-file layout is the engine-wide testdata contract —
    //    Engine.table reads exactly that path)
    "file_provenance" -> Q("""
      |SELECT 'nation.parquet' AS file, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(n_nationkey) AS BIGINT) AS min_key
      |FROM nation GROUP BY file ORDER BY file""") { (s, d) =>
      s.read.parquet(s"$d/nation.parquet")
        .select(col("n_nationkey"),
          regexp_extract(col("_metadata.file_name"), "[^/]+$", 0).as("file"))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n"),
          min(col("n_nationkey")).cast("long").as("min_key"))
        .orderBy(col("file"))
    },

    // ── COPY TO csv → read back → aggregate ──────────────────────────────
    "copyto_csv" -> Q("""
      |SELECT o_orderstatus, count(*) AS n,
      |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, d) =>
      val path = scratch("orders_csv")
      // gzip: exercises the compression codec path (reference CsvExec
      // supports compressed scan); Spark reads .csv.gz transparently
      CopyTo.copyTo(
        Engine.table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        path, "csv",
        options = Map("header" -> "true", "compression" -> "gzip"))
      CopyTo.readBack(s, path, "csv",
          Some(StructType(Seq(
            StructField("o_orderkey", LongType),
            StructField("o_custkey", LongType),
            StructField("o_orderstatus", StringType)))),
          Map("header" -> "true"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderstatus"))
    },

    // ── COPY TO ndjson → read back → aggregate ───────────────────────────
    "copyto_json" -> Q("""
      |SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      val path = scratch("lineitem_json")
      CopyTo.copyTo(
        Engine.table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
        path, "json")
      CopyTo.readBack(s, path, "json",
          Some(StructType(Seq(
            StructField("l_orderkey", LongType),
            StructField("l_linenumber", IntegerType),
            StructField("l_returnflag", StringType)))))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("key_sum"))
        .orderBy(col("l_returnflag"))
    },

    // ── COPY TO Arrow IPC → distributed read back → aggregate ────────────
    // (reference: ArrowExec, arrow_file.rs:49 — closes the Arrow-IPC-scan
    //  gap; round-trip identity makes the parquet-sourced oracle exact)
    "copyto_arrow" -> Q("""
      |SELECT n_regionkey, count(*) AS n,
      |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
      |       min(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, d) =>
      val path = scratch("nation_arrow")
      graft.sources.ArrowIpc.write(
        Engine.table(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        path)
      graft.sources.ArrowIpc.read(s, path)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey")).as("key_sum"),
          min(col("n_name")).as("first_name"))
        .orderBy(col("n_regionkey"))
    },

    // ── federated multi-format join: parquet ⋈ csv ⋈ arrow in ONE plan ──
    // (reference: heterogeneous TableProviders in one SessionContext;
    //  each side round-trips the same source tables so the
    //  parquet-oracled result is exact)
    "federated_formats" -> Q("""
      |SELECT r_name, count(*) AS n_nations,
      |       CAST(sum(s_cnt) AS BIGINT) AS n_suppliers
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN (SELECT s_nationkey, count(*) AS s_cnt
      |      FROM supplier GROUP BY s_nationkey) s ON s_nationkey = n_nationkey
      |GROUP BY r_name ORDER BY r_name""") { (s, d) =>
      val csvPath = scratch("nation_fed_csv")
      val arrowPath = scratch("supplier_fed_arrow")
      CopyTo.copyTo(
        Engine.table(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey")),
        csvPath, "csv", options = Map("header" -> "true"))
      graft.sources.ArrowIpc.write(
        Engine.table(s, d, "supplier").select(col("s_nationkey")), arrowPath)
      val nationCsv = CopyTo.readBack(s, csvPath, "csv",
        Some(StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_regionkey", LongType)))),
        Map("header" -> "true"))
      val supplierArrow = graft.sources.ArrowIpc.read(s, arrowPath)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("s_cnt"))
      Engine.table(s, d, "region") // parquet side
        .join(nationCsv, col("n_regionkey") === col("r_regionkey"))
        .join(supplierArrow, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"),
          sum(col("s_cnt")).as("n_suppliers"))
        .orderBy(col("r_name"))
    },

    // ── COPY TO hive-partitioned parquet, pruned read-back ───────────────
    "copyto_partitioned" -> Q("""
      |SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      val path = scratch("lineitem_part")
      CopyTo.copyTo(
        Engine.table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
        path, "parquet", partitionBy = Seq("l_returnflag"))
      // filter on the partition column → directory pruning, not a scan
      CopyTo.readBack(s, path, "parquet")
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("l_returnflag"))
    }
  )
}
