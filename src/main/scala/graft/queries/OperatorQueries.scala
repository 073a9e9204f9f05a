package graft.queries

import graft.{Engine, Q}
import graft.functions.GroupMinHash
import graft.operators.{AsOfJoin, RangeJoin, Sampling, Upsert, ZOrder}
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Remaining operator surface: unnest/explode family (reference:
  * UnnestExec, datafusion/physical-plan/src/unnest.rs:60 — list & struct
  * unnest with preserve_nulls), the as-of join extension (oracled against
  * DuckDB's native ASOF JOIN), deterministic per-group sampling, and the
  * group-level MinHash custom aggregate.
  */
object OperatorQueries {

  val defs: Map[String, Q] = Map(
    // ── explode (unnest list) ────────────────────────────────────────────
    "unnest_explode" -> Q("""
      |SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |FROM documents WHERE doc_id < 50 ORDER BY doc_id, word""") { (s, d) =>
      Engine.table(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .orderBy(col("doc_id"), col("word"))
    },

    // ── posexplode (unnest with ordinality; Spark pos is 0-based) ────────
    "unnest_posexplode" -> Q("""
      |SELECT doc_id, u.pos, u.word
      |FROM (SELECT doc_id,
      |             unnest(list_transform(string_split(text, ' '),
      |                    (x, i) -> struct_pack(pos := CAST(i - 1 AS BIGINT),
      |                                          word := x))) AS u
      |      FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id, u.pos""") { (s, d) =>
      Engine.table(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
        .orderBy(col("doc_id"), col("pos"))
    },

    // ── explode_outer (preserve_nulls=true: null/empty → one null row) ───
    "unnest_explode_outer" -> Q("""
      |SELECT doc_id, unnest(CASE WHEN ws IS NULL OR len(ws) = 0
      |                           THEN [NULL] ELSE ws END) AS word
      |FROM (SELECT doc_id,
      |             CASE WHEN doc_id % 7 = 0 THEN NULL
      |                  ELSE string_split(substr(text, 1, 40), ' ') END AS ws
      |      FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id, word NULLS FIRST""") { (s, d) =>
      Engine.table(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(split(substring(col("text"), 1, 40), " ")).as("ws"))
        .select(col("doc_id"), explode_outer(col("ws")).as("word"))
        .orderBy(col("doc_id"), col("word").asc_nulls_first)
    },

    // ── inline (unnest array of structs into columns) ────────────────────
    "unnest_inline" -> Q("""
      |SELECT doc_id, u.word, u.len
      |FROM (SELECT doc_id,
      |             unnest(list_transform(string_split(text, ' ')[1:5],
      |                    x -> struct_pack(word := x,
      |                                     len := CAST(length(x) AS BIGINT)))) AS u
      |      FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id, u.word, u.len""") { (s, d) =>
      Engine.table(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          transform(slice(split(col("text"), " "), 1, 5),
            x => struct(x.as("word"), length(x).cast("long").as("len")))
            .as("arr"))
        .select(col("doc_id"), inline(col("arr")))
        .orderBy(col("doc_id"), col("word"), col("len"))
    },

    // ── as-of join (backward): latest prior click for each purchase ──────
    "asof_join" -> Q("""
      |SELECT p.event_id AS p_id, p.user_id,
      |       c.event_id AS c_id, c.value AS c_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |ORDER BY p_id""") { (s, d) =>
      val ev = Engine.table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      AsOfJoin.backward(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("event_id" -> "c_id", "value" -> "c_value"))
        .select(col("p_id"), col("user_id"), col("c_id"), col("c_value"))
        .orderBy(col("p_id"))
    },

    // ── forward as-of join: earliest right row at-or-after each left ─────
    "asof_join_forward" -> Q("""
      |SELECT p.event_id AS p_id, p.user_id,
      |       c.event_id AS c_id, c.value AS c_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |ORDER BY p_id""") { (s, d) =>
      val ev = Engine.table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      AsOfJoin.forward(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("event_id" -> "c_id", "value" -> "c_value"))
        .select(col("p_id"), col("user_id"), col("c_id"), col("c_value"))
        .orderBy(col("p_id"))
    },

    // ── range join (point-in-interval, binned equi-join scale path;
    //    oracle: DuckDB's native IEJoin on the BETWEEN predicate).
    //    Dates travel as epoch days on both sides; windows are derived
    //    from a sampled orders slice with varying widths (3..25 days) ─────
    "range_join" -> Q("""
      |WITH iv AS (
      |  SELECT o_orderkey AS win_id,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |           + o_orderkey % 23 + 3 AS hi
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |pt AS (
      |  SELECT l_orderkey, l_linenumber,
      |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS p
      |  FROM lineitem WHERE l_orderkey % 89 = 0)
      |SELECT pt.l_orderkey, pt.l_linenumber, count(*) AS n_windows,
      |       CAST(min(iv.win_id) AS BIGINT) AS first_win
      |FROM pt JOIN iv ON pt.p BETWEEN iv.lo AND iv.hi
      |GROUP BY pt.l_orderkey, pt.l_linenumber
      |ORDER BY pt.l_orderkey, pt.l_linenumber""") { (s, d) =>
      val epoch = lit("1970-01-01").cast("date")
      val iv = Engine.table(s, d, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("win_id"),
          datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("lo"))
        .withColumn("hi", col("lo") + col("win_id") % 23 + 3)
      val pt = Engine.table(s, d, "lineitem")
        .filter(col("l_orderkey") % 89 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("p"))
      RangeJoin.pointInInterval(pt, iv, Nil, "p", "lo", "hi", binWidth = 14)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n_windows"),
          min(col("win_id")).cast("long").as("first_win"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ── range join (interval-overlap, bin-deduped both-side replication;
    //    per-pair emission at the first shared bin — no distinct) ─────────
    "range_join_overlap" -> Q("""
      |WITH a AS (
      |  SELECT o_orderkey AS a_id,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS a_lo,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |           + o_orderkey % 17 + 2 AS a_hi
      |  FROM orders WHERE o_orderkey % 131 = 0),
      |b AS (
      |  SELECT o_orderkey AS b_id,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS b_lo,
      |         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |           + o_orderkey % 29 + 1 AS b_hi
      |  FROM orders WHERE o_orderkey % 113 = 0)
      |SELECT a.a_id, count(*) AS n_overlaps, CAST(min(b.b_id) AS BIGINT) AS first_b
      |FROM a JOIN b ON a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi
      |GROUP BY a.a_id ORDER BY a.a_id""") { (s, d) =>
      val epoch = lit("1970-01-01").cast("date")
      def windows(mod: Int, widthMod: Int, widthMin: Int, p: String) =
        Engine.table(s, d, "orders")
          .filter(col("o_orderkey") % mod === 0)
          .select(col("o_orderkey").as(s"${p}_id"),
            datediff(col("o_orderdate").cast("date"), epoch).cast("long")
              .as(s"${p}_lo"))
          .withColumn(s"${p}_hi",
            col(s"${p}_lo") + col(s"${p}_id") % widthMod + widthMin)
      RangeJoin.intervalOverlap(
          windows(131, 17, 2, "a"), windows(113, 29, 1, "b"), Nil,
          "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 10)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          min(col("b_id")).cast("long").as("first_b"))
        .orderBy(col("a_id"))
    },

    // ── deterministic per-group sample (reproducible across engines) ─────
    "sample_per_group" -> Q("""
      |SELECT lang, doc_id FROM documents
      |QUALIFY row_number() OVER (PARTITION BY lang
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 3
      |ORDER BY lang, doc_id""") { (s, d) =>
      Sampling.deterministicSamplePerGroup(
          Engine.table(s, d, "documents"), Seq("lang"), "doc_id", 3)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // ── rebalance to a target class mix (training-mix op): largest
    //    exact-mix subset bounded by the scarcest class; deterministic
    //    md5-ranked selection. Targets are INTEGER weights (5:2:3) so
    //    quota boundaries stay in BIGINT floor-division on BOTH engines
    //    — float shares would park floor() on a rounding boundary ───────
    "sample_rebalance" -> Q("""
      |WITH c AS (SELECT lang, count(*) n FROM documents
      |           WHERE lang IN ('en', 'de', 'fr') GROUP BY lang),
      |t(lang, w) AS (VALUES ('en', 5), ('de', 2), ('fr', 3)),
      |tot AS (SELECT min(n * 10 // w) AS total FROM c JOIN t USING (lang)),
      |q AS (SELECT t.lang, tot.total * t.w // 10 AS quota FROM t, tot),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents WHERE lang IN ('en', 'de', 'fr'))
      |SELECT r.lang, r.doc_id FROM r JOIN q ON r.lang = q.lang
      |WHERE r.rk <= q.quota
      |ORDER BY r.lang, r.doc_id""") { (s, d) =>
      Sampling.rebalanceToTarget(Engine.table(s, d, "documents"),
          "lang", "doc_id", Map("en" -> 5, "de" -> 2, "fr" -> 3))
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // ── temperature (α-weighted) source mixing: quotas ∝ n_lang^0.5,
    //    md5-ranked selection; α=0.5 keeps pow = sqrt (correctly-rounded
    //    IEEE on both engines), +1e-9 guards the floor boundary ─────────
    "sample_temperature" -> Q("""
      |WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |s AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
      |tot AS (SELECT sum(w) AS sw FROM s),
      |q AS (SELECT lang, least(n, CAST(floor(300 * w / sw + 1e-9)
      |                                 AS BIGINT)) AS quota
      |      FROM s, tot),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents)
      |SELECT r.lang, r.doc_id FROM r JOIN q ON r.lang = q.lang
      |WHERE r.rk <= q.quota
      |ORDER BY r.lang, r.doc_id""") { (s, d) =>
      Sampling.temperatureSample(Engine.table(s, d, "documents"),
          "lang", "doc_id", alpha = 0.5, total = 300)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // ── deterministic train/val/test split (hash-threshold assignment;
    //    pure projection — rows keep their split across reruns/appends,
    //    the anti-leakage property). Thresholds: 80% -> 'cccd' (0.80006),
    //    90% -> 'e666' (0.89999) of the 4-hex md5 prefix space ──────────
    "sample_split" -> Q("""
      |WITH a AS (SELECT doc_id,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
      |         THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
      |         THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(doc_id) AS BIGINT) AS first_id,
      |       CAST(max(doc_id) AS BIGINT) AS last_id
      |FROM a GROUP BY split ORDER BY split""") { (s, d) =>
      Sampling.hashSplit(Engine.table(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).cast("long").as("first_id"),
          max(col("doc_id")).cast("long").as("last_id"))
        .orderBy(col("split"))
    },

    // ── group-level MinHash via custom typed Aggregator ──────────────────
    // (elementwise-min of row signatures = signature of the union of the
    // groups' shingle sets; property-tested in OperatorSpec)
    // (signature flattened to a joined string: the driver sorts even
    //  rows-only outputs and can't hash list columns — CORRECTNESS_r01)
    // Bounded-pass (r6 verdict #2): the raw signature is engine-private,
    // so the query emits the adjudicable facts instead — the group set +
    // doc counts (oracled exactly) and the UDAF's defining property
    // asserted per run: elementwise-min of row signatures == signature of
    // the UNION of the groups' shingle sets (computed independently via
    // explode + collect_set + MinHash64; minhash of a set is
    // order-independent, so collect_set's ordering is immaterial).
    "agg_group_minhash" -> Q("""
      |SELECT source, count(*) AS n_docs, true AS sig_equals_union_sig
      |FROM documents GROUP BY source ORDER BY source""") { (s, d) =>
      val k = 32
      val docs = Engine.table(s, d, "documents")
      val viaUdaf = docs
        .select(col("source"),
          Dedup.minhashSignature(
            Dedup.shingles(col("text"), 3), k).as("sig"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          GroupMinHash.groupSignature(col("sig"), k).as("group_sig"))
      val viaUnion = docs
        .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(collect_set(col("sh")).as("shs"))
        .select(col("source"),
          Dedup.minhashSignature(col("shs"), k).as("union_sig"))
      viaUdaf.join(viaUnion, "source")
        .select(col("source"), col("n_docs"),
          (col("group_sig") === col("union_sig")).as("sig_equals_union_sig"))
        .orderBy(col("source"))
    },

    // ── TopK aggregation fusion (custom LogicalPlan+Strategy+SparkPlan;
    //    reference: topk_aggregation.rs:40 + aggregates/topk/) ────────────
    // Bounded k-entry state per partition; the oracle is the unfused
    // groupBy + order + limit with the same (m DESC NULLS LAST, key ASC)
    // tie policy.
    "topk_aggregation" -> Q("""
      |SELECT l_partkey, max(l_extendedprice) AS m
      |FROM lineitem GROUP BY l_partkey
      |ORDER BY m DESC NULLS LAST, l_partkey ASC LIMIT 10""") { (s, d) =>
      graft.plans.TopKAgg.topKGroupsByMax(
        Engine.table(s, d, "lineitem"), Seq("l_partkey"),
        "l_extendedprice", 10, "m")
        .orderBy(col("m").desc_nulls_last, col("l_partkey"))
    },

    // ── catalog surface (information_schema analogue; reference:
    //    core/src/catalog/information_schema.rs) — both engines list the
    //    same 10 registered tables/views (isTemporary filters out any
    //    managed tables other queries create, e.g. insert_into's) ────────
    "catalog_tables" -> Q("""
      |SELECT table_name AS "tableName" FROM information_schema.tables
      |ORDER BY 1""") { (s, d) =>
      Engine.registerAll(s, d)
      // pin to the registered source tables: other queries may create
      // their own temp views/tables in the shared session, and the
      // oracle's DuckDB catalog only ever holds these ten
      s.sql("SHOW TABLES").filter(col("isTemporary"))
        .filter(col("tableName").isin(Engine.tableNames: _*))
        .select(col("tableName")).orderBy(col("tableName"))
    },

    // ── information_schema.columns (reference:
    //    core/src/catalog/information_schema.rs columns table) —
    //    DESCRIBE through the catalog vs DuckDB's information_schema,
    //    with the dialects' type names mapped to Spark's ─────────────────
    "catalog_columns" -> Q("""
      |SELECT column_name AS col_name,
      |       CASE lower(data_type) WHEN 'integer' THEN 'int'
      |            WHEN 'varchar' THEN 'string'
      |            WHEN 'timestamp' THEN 'timestamp_ntz'
      |            ELSE lower(data_type) END AS data_type
      |FROM information_schema.columns WHERE table_name = 'lineitem'
      |ORDER BY col_name""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("DESCRIBE TABLE lineitem")
        .select(col("col_name"), col("data_type"))
        .orderBy(col("col_name"))
    },

    // ── information_schema.df_settings analogue (reference:
    //    core/src/catalog/information_schema.rs:202 make_df_settings) —
    //    a SET statement updates the session conf, the graft_settings
    //    view exposes it as a (name, value, description) relation. The
    //    oracled subset pins the session-invariant confs + the SET key;
    //    the full dynamic surface is spec-pinned in ContextSpec ──────────
    "catalog_settings" -> Q("""
      |SELECT * FROM (VALUES
      |  ('spark.graft.answer', '42'),
      |  ('spark.sql.adaptive.enabled', 'true'),
      |  ('spark.sql.session.timeZone', 'UTC')) AS t(name, value)
      |ORDER BY name""") { (s, _) =>
      val ctx = graft.GraftContext(s)
      ctx.sql("SET spark.graft.answer=42")
      ctx.registerSettingsView()
      s.sql("""
        SELECT name, value FROM graft_settings
        WHERE name IN ('spark.graft.answer', 'spark.sql.adaptive.enabled',
                       'spark.sql.session.timeZone')
        ORDER BY name""")
    },

    // ── INSERT INTO a managed table (reference: DataSinkExec,
    //    physical-plan/src/insert.rs:83 + dml.rs) — saveAsTable creates,
    //    insertInto appends, read back through the catalog ───────────────
    "insert_into" -> Q("""
      |SELECT k, name FROM (
      |  SELECT n_nationkey AS k, n_name AS name FROM nation
      |  UNION ALL
      |  SELECT n_nationkey + 100, n_name FROM nation WHERE n_nationkey < 5)
      |ORDER BY k""") { (s, d) =>
      s.sql("DROP TABLE IF EXISTS graft_insert_demo")
      Engine.table(s, d, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("name"))
        // external path: immune to orphaned warehouse dirs across runs
        .write.mode("overwrite")
        .option("path", MiscQueries.scratch("insert_demo"))
        .saveAsTable("graft_insert_demo")
      Engine.table(s, d, "nation").filter(col("n_nationkey") < 5)
        .select((col("n_nationkey") + 100).as("k"), col("n_name").as("name"))
        .write.mode("append").insertInto("graft_insert_demo")
      s.table("graft_insert_demo").orderBy(col("k"))
    },

    // ── explode (unnest) a MAP column into key/value rows (reference:
    //    UnnestExec's struct path has no map analogue — Arrow MapArray is
    //    list<struct<key,value>>; here the map is built from columns and
    //    exploded, one row per entry, same Generate machinery as list
    //    explode. Oracle replays the two entries as a UNION ALL. ──────────
    "unnest_map" -> Q("""
      |SELECT l_orderkey, l_linenumber, k AS key, v AS value FROM (
      |  SELECT l_orderkey, l_linenumber, 'qty' AS k, l_quantity AS v
      |  FROM lineitem WHERE l_orderkey < 500
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'price' AS k, l_extendedprice AS v
      |  FROM lineitem WHERE l_orderkey < 500)
      |ORDER BY l_orderkey, l_linenumber, key""") { (s, d) =>
      Engine.table(s, d, "lineitem").filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          map(lit("qty"), col("l_quantity"),
            lit("price"), col("l_extendedprice")).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("m")).as(Seq("key", "value")))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("key"))
    },

    // ── MERGE-shaped upsert (operators/Upsert): source updates matched
    //    keys, inserts new ones, target-only rows survive — one full-outer
    //    join. The +1000 delta is exact IEEE addition, so raw doubles
    //    compare bit-equal. Oracle is the textbook MERGE rewrite. ─────────
    "upsert_merge" -> Q("""
      |WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
      |           FROM orders WHERE o_orderkey < 10000),
      |     s AS (SELECT o_orderkey, 'U' AS o_orderstatus,
      |                  o_totalprice + 1000 AS o_totalprice
      |           FROM orders WHERE o_orderkey >= 5000 AND o_orderkey < 15000)
      |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
      |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
      |            ELSE t.o_orderstatus END AS o_orderstatus,
      |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
      |            ELSE t.o_totalprice END AS o_totalprice
      |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
      |ORDER BY o_orderkey""") { (s, d) =>
      val orders = Engine.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val target = orders.filter(col("o_orderkey") < 10000)
      val source = orders
        .filter(col("o_orderkey") >= 5000 && col("o_orderkey") < 15000)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      Upsert.merge(target, source, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },

    // ── partition-pruned MERGE on disk: only source-touched hive
    //    partitions are read + dynamically overwritten (LayoutSpec pins
    //    the untouched-files-byte-identical property); the final table
    //    content is provably the same full-outer merge, which is what
    //    the oracle replays ────────────────────────────────────────────────
    "upsert_merge_pruned" -> Q("""
      |WITH t AS (SELECT o_orderkey % 8 AS pk, o_orderkey, o_orderstatus,
      |                  o_totalprice
      |           FROM orders WHERE o_orderkey < 10000),
      |     s AS (SELECT o_orderkey % 8 AS pk, o_orderkey,
      |                  'U' AS o_orderstatus,
      |                  o_totalprice + 1000 AS o_totalprice
      |           FROM orders WHERE o_orderkey >= 5000 AND o_orderkey < 15000
      |             AND o_orderkey % 8 < 3)
      |SELECT COALESCE(s.pk, t.pk) AS pk,
      |       COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
      |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
      |            ELSE t.o_orderstatus END AS o_orderstatus,
      |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
      |            ELSE t.o_totalprice END AS o_totalprice
      |FROM t FULL OUTER JOIN s
      |  ON t.pk = s.pk AND t.o_orderkey = s.o_orderkey
      |ORDER BY o_orderkey""") { (s, d) =>
      val dir = MiscQueries.scratch(
        "merge_pruned_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
      val orders = Engine.table(s, d, "orders")
        .select(pmod(col("o_orderkey"), lit(8)).as("pk"),
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      orders.filter(col("o_orderkey") < 10000)
        .write.mode("overwrite").partitionBy("pk").parquet(dir)
      val source = orders
        .filter(col("o_orderkey") >= 5000 && col("o_orderkey") < 15000 &&
          col("pk") < 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      Upsert.mergeIntoPartitioned(s, dir, "pk", source,
        Seq("pk", "o_orderkey"))
      s.read.parquet(dir)
        .select(col("pk").cast("long").as("pk"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // ── MERGE ... WHEN MATCHED THEN DELETE (anti-join retraction) ────────
    "upsert_delete" -> Q("""
      |SELECT o_orderkey, o_totalprice FROM orders t
      |WHERE o_orderkey < 10000 AND NOT EXISTS (
      |  SELECT 1 FROM orders s
      |  WHERE s.o_orderkey = t.o_orderkey AND s.o_custkey < 750)
      |ORDER BY o_orderkey""") { (s, d) =>
      val orders = Engine.table(s, d, "orders")
      Upsert.antiMerge(
        orders.filter(col("o_orderkey") < 10000)
          .select(col("o_orderkey"), col("o_totalprice")),
        orders.filter(col("o_custkey") < 750).select(col("o_orderkey")),
        Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },

    // ── Z-order (Morton) clustering key (operators/ZOrder): pure
    //    shift/mask bit interleave, fully codegen'd; the oracle replays
    //    the same 16 terms with DuckDB's bit operators. The layout story
    //    (repartitionByRange on z + per-file span shrink) is ZOrderSpec. ──
    "zorder_key" -> Q({
      val terms = (0 until 8).flatMap(i => Seq(
        s"((((o_custkey >> $i) & 1)) << ${2 * i + 1})",
        s"((((o_orderkey >> $i) & 1)) << ${2 * i})"))
      s"""SELECT o_orderkey,
         CAST(${terms.mkString(" | ")} AS BIGINT) AS z
         FROM orders ORDER BY o_orderkey"""
    }) { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          ZOrder.zValue(Seq(col("o_custkey"), col("o_orderkey")), 8).as("z"))
        .orderBy(col("o_orderkey"))
    }
  )
}
