package graft.queries

import graft.{Engine, Q}
import graft.functions.Bloom
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Completes TPC-H (q2/q11 adaptations for the partsupp-less schema),
  * error-safe try_* expressions (reference: try_cast —
  * expr/src/expr.rs:292, physical-expr try_cast.rs), MapType surface
  * (reference: Arrow MapArray, sqllogictest/test_files/map.slt), HLL
  * sketch aggregates, and the IVF ANN variant.
  */
object ExtrasQueries {

  val defs: Map[String, Q] = Map(
    // ── broadcast-bloom semi-join prefilter: build-side keys aggregate
    //    into a 64Kbit sketch (one driver-collected row — the broadcast
    //    analogue), fact rows are dropped map-side in the scan stage, and
    //    the exact semi-join runs only over the sketch's survivors. Same
    //    rows as the plain semi-join (bloom has no false negatives; FPs
    //    die in the join) — the oracle IS the plain semi-join ────────────
    "join_bloom_prefilter" -> Q("""
      |SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
      |ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      val sel = Engine.table(s, d, "part")
        .filter(col("p_size") === 15).select(col("p_partkey"))
      val sketch = sel.agg(Bloom.sketch(col("p_partkey"), 1 << 16, 5))
        .head().getAs[Array[Byte]](0)
      Engine.table(s, d, "lineitem")
        .filter(Bloom.contains(lit(sketch), col("l_partkey")))
        .join(sel, col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ── pivot: long→wide reshaping (beyond the reference — DataFusion
    //    has no PIVOT; Spark's groupBy().pivot() with an EXPLICIT value
    //    list plans one two-phase hash aggregate, no driver-side distinct
    //    scan — the oracle is portable conditional aggregation) ───────────
    "pivot_events" -> Q("""
      |SELECT user_id,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      Engine.table(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        // absent (user, type) combos pivot to NULL; the oracle's ELSE 0
        .select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("user_id"))
    },

    // ── unpivot: wide→long reshaping (Dataset.unpivot; oracle is the
    //    portable UNION ALL expansion) ─────────────────────────────────────
    "unpivot_lineitem" -> Q("""
      |SELECT l_orderkey, l_linenumber, metric, val FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
      |  FROM lineitem WHERE l_orderkey % 199 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_orderkey % 199 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem WHERE l_orderkey % 199 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      |  FROM lineitem WHERE l_orderkey % 199 = 0)
      |ORDER BY l_orderkey, l_linenumber, metric""") { (s, d) =>
      Engine.table(s, d, "lineitem")
        .filter(col("l_orderkey") % 199 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    },

    // ── Q2 (adapted): correlated min — cheapest supplier per large part ──
    "tpch_q2" -> Q("""
      |SELECT DISTINCT p_partkey, p_name, s_name, s_acctbal
      |FROM part, supplier, lineitem
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size = 15
      |  AND s_acctbal = (SELECT min(s2.s_acctbal)
      |                   FROM supplier s2, lineitem l2
      |                   WHERE l2.l_partkey = p_partkey
      |                     AND l2.l_suppkey = s2.s_suppkey)
      |ORDER BY s_acctbal, p_partkey LIMIT 20""") { (s, d) =>
      val p = Engine.table(s, d, "part").filter(col("p_size") === 15)
      val su = Engine.table(s, d, "supplier")
      val l = Engine.table(s, d, "lineitem")
      // One-pass window rewrite (r9, same class as tpch_q21): the naive
      // shape computes minCost = (l ⨝ su) grouped over the FULL fact —
      // the p_size filter restricts which PARTS survive, not which
      // lineitems per part, so Catalyst cannot push it into the
      // aggregate side and the whole fact shuffles twice. Instead join
      // p (broadcast) FIRST — the fact slice shrinks to the qualifying
      // parts (~2%) before anything shuffles — and derive the
      // per-part minimum as a window over the SAME l_partkey hash
      // partitioning the plan already has (min over all suppliers of a
      // qualifying part ≡ the correlated subquery, because the part
      // filter is independent of the lineitem rows). A/B sf0.1
      // (targeted, iters=5, quiet box): 0.360 → 0.319/0.281 s median
      // across two runs — and the removed shuffle+aggregate carried
      // the FULL fact, so the win compounds with SF.
      import org.apache.spark.sql.expressions.Window
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .withColumn("min_bal",
          min(col("s_acctbal")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("s_acctbal") === col("min_bal"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("s_acctbal"))
        .distinct()
        .orderBy(col("s_acctbal"), col("p_partkey"))
        .limit(20)
    },

    // ── Q11 (adapted): important stock — value share threshold ───────────
    "tpch_q11" -> Q("""
      |SELECT l_partkey, round(sum(l_quantity * l_extendedprice), 2) AS value
      |FROM lineitem, supplier
      |WHERE l_suppkey = s_suppkey
      |  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |GROUP BY l_partkey
      |HAVING sum(l_quantity * l_extendedprice) >
      |  (SELECT sum(l_quantity * l_extendedprice) * 0.001
      |   FROM lineitem, supplier
      |   WHERE l_suppkey = s_suppkey
      |     AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2))
      |ORDER BY value DESC, l_partkey""") { (s, d) =>
      val n = Engine.table(s, d, "nation").filter(col("n_regionkey") === 2)
        .select(col("n_nationkey"))
      val su = Engine.table(s, d, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"), "left_semi")
      val l = Engine.table(s, d, "lineitem")
      val scoped = l.join(su, l("l_suppkey") === su("s_suppkey"))
        .select(col("l_partkey"),
          (col("l_quantity") * col("l_extendedprice")).as("v"))
      // NEGATIVE A/B, pinned (r9, RE-CONFIRMED r10 at larger SF —
      // closes the r9 "re-A/B at a bigger SF" follow-up): deriving the
      // threshold from the grouped result makes Spark re-plan the
      // grouped subtree for the broadcast side (no exchange reuse,
      // 0.504 → 0.643 s — the q14-CTE lesson), and the checkpointed
      // fix was briefly ADOPTED in r10 then REVERTED: a replicated-fact
      // probe (ROUND_NOTES_r10, verdict #6: fact replicated in-memory
      // ×10/×30/×100, values identical both variants) showed
      // checkpoint −19%/−10%/wash — but that harness
      // pays explode CPU on BOTH passes, overstating the second pass.
      // Against real parquet, like-for-like targeted bench (iters=7,
      // same box, same mode): checkpoint 0.49 s median vs this
      // two-pass shape 0.42–0.45 s — localCheckpoint's eager job +
      // write costs more than the threshold pass (a vectorized scan +
      // map-side partial aggregate, NO fact shuffle) saves locally.
      // At true 100 TB the second scan is real IO and the checkpoint
      // write is bounded by part cardinality — IF a deployment is
      // scan-bound there, the checkpoint variant is three lines away;
      // the shipped shape optimizes the measured regime.
      val threshold = scoped.agg((sum(col("v")) * 0.001).as("thr"))
      scoped.groupBy(col("l_partkey"))
        .agg(sum(col("v")).as("raw_value"))
        .join(broadcast(threshold))
        .filter(col("raw_value") > col("thr"))
        .select(col("l_partkey"), round(col("raw_value"), 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    // ── try_* error-safe expressions ─────────────────────────────────────
    "func_try" -> Q("""
      |SELECT doc_id,
      |       TRY_CAST(source AS INTEGER)               AS bad_cast,
      |       TRY_CAST(substr(source, 4) AS BIGINT)     AS src_num,
      |       CASE WHEN n_chars - n_chars = 0 THEN NULL
      |            ELSE n_chars / (n_chars - n_chars) END AS div0,
      |       (string_split(text, ' '))[999]            AS oob
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          expr("try_cast(source AS INT)").as("bad_cast"),
          expr("try_cast(substr(source, 4) AS BIGINT)").as("src_num"),
          try_divide(col("n_chars"), col("n_chars") - col("n_chars"))
            .as("div0"),
          try_element_at(split(col("text"), " "), lit(999)).as("oob"))
        .orderBy(col("doc_id"))
    },

    // ── MapType surface ──────────────────────────────────────────────────
    "func_map" -> Q("""
      |SELECT doc_id,
      |       m['lang'][1]                AS lang_val,
      |       array_to_string(list_sort(map_keys(m)), ',') AS ks,
      |       CAST(cardinality(m) AS BIGINT) AS n
      |FROM (SELECT doc_id, MAP(['lang', 'src'], [lang, source]) AS m
      |      FROM documents)
      |ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          map_from_arrays(array(lit("lang"), lit("src")),
            array(col("lang"), col("source"))).as("m"))
        .select(col("doc_id"),
          element_at(col("m"), "lang").as("lang_val"),
          array_join(array_sort(map_keys(col("m"))), ",").as("ks"),
          size(col("m")).cast("long").as("n"))
        .orderBy(col("doc_id"))
    },

    // ── HLL sketch aggregate (datasketches; fixed-size mergeable state) ──
    // ── approx_top_k heavy-hitter aggregate (Spark 4 datasketches
    //    frequent-items; with 5 distinct values it is EXACT, so the
    //    oracle is the exact grouped top-3 — counts are distinct in the
    //    testdata, and the event_type tiebreak pins any future tie) ───────
    "agg_approx_top_k" -> Q("""
      |SELECT event_type, CAST(c AS BIGINT) AS c FROM (
      |  SELECT event_type, count(*) AS c FROM events GROUP BY event_type
      |  ORDER BY c DESC, event_type LIMIT 3)
      |ORDER BY c DESC, event_type""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""
        SELECT item AS event_type, count AS c FROM (
          SELECT inline(approx_top_k(event_type, 3)) FROM events)
        ORDER BY c DESC, event_type""")
    },

    // bounded-pass (r6 verdict #2): exact side oracled in DuckDB, the
    // Datasketches HLL estimate asserted within 5% (3σ at lgK=12's
    // rsd≈1.6%) of it — every emitted column adjudicated
    "agg_hll_sketch" -> Q("""
      |SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |       true AS est_in_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      // sketch pass and exact pass SPLIT, joined on the 3-row group set
      // (r11, the agg_approx fix): mixing the binary-state sketch
      // aggregate with countDistinct Expands every row through the
      // object-agg path — split, the sketch pass streams rows once
      val li = Engine.table(s, d, "lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("est"))
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        .join(sk, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("est") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("est_in_bound"))
        .orderBy(col("l_returnflag"))
    },

    // ── HLL sketch ROLLUP: per-day sketches union to the total WITHOUT
    //    re-reading raw data — the 100 TB pre-aggregation pattern (store
    //    daily sketches, answer monthly distincts by merging). The query
    //    proves the two paths agree: estimate(union of day sketches) ==
    //    estimate(direct sketch over all rows). Deterministic: sketches
    //    are a pure function of the value multiset and config ────────────
    // bounded-pass (r6 verdict #2): n_days and the exact user count are
    // oracled in DuckDB; the union-of-daily-sketches estimate is asserted
    // within 2% of the direct estimate (exact equality holds at small
    // cardinality but union promotes the sketch mode at sf0.1+, shifting
    // the estimate a fraction of a percent) AND within 5% of the exact
    // count
    "agg_hll_rollup" -> Q("""
      |SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       count(DISTINCT user_id) AS exact_users,
      |       true AS paths_agree, true AS est_in_bound
      |FROM events""") { (s, d) =>
      val ev = Engine.table(s, d, "events")
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val viaUnion = daily.agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
      val direct = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
        countDistinct(col("user_id")).as("exact_users"))
      viaUnion.crossJoin(direct)
        .select(col("n_days"), col("exact_users"),
          (abs(col("est_union") - col("est_direct"))
            <= col("est_direct") * 0.02).as("paths_agree"),
          (abs(col("est_union") - col("exact_users"))
            <= col("exact_users") * 0.05).as("est_in_bound"))
    },

    // ── count-min sketch (custom TypedImperativeAggregate — the binary-
    //    state UDAF tier; merge is elementwise addition so estimates are
    //    deterministic under any partitioning). 5 keys against a 4×1024
    //    sketch → collision-free, so the estimates EQUAL exact counts
    //    and the query oracles against plain GROUP BY ──────────────────
    "agg_countmin" -> Q("""
      |SELECT event_type, count(*) AS est
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
      val ev = Engine.table(s, d, "events")
      val sk = ev.agg(graft.functions.CountMin.sketch(col("event_type"))
        .as("sk"))
      ev.select(col("event_type")).distinct()
        .crossJoin(sk)
        .select(col("event_type"),
          graft.functions.CountMin.estimate(col("sk"), col("event_type"))
            .as("est"))
        .orderBy(col("event_type"))
    },

    // ── KMV theta sketch (custom TypedImperativeAggregate): distinct
    //    sketches that compose under set algebra. ~150 distinct user_ids
    //    against k=4096 → the sketch retains every hash, so estimates are
    //    EXACT and both queries oracle against count(DISTINCT). The
    //    saturated (estimating) regime is covered by ThetaSpec ───────────
    "agg_theta_sketch" -> Q("""
      |SELECT event_type, count(DISTINCT user_id) AS users
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
      Engine.table(s, d, "events")
        .groupBy(col("event_type"))
        .agg(graft.functions.Theta.estimate(
          graft.functions.Theta.sketch(col("user_id"))).as("users"))
        .orderBy(col("event_type"))
    },

    // ── theta set algebra over ALREADY-AGGREGATED sketches: one scan
    //    builds both cohort sketches (conditional inputs — the aggregate
    //    skips nulls), union/intersection read pure sketch bytes ─────────
    "agg_theta_setops" -> Q("""
      |SELECT
      |  (SELECT count(DISTINCT user_id) FROM events
      |     WHERE event_type = 'click') AS click_users,
      |  (SELECT count(DISTINCT user_id) FROM events
      |     WHERE event_type = 'purchase') AS purchase_users,
      |  (SELECT count(DISTINCT user_id) FROM events
      |     WHERE event_type IN ('click', 'purchase')) AS union_users,
      |  (SELECT count(DISTINCT user_id) FROM (
      |     SELECT user_id FROM events WHERE event_type = 'click'
      |     INTERSECT
      |     SELECT user_id FROM events WHERE event_type = 'purchase'))
      |    AS both_users""") { (s, d) =>
      import graft.functions.Theta
      Engine.table(s, d, "events")
        .agg(
          Theta.sketch(when(col("event_type") === "click", col("user_id")))
            .as("a"),
          Theta.sketch(when(col("event_type") === "purchase", col("user_id")))
            .as("b"))
        .select(
          Theta.estimate(col("a")).as("click_users"),
          Theta.estimate(col("b")).as("purchase_users"),
          Theta.estimate(Theta.union(col("a"), col("b"))).as("union_users"),
          Theta.intersect(col("a"), col("b")).as("both_users"))
    },

    // ── IVF approximate top-k (cell-probed ANN) ──────────────────────────
    // Fully replayed by the oracle (r6 verdict #2): the centroids are a
    // deterministic md5-ranked corpus sample DuckDB reselects itself,
    // cell assignment and probing use the bit-identical cosine (see
    // cosSqlDuck), so the ENTIRE approximate result — probed cells,
    // candidates, rounded rerank — is value-oracled.
    "pipe_sim_ivf" -> Q(s"""
      |WITH base AS (SELECT vec_id id,
      |       list_transform(embedding, x -> CAST(x AS DOUBLE)) vec
      |     FROM embeddings),
      |cent AS (SELECT row_number() OVER
      |           (ORDER BY md5(CAST(id AS VARCHAR)), id) cell, vec
      |         FROM base ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
      |sim AS (SELECT b.id, c.cell,
      |          ${PipelineQueries.cosSqlDuck("b.vec", "c.vec")} s
      |        FROM base b, cent c),
      |assigned AS (SELECT id nid, cell FROM sim
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY s DESC, cell) = 1),
      |probes AS (SELECT id qid, cell FROM sim WHERE id < 10
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY s DESC, cell) <= 4),
      |res AS (SELECT qid, nid,
      |          round(${PipelineQueries.cosSqlDuck("q.vec", "n.vec")}, 6) cos
      |        FROM probes JOIN assigned USING (cell)
      |        JOIN base q ON q.id = qid JOIN base n ON n.id = nid
      |        WHERE nid <> qid)
      |SELECT qid, nid, cos FROM res
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) <= 5
      |ORDER BY qid, cos DESC, nid""") { (s, d) =>
      val emb = Engine.table(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
        .orderBy(col("qid"), col("cos").desc, col("nid"))
    },

    // ── product quantization: codes + reconstruction error (r10) ─────────
    // Fully replayed by the oracle like pipe_sim_ivf: codebooks are the
    // SAME md5-ranked deterministic sample (kmeansIters=0 — the
    // refined path is float-sum nondeterministic and gated by
    // PipelineSpec/recall instead), per-subspace argmin uses exact IEEE
    // squared-L2 with a pinned fold order (list_prepend(0.0,...) ≡
    // Spark's aggregate-from-0.0), first-index tie break on both
    // engines (array_position / min(c) at the min distance). Emits the
    // m=4 codes (ints — fp-free) and the per-vector reconstruction
    // error folded in subspace order.
    "pipe_sim_pq" -> Q("""
      |WITH base AS (SELECT vec_id id,
      |       list_transform(embedding, x -> CAST(x AS DOUBLE)) vec
      |     FROM embeddings),
      |cw AS (SELECT row_number() OVER
      |         (ORDER BY md5(CAST(id AS VARCHAR)), id) c, vec
      |       FROM base ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      |d AS (SELECT b.id, j.j, cw.c,
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, 16), t ->
      |            (b.vec[(j.j - 1) * 16 + t] - cw.vec[(j.j - 1) * 16 + t])
      |            * (b.vec[(j.j - 1) * 16 + t] - cw.vec[(j.j - 1) * 16 + t]))),
      |          (a, x) -> a + x) dist
      |      FROM base b, generate_series(1, 4) j(j), cw),
      |mins AS (SELECT id, j, min(dist) md FROM d GROUP BY id, j),
      |best AS (SELECT d.id, d.j, CAST(min(d.c) - 1 AS INT) code, min(m.md) md
      |         FROM d JOIN mins m ON d.id = m.id AND d.j = m.j
      |         WHERE d.dist = m.md GROUP BY d.id, d.j)
      |SELECT id AS vec_id,
      |       max(CASE WHEN j = 1 THEN code END) AS c1,
      |       max(CASE WHEN j = 2 THEN code END) AS c2,
      |       max(CASE WHEN j = 3 THEN code END) AS c3,
      |       max(CASE WHEN j = 4 THEN code END) AS c4,
      |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |         list(md ORDER BY j)), (a, x) -> a + x), 6) AS recon
      |FROM best GROUP BY id ORDER BY vec_id""") { (s, d) =>
      val emb = Engine.table(s, d, "embeddings")
      val cbs = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8)
      val cbLit = typedlit(cbs)
      val v = transform(col("embedding"), _.cast("double"))
      Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
        .join(emb.select(col("vec_id").as("id"), v.as("v")), "id")
        .select(col("id").as("vec_id"),
          element_at(col("codes"), 1).as("c1"),
          element_at(col("codes"), 2).as("c2"),
          element_at(col("codes"), 3).as("c3"),
          element_at(col("codes"), 4).as("c4"),
          round(aggregate(
            zip_with(col("codes"), sequence(lit(1), lit(4)), (code, j) =>
              Similarity.l2sq(
                slice(col("v"), (j - 1) * 16 + 1, lit(16)),
                element_at(element_at(cbLit, j), code + 1))),
            lit(0.0), (acc, x) => acc + x), 6).as("recon"))
        .orderBy(col("vec_id"))
    },

    // ── IVF × PQ composition: the production ANN shape (r10 verdict #2
    //    /r11 #3) — fully replayed by the oracle like its two halves:
    //    centroids AND codebooks are the same md5-ranked deterministic
    //    samples (kmeansIters=0), cell routing uses the bit-identical
    //    squared-L2 fold ORDER BY (dist, cell) — nearestCellsL2's
    //    struct sort — PQ codes reuse pipe_sim_pq's argmin block, the
    //    ADC distance is the per-subspace lut values of the QUERY id at
    //    the neighbor's codes folded in subspace order, and the exact
    //    rerank re-ranks the 25-row shortlist by true L2². Every
    //    emitted row (qid, nid, dist) is value-oracled, approximation
    //    and all. ───────────────────────────────────────────────────────
    "pipe_sim_ivfpq" -> Q("""
      |WITH base AS (SELECT vec_id id,
      |       list_transform(embedding, x -> CAST(x AS DOUBLE)) vec
      |     FROM embeddings),
      |cent AS (SELECT row_number() OVER
      |           (ORDER BY md5(CAST(id AS VARCHAR)), id) cell, vec
      |         FROM base ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
      |cw AS (SELECT row_number() OVER
      |         (ORDER BY md5(CAST(id AS VARCHAR)), id) c, vec
      |       FROM base ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      |celld AS (SELECT b.id, c.cell,
      |            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |              list_transform(generate_series(1, 64), t ->
      |                (b.vec[t] - c.vec[t]) * (b.vec[t] - c.vec[t]))),
      |              (a, x) -> a + x) dist
      |          FROM base b, cent c),
      |assigned AS (SELECT id nid, cell FROM celld
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, cell) = 1),
      |probes AS (SELECT id qid, cell FROM celld WHERE id < 10
      |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, cell) <= 4),
      |subd AS (SELECT b.id, j.j, cw.c,
      |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |             list_transform(generate_series(1, 16), t ->
      |               (b.vec[(j.j - 1) * 16 + t] - cw.vec[(j.j - 1) * 16 + t])
      |               * (b.vec[(j.j - 1) * 16 + t] - cw.vec[(j.j - 1) * 16 + t]))),
      |             (a, x) -> a + x) dist
      |         FROM base b, generate_series(1, 4) j(j), cw),
      |mins AS (SELECT id, j, min(dist) md FROM subd GROUP BY id, j),
      |codes AS (SELECT s.id nid, s.j, min(s.c) c
      |          FROM subd s JOIN mins m ON s.id = m.id AND s.j = m.j
      |          WHERE s.dist = m.md GROUP BY s.id, s.j),
      |adc AS (SELECT p.qid, a.nid,
      |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list(s.dist ORDER BY s.j)), (a2, x) -> a2 + x) adist
      |        FROM probes p JOIN assigned a USING (cell)
      |        JOIN codes k ON k.nid = a.nid
      |        JOIN subd s ON s.id = p.qid AND s.j = k.j AND s.c = k.c
      |        WHERE a.nid <> p.qid
      |        GROUP BY p.qid, a.nid),
      |short AS (SELECT qid, nid FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist, nid) <= 25),
      |res AS (SELECT s.qid, s.nid,
      |          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(generate_series(1, 64), t ->
      |              (q.vec[t] - n.vec[t]) * (q.vec[t] - n.vec[t]))),
      |            (a, x) -> a + x), 6) dist
      |        FROM short s JOIN base q ON q.id = s.qid
      |        JOIN base n ON n.id = s.nid)
      |SELECT qid, nid, dist FROM res
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dist, nid) <= 5
      |ORDER BY qid, dist, nid""") { (s, d) =>
      val emb = Engine.table(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", topk = 5, nCells = 16, nProbe = 4,
          m = 4, k = 8, kmeansIters = 0, rerankFactor = 5)
        .orderBy(col("qid"), col("dist"), col("nid"))
    },

    // ── salted aggregation ≡ plain aggregation (skew mitigation) ─────────
    "skew_salted_agg" -> Q("""
      |SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS rev,
      |       count(DISTINCT l_suppkey) AS nsupp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      graft.operators.Salting.saltedAgg(
          Engine.table(s, d, "lineitem"), Seq("l_returnflag"),
          col("l_orderkey"), salts = 16)(
          partial = Seq(count(lit(1)).as("pn"),
            sum(col("l_extendedprice")).as("ps"),
            collect_set(col("l_suppkey")).as("pset")),
          finalAgg = Seq(sum(col("pn")).as("n"),
            round(sum(col("ps")), 2).as("rev"),
            size(array_distinct(flatten(collect_list(col("pset")))))
              .cast("long").as("nsupp")))
        .orderBy(col("l_returnflag"))
    },

    // ── salted join ≡ plain join (hot-key spread over 8 tasks) ───────────
    "skew_salted_join" -> Q("""
      |SELECT n_name, count(*) AS n FROM supplier JOIN nation
      |  ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""") { (s, d) =>
      graft.operators.Salting.saltedJoin(
          Engine.table(s, d, "supplier"),
          Engine.table(s, d, "nation"),
          "s_nationkey", "n_nationkey", col("s_suppkey"), salts = 8)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n_name"))
    }
  )
}
