package graft.queries

import graft.{Engine, Q}
import graft.functions.{GraftFunctions => F, NumberTheory}
import org.apache.spark.sql.functions._

/** Scalar-function surface (reference: datafusion/functions/src/lib.rs:156 —
  * string/unicode/regex/math/datetime/crypto/core families;
  * datafusion/functions-array/src/lib.rs:104-140). Each query evaluates a
  * family over a testdata table and is oracled against DuckDB (names
  * differ per dialect — the oracle SQL is the DuckDB spelling of the same
  * semantics). Everything stays in whole-stage codegen: built-in functions
  * + the graft parity layer (compositions / native Expressions, no UDFs).
  */
object FunctionQueries {

  val defs: Map[String, Q] = Map(
    // ── string family ────────────────────────────────────────────────────
    "func_string" -> Q("""
      |SELECT doc_id,
      |       upper(source)  AS up, lower(source) AS lo,
      |       CAST(length(text) AS BIGINT) AS len,
      |       substr(text, 3, 8) AS sub,
      |       source || '-' || lang AS cat,
      |       concat_ws('/', source, lang) AS catws,
      |       trim('  pad  ') AS tr, ltrim('  pad') AS ltr, rtrim('pad  ') AS rtr,
      |       lpad(source, 8, '*') AS lp, rpad(lang, 5, '.') AS rp,
      |       reverse(source) AS rev,
      |       left(text, 4) AS l4, right(source, 2) AS r2,
      |       repeat(lang, 3) AS rep,
      |       replace(source, 'src', 'S') AS repl,
      |       CAST(ascii(lang) AS BIGINT) AS asc_,
      |       chr(CAST(65 + doc_id % 26 AS INTEGER)) AS ch,
      |       split_part(text, ' ', 2) AS sp2,
      |       translate(source, 'srd', 'xyz') AS tra,
      |       CAST(instr(text, 'data') AS BIGINT) AS pos,
      |       starts_with(source, 'src') AS sw,
      |       ends_with(lang, 'n') AS ew,
      |       contains(text, 'query') AS has_q,
      |       CAST(levenshtein(lang, 'en') AS BIGINT) AS lev,
      |       upper(substr(source, 1, 1)) || lower(substr(source, 2)) AS icap
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          upper(col("source")).as("up"), lower(col("source")).as("lo"),
          length(col("text")).cast("long").as("len"),
          substring(col("text"), 3, 8).as("sub"),
          concat(col("source"), lit("-"), col("lang")).as("cat"),
          concat_ws("/", col("source"), col("lang")).as("catws"),
          trim(lit("  pad  ")).as("tr"), ltrim(lit("  pad")).as("ltr"),
          rtrim(lit("pad  ")).as("rtr"),
          lpad(col("source"), 8, "*").as("lp"), rpad(col("lang"), 5, ".").as("rp"),
          reverse(col("source")).as("rev"),
          substring(col("text"), 1, 4).as("l4"),
          expr("right(source, 2)").as("r2"),
          repeat(col("lang"), 3).as("rep"),
          regexp_replace(col("source"), "src", "S").as("repl"),
          ascii(col("lang")).cast("long").as("asc_"),
          chr(lit(65) + col("doc_id") % 26).as("ch"),
          expr("split_part(text, ' ', 2)").as("sp2"),
          translate(col("source"), "srd", "xyz").as("tra"),
          instr(col("text"), "data").cast("long").as("pos"),
          col("source").startsWith("src").as("sw"),
          col("lang").endsWith("n").as("ew"),
          col("text").contains("query").as("has_q"),
          levenshtein(col("lang"), lit("en")).cast("long").as("lev"),
          initcap(col("source")).as("icap"))
        .orderBy(col("doc_id"))
    },

    // ── string stragglers (overlay/find_in_set/nanvl/… — §2.9 rows with
    //    no DuckDB builtin are emulated in the oracle SQL) ────────────────
    "func_string2" -> Q("""
      |SELECT doc_id,
      |       substr(source, 1, 1) || 'XX' || substr(source, 5) AS ovl,
      |       CAST(coalesce(list_position(string_split('web,books,src,wiki', ','),
      |                                   source), 0) AS BIGINT) AS fis,
      |       CASE WHEN isnan(CASE WHEN doc_id % 2 = 0 THEN 'nan'::DOUBLE
      |                            ELSE 1.5 END)
      |            THEN -1.0 ELSE (CASE WHEN doc_id % 2 = 0 THEN 'nan'::DOUBLE
      |                                 ELSE 1.5 END) END AS nv,
      |       CAST(bit_length(source) AS BIGINT)   AS bl,
      |       CAST(strlen(source) AS BIGINT)       AS ol,
      |       trim(source, 'sw')                   AS bt,
      |       CAST(strpos(text, 'a') AS BIGINT)    AS sp,
      |       array_to_string(string_split(text, ' ')[1:2], ' ') AS si,
      |       length(CAST(uuid() AS VARCHAR)) = 36 AS u36,
      |       strftime(to_timestamp(doc_id * 3600), '%Y-%m-%d %H:%M:%S') AS fut
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          overlay(col("source"), lit("XX"), lit(2), lit(3)).as("ovl"),
          find_in_set(col("source"), lit("web,books,src,wiki")).cast("long")
            .as("fis"),
          nanvl(when(col("doc_id") % 2 === 0, lit(Double.NaN))
            .otherwise(lit(1.5)), lit(-1.0)).as("nv"),
          bit_length(col("source")).cast("long").as("bl"),
          octet_length(col("source")).cast("long").as("ol"),
          expr("btrim(source, 'sw')").as("bt"),
          locate("a", col("text")).cast("long").as("sp"),
          substring_index(col("text"), " ", 2).as("si"),
          (length(expr("uuid()")) === 36).as("u36"),
          from_unixtime(col("doc_id") * 3600).as("fut"))
        .orderBy(col("doc_id"))
    },

    // ── crypto / encoding ────────────────────────────────────────────────
    "func_crypto" -> Q("""
      |SELECT doc_id,
      |       md5(source)    AS m5,
      |       sha256(source) AS s256,
      |       hex(doc_id)    AS hx,
      |       to_base64(CAST(source AS BLOB)) AS b64
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          md5(col("source")).as("m5"),
          sha2(col("source"), 256).as("s256"),
          hex(col("doc_id")).as("hx"),
          base64(col("source").cast("binary")).as("b64"))
        .orderBy(col("doc_id"))
    },

    // ── regex family (simple ASCII patterns — dialect-neutral) ───────────
    "func_regex" -> Q("""
      |SELECT doc_id,
      |       regexp_matches(text, 'qu[a-z]+') AS rl,
      |       regexp_extract(text, 'd[a-z]+', 0) AS rx,
      |       regexp_replace(text, '[aeiou]', '_', 'g') AS rr,
      |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS rc,
      |       coalesce(array_to_string(
      |         regexp_extract_all(substr(text, 1, 30), '[a-z]+'), ' '), '')
      |         AS rall
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          col("text").rlike("qu[a-z]+").as("rl"),
          regexp_extract(col("text"), "d[a-z]+", 0).as("rx"),
          regexp_replace(col("text"), "[aeiou]", "_").as("rr"),
          regexp_count(col("text"), lit("[a-z]+")).cast("long").as("rc"),
          array_join(
            regexp_extract_all(substring(col("text"), 1, 30), lit("[a-z]+"),
              lit(0)), " ").as("rall"))
        .orderBy(col("doc_id"))
    },

    // ── math family ──────────────────────────────────────────────────────
    "func_math" -> Q("""
      |SELECT p_partkey,
      |       abs(p_retailprice - 1000.0)          AS ab,
      |       CAST(ceil(p_retailprice) AS BIGINT)  AS ce,
      |       CAST(floor(p_retailprice) AS BIGINT) AS fl,
      |       round(p_retailprice, 1)              AS rnd,
      |       round(sqrt(p_retailprice), 6)        AS sq,
      |       round(cbrt(p_retailprice), 6)        AS cb,
      |       round(exp(p_size / 25.0), 6)         AS ex,
      |       round(ln(p_retailprice), 6)          AS lnv,
      |       round(log10(p_retailprice), 6)       AS l10,
      |       round(log2(p_retailprice), 6)        AS l2,
      |       round(sin(p_size), 6) AS sn, round(cos(p_size), 6) AS cs,
      |       round(tan(p_size), 6) AS tn,
      |       round(atan2(p_size, 7), 6)           AS at2,
      |       round(cot(p_size + 1), 6)            AS ct,
      |       round(degrees(p_size / 10.0), 6)     AS dg,
      |       round(radians(p_size), 6)            AS rd,
      |       CAST(sign(p_size - 25) AS BIGINT)    AS sg,
      |       round(pow(p_size, 2.0), 1)           AS pw,
      |       p_partkey % 7                        AS md,
      |       CAST(factorial(p_size % 11) AS BIGINT) AS fact,
      |       gcd(p_partkey, 36)                   AS g,
      |       lcm(p_partkey % 10 + 1, 6)           AS l,
      |       round(pi(), 6)                       AS pi_
      |FROM part ORDER BY p_partkey""") { (s, d) =>
      Engine.table(s, d, "part")
        .select(col("p_partkey"),
          abs(col("p_retailprice") - 1000.0).as("ab"),
          ceil(col("p_retailprice")).as("ce"),
          floor(col("p_retailprice")).as("fl"),
          round(col("p_retailprice"), 1).as("rnd"),
          round(sqrt(col("p_retailprice")), 6).as("sq"),
          round(cbrt(col("p_retailprice")), 6).as("cb"),
          round(exp(col("p_size") / 25.0), 6).as("ex"),
          round(log(col("p_retailprice")), 6).as("lnv"),
          round(log10(col("p_retailprice")), 6).as("l10"),
          round(log2(col("p_retailprice")), 6).as("l2"),
          round(sin(col("p_size")), 6).as("sn"),
          round(cos(col("p_size")), 6).as("cs"),
          round(tan(col("p_size")), 6).as("tn"),
          round(atan2(col("p_size").cast("double"), lit(7.0)), 6).as("at2"),
          round(cot(col("p_size") + 1), 6).as("ct"),
          round(degrees(col("p_size") / 10.0), 6).as("dg"),
          round(radians(col("p_size")), 6).as("rd"),
          signum(col("p_size") - 25).cast("long").as("sg"),
          round(pow(col("p_size"), 2.0), 1).as("pw"),
          (col("p_partkey") % 7).as("md"),
          factorial(col("p_size") % 11).cast("long").as("fact"),
          NumberTheory.gcd(col("p_partkey"), lit(36)).as("g"),
          NumberTheory.lcm(col("p_partkey") % 10 + 1, lit(6)).as("l"),
          round(lit(math.Pi), 6).as("pi_"))
        .orderBy(col("p_partkey"))
    },

    // ── datetime family ──────────────────────────────────────────────────
    "func_datetime" -> Q("""
      |SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS BIGINT)      AS y,
      |       CAST(quarter(o_orderdate) AS BIGINT)   AS q,
      |       CAST(month(o_orderdate) AS BIGINT)     AS mo,
      |       CAST(day(o_orderdate) AS BIGINT)       AS dy,
      |       CAST(date_part('dow', o_orderdate) + 1 AS BIGINT) AS dw,
      |       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      |       CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
      |       CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
      |       last_day(CAST(o_orderdate AS DATE))    AS mend,
      |       CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus3,
      |       date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dd,
      |       CAST(epoch(o_orderdate) AS BIGINT)     AS ep,
      |       strftime(o_orderdate, '%Y-%m-%d %H')   AS fmt,
      |       make_date(2024, CAST(month(o_orderdate) AS INT), 1) AS md
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dy"),
          dayofweek(col("o_orderdate")).cast("long").as("dw"),
          dayofyear(col("o_orderdate")).cast("long").as("doy"),
          weekofyear(col("o_orderdate")).cast("long").as("wk"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
          last_day(col("o_orderdate").cast("date")).as("mend"),
          (col("o_orderdate") + expr("INTERVAL '3' DAY")).cast("date").as("plus3"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("dd"),
          unix_timestamp(col("o_orderdate")).as("ep"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH").as("fmt"),
          make_date(lit(2024), month(col("o_orderdate")), lit(1)).as("md"))
        .orderBy(col("o_orderkey"))
    },

    // ── date_bin (graft parity fn) vs DuckDB time_bucket ─────────────────
    // bucket emitted as epoch-seconds BIGINT (tz-aware vs naive timestamp
    // parquet hazard — see Q.scala conventions); buckets are 15-min
    // aligned so the epoch has no fractional part.
    "func_date_bin" -> Q("""
      |SELECT CAST(epoch(bucket) AS BIGINT) AS bucket,
      |       count(*) AS n, round(sum(value), 2) AS v
      |FROM (SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP),
      |                         TIMESTAMP '2024-01-01') AS bucket, value
      |      FROM events)
      |GROUP BY bucket ORDER BY bucket""") { (s, d) =>
      Engine.table(s, d, "events")
        .select(F.date_bin("15 minutes", col("ts"),
          lit("2024-01-01").cast("timestamp")).as("bucket"), col("value"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .select(unix_timestamp(col("bucket")).as("bucket"), col("n"), col("v"))
        .orderBy(col("bucket"))
    },

    // ── interval arithmetic family (reference: IntervalYearMonth/DayTime
    //    scalars + datetime arithmetic, common/src/scalar/mod.rs:271-286).
    //    Month adds clamp to month-end in BOTH engines; next-Monday is
    //    emulated in DuckDB from date_part('dow'); month deltas use
    //    month-start anchors so months_between is exactly integral;
    //    make_dt_interval is exercised through timestamp arithmetic and
    //    read back as epoch-second deltas ───────────────────────────────────
    "func_interval" -> Q("""
      |SELECT o_orderkey,
      |       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
      |       CAST(o_orderdate - INTERVAL 2 MONTH AS DATE) AS minus2m,
      |       CAST(o_orderdate + (o_orderkey % 30) * INTERVAL 1 DAY AS DATE) AS plusvd,
      |       CAST(o_orderdate - INTERVAL 45 DAY AS DATE) AS minus45d,
      |       CAST(o_orderdate + (((1 - date_part('dow', o_orderdate) + 6) % 7) + 1)
      |            * INTERVAL 1 DAY AS DATE) AS next_mon,
      |       dayname(CAST(o_orderdate AS DATE)) AS dname,
      |       monthname(CAST(o_orderdate AS DATE)) AS mname,
      |       CAST(date_diff('month', DATE '1995-01-01',
      |            date_trunc('month', CAST(o_orderdate AS DATE))) AS BIGINT) AS months_since,
      |       CAST((o_orderkey % 10) * 86400 + 3 * 3600 AS BIGINT) AS dt_secs
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      val dt = col("o_orderdate").cast("date")
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          add_months(dt, 2).as("plus2m"),
          add_months(dt, -2).as("minus2m"),
          date_add(dt, (col("o_orderkey") % 30).cast("int")).as("plusvd"),
          date_sub(dt, 45).as("minus45d"),
          next_day(dt, "Mon").as("next_mon"),
          date_format(dt, "EEEE").as("dname"),
          date_format(dt, "MMMM").as("mname"),
          months_between(date_trunc("month", dt), lit("1995-01-01").cast("date"))
            .cast("long").as("months_since"),
          (unix_timestamp(col("o_orderdate").cast("timestamp") +
              expr("make_dt_interval(o_orderkey % 10, 3, 0, 0)")) -
            unix_timestamp(col("o_orderdate").cast("timestamp"))).as("dt_secs"))
        .orderBy(col("o_orderkey"))
    },

    // ── conditional / null-handling core fns ─────────────────────────────
    "func_conditional" -> Q("""
      |SELECT o_orderkey,
      |       CASE WHEN o_totalprice > 3000 THEN 'big'
      |            WHEN o_totalprice > 1000 THEN 'mid' ELSE 'small' END AS sz,
      |       CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
      |            ELSE 'other' END AS st,
      |       coalesce(nullif(o_orderstatus, 'P'), 'pending') AS coal,
      |       ifnull(nullif(o_orderpriority, o_orderpriority), 'none') AS ifn,
      |       CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL
      |            THEN 'has' ELSE 'null' END AS nv2,
      |       greatest(o_totalprice, 2000.0) AS gr,
      |       least(CAST(o_custkey AS BIGINT), o_orderkey) AS le
      |FROM orders ORDER BY o_orderkey""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 3000, "big")
            .when(col("o_totalprice") > 1000, "mid")
            .otherwise("small").as("sz"),
          when(col("o_orderstatus") === "F", "done")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other").as("st"),
          coalesce(nullif(col("o_orderstatus"), lit("P")), lit("pending"))
            .as("coal"),
          coalesce(nullif(col("o_orderpriority"), col("o_orderpriority")),
            lit("none")).as("ifn"),
          F.nvl2(nullif(col("o_orderstatus"), lit("P")), lit("has"), lit("null"))
            .as("nv2"),
          greatest(col("o_totalprice"), lit(2000.0)).as("gr"),
          least(col("o_custkey"), col("o_orderkey")).as("le"))
        .orderBy(col("o_orderkey"))
    },

    // ── array family over real array data + word arrays ──────────────────
    // (array-valued results are flattened through array_to_string /
    //  array_join: the driver's comparator can't hash list columns)
    "func_array" -> Q("""
      |SELECT doc_id,
      |       CAST(len(words) AS BIGINT)            AS n_words,
      |       words[1]                              AS first_word,
      |       words[len(words)]                     AS last_word,
      |       array_to_string(list_sort(list_distinct(words)), ',') AS vocab,
      |       list_contains(words, 'data')          AS has_data,
      |       CAST(list_position(words, 'query') AS BIGINT) AS q_pos,
      |       coalesce(array_to_string(
      |         list_filter(words, x -> x <> 'the'), ','), '') AS no_the,
      |       array_to_string(
      |         list_sort(list_distinct(list_concat(words, ['data','query']))), ',')
      |         AS uni,
      |       array_to_string(words[1:3], '-')      AS first3,
      |       coalesce(array_to_string(
      |         flatten([words[1:2], words[3:4]]), ','), '') AS flat,
      |       array_to_string(generate_series(1, 5, 2), ',') AS seq
      |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      |ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          element_at(col("words"), 1).as("first_word"),
          element_at(col("words"), size(col("words"))).as("last_word"),
          array_join(array_sort(array_distinct(col("words"))), ",").as("vocab"),
          array_contains(col("words"), "data").as("has_data"),
          array_position(col("words"), "query").cast("long").as("q_pos"),
          array_join(filter(col("words"), x => x =!= "the"), ",").as("no_the"),
          array_join(array_sort(array_distinct(
            concat(col("words"), array(lit("data"), lit("query"))))), ",")
            .as("uni"),
          array_join(slice(col("words"), 1, 3), "-").as("first3"),
          array_join(
            flatten(array(slice(col("words"), 1, 2), slice(col("words"), 3, 2))),
            ",").as("flat"),
          array_join(transform(sequence(lit(1), lit(5), lit(2)),
            x => x.cast("string")), ",").as("seq"))
        .orderBy(col("doc_id"))
    },

    // ── graft array-gap functions (pop/resize/replace/has_all) ───────────
    "func_array_gaps" -> Q("""
      |SELECT doc_id,
      |       coalesce(array_to_string(w[2:len(w)], ','), '')   AS popped_front,
      |       coalesce(array_to_string(w[1:len(w)-1], ','), '') AS popped_back,
      |       array_to_string(
      |         CASE WHEN len(w) >= 4 THEN w[1:4]
      |              ELSE list_concat(w, ['_','_','_','_'][1:4-len(w)])
      |         END, ',')                         AS resized,
      |       coalesce(array_to_string(
      |         list_transform(w, x -> CASE WHEN x = 'data' THEN 'DATA'
      |                                     ELSE x END), ','), '') AS replaced_all,
      |       len(list_filter(['data','query'],
      |           x -> NOT list_contains(w, x))) = 0 AS hasall,
      |       len(w) = 0                      AS is_empty,
      |       array_to_string([len(w)], ',')  AS dims
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          array_join(F.array_pop_front(col("w")), ",").as("popped_front"),
          array_join(F.array_pop_back(col("w")), ",").as("popped_back"),
          array_join(F.array_resize(col("w"), lit(4), lit("_")), ",")
            .as("resized"),
          array_join(F.array_replace_all(col("w"), lit("data"), lit("DATA")),
            ",").as("replaced_all"),
          F.array_has_all(col("w"), array(lit("data"), lit("query")))
            .as("hasall"),
          F.array_empty(col("w")).as("is_empty"),
          array_join(transform(F.array_dims(col("w")), x => x.cast("string")),
            ",").as("dims"))
        .orderBy(col("doc_id"))
    },

    // ── higher-order functions (transform/filter/aggregate/exists) ───────
    // (double-array results flattened via printf %.4f — the elementwise
    //  doubles are identical on both sides, so fixed-width formatting is
    //  deterministic; raw double→string would risk sci-notation skew)
    "func_higher_order" -> Q("""
      |SELECT vec_id,
      |       array_to_string(list_transform(emb4,
      |         x -> printf('%.4f', round(x * 2.0, 4) + 0.0)), ',') AS doubled,
      |       coalesce(array_to_string(
      |         list_transform(list_filter(emb4, x -> x > 0.0),
      |           x -> printf('%.4f', round(x, 4))), ','), '') AS positive,
      |       round(list_sum(list_transform(emb4, x -> x)), 4) AS total,
      |       len(list_filter(emb4, x -> x > 0.0)) > 0     AS any_pos
      |FROM (SELECT vec_id,
      |             list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)) AS emb4
      |      FROM embeddings)
      |ORDER BY vec_id""") { (s, d) =>
      Engine.table(s, d, "embeddings")
        .select(col("vec_id"),
          transform(slice(col("embedding"), 1, 4), x => x.cast("double"))
            .as("emb4"))
        .select(col("vec_id"),
          // + 0.0 canonicalizes IEEE -0.0 to +0.0 on both engines
          array_join(transform(col("emb4"),
            x => format_string("%.4f", round(x * 2.0, 4) + 0.0)), ",")
            .as("doubled"),
          array_join(transform(filter(col("emb4"), x => x > 0.0),
            x => format_string("%.4f", round(x, 4))), ",").as("positive"),
          round(aggregate(col("emb4"), lit(0.0), (acc, x) => acc + x), 4)
            .as("total"),
          exists(col("emb4"), x => x > 0.0).as("any_pos"))
        .orderBy(col("vec_id"))
    },

    // ── math stragglers: hyperbolic family + decode roundtrips ───────────
    // (reference math list functions/src/math/mod.rs includes sinh..atanh;
    //  encoding decode functions/src/encoding. DuckDB has no hyperbolics —
    //  the oracle emulates them with exp/ln; differences are ~1 ulp, far
    //  inside the rounding epsilon)
    "func_math2" -> Q("""
      |SELECT l_orderkey, l_linenumber,
      |  round((exp(l_discount) - exp(-l_discount)) / 2 + 1e-9, 6) AS sh,
      |  round((exp(l_discount) + exp(-l_discount)) / 2 + 1e-9, 6) AS ch,
      |  round((exp(2*l_discount) - 1) / (exp(2*l_discount) + 1) + 1e-9, 6) AS th,
      |  round(ln(l_tax + sqrt(l_tax*l_tax + 1)) + 1e-9, 6) AS ash,
      |  round(ln((1.0+l_quantity)
      |        + sqrt((1.0+l_quantity)*(1.0+l_quantity) - 1)) + 1e-9, 6) AS ach,
      |  round(0.5 * ln((1+l_discount)/(1-l_discount)) + 1e-9, 6) AS ath,
      |  decode(from_base64(base64(encode(l_returnflag)))) AS b64_rt,
      |  decode(unhex(hex(l_linestatus))) AS hex_rt
      |FROM lineitem WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      Engine.table(s, d, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sinh(col("l_discount")) + 1e-9, 6).as("sh"),
          round(cosh(col("l_discount")) + 1e-9, 6).as("ch"),
          round(tanh(col("l_discount")) + 1e-9, 6).as("th"),
          round(asinh(col("l_tax")) + 1e-9, 6).as("ash"),
          round(acosh(col("l_quantity") + 1.0) + 1e-9, 6).as("ach"),
          round(atanh(col("l_discount")) + 1e-9, 6).as("ath"),
          unbase64(base64(col("l_returnflag").cast("binary")))
            .cast("string").as("b64_rt"),
          unhex(hex(col("l_linestatus"))).cast("string").as("hex_rt"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // ── array mutation stragglers from the §2.9 inventory:
    //    array_append/prepend/remove/insert + sort_array desc, plus
    //    named_struct field access and to_date. DuckDB lacks
    //    list_remove/list_insert — emulated with list_filter and slice
    //    concatenation; arrays travel as joined strings (flat-output
    //    comparator) ─────────────────────────────────────────────────────
    "func_array_mut" -> Q("""
      |WITH t AS (SELECT o_orderkey, o_orderdate,
      |                  [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS arr
      |           FROM orders)
      |SELECT o_orderkey,
      |       array_to_string(list_append(arr, 9), ',') AS ap,
      |       array_to_string(list_prepend(0, arr), ',') AS pre,
      |       coalesce(array_to_string(list_filter(arr, x -> x <> 2), ','), '')
      |         AS rem,
      |       array_to_string(arr[1:1] || [99] || arr[2:], ',') AS ins,
      |       array_to_string(list_sort(arr, 'DESC'), ',') AS srt,
      |       o_orderkey % 5 + 100 AS nsf,
      |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
      |FROM t ORDER BY o_orderkey""") { (s, d) =>
      Engine.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          array(col("o_orderkey") % 7, col("o_orderkey") % 5,
            col("o_orderkey") % 3).as("arr"))
        .select(col("o_orderkey"),
          array_join(array_append(col("arr"), lit(9L)), ",").as("ap"),
          array_join(array_prepend(col("arr"), lit(0L)), ",").as("pre"),
          array_join(array_remove(col("arr"), lit(2L)), ",").as("rem"),
          array_join(array_insert(col("arr"), lit(2), lit(99L)), ",").as("ins"),
          array_join(sort_array(col("arr"), asc = false), ",").as("srt"),
          (expr("named_struct('a', o_orderkey % 5, 'b', 100L)").getField("a")
            + expr("named_struct('a', o_orderkey % 5, 'b', 100L)")
              .getField("b")).as("nsf"),
          to_date(col("o_orderdate")).cast("string").as("d"))
        .orderBy(col("o_orderkey"))
    },

    // ── JSON value functions over the events.props JSON column (beyond
    //    the reference: DataFusion v39 treats JSON as a FILE FORMAT only
    //    — functions/src/lib.rs has no json_* scalar; Spark's
    //    get_json_object / from_json / to_json are the library surface a
    //    training pipeline uses for metadata columns) ──────────────────────
    "func_json" -> Q("""
      |SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k1,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
      |       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS kmiss,
      |       CAST(json_object('k',
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) * 2)
      |         AS VARCHAR) AS rebuilt
      |FROM events ORDER BY event_id""") { (s, d) =>
      Engine.table(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k1"),
          expr("from_json(props, 'k BIGINT').k").as("k2"),
          get_json_object(col("props"), "$.missing").cast("long").as("kmiss"),
          to_json(struct(
            (get_json_object(col("props"), "$.k").cast("long") * 2).as("k")))
            .as("rebuilt"))
        .orderBy(col("event_id"))
    },

    // ── URL parsing + string-to-map (web-corpus curation surface; the
    //    reference has neither — Spark's parse_url/url_decode/str_to_map.
    //    URLs are built deterministically from row data; DuckDB has no
    //    URL functions, so the oracle reconstructs each component from
    //    the same fields) ───────────────────────────────────────────────────
    "func_url_map" -> Q("""
      |SELECT doc_id,
      |       'cdn' || (doc_id % 5) || '.example.org' AS host,
      |       '/docs/' || lang || '/' || doc_id AS path,
      |       CAST(doc_id % 7 AS VARCHAR) AS page,
      |       'name ' || doc_id AS dec,
      |       CAST(doc_id % 5 AS VARCHAR) AS mq
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .withColumn("url", concat(lit("https://cdn"), pmod(col("doc_id"), lit(5)),
          lit(".example.org/docs/"), col("lang"), lit("/"), col("doc_id"),
          lit("?page="), pmod(col("doc_id"), lit(7)), lit("&ref=rss")))
        .select(col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'page')").as("page"),
          expr("url_decode(concat('name%20', doc_id))").as("dec"),
          expr("str_to_map(concat('p:', doc_id % 7, ',q:', doc_id % 5))['q']")
            .as("mq"))
        .orderBy(col("doc_id"))
    },

    // ── VARIANT type surface (Spark 4 semi-structured values — beyond
    //    the reference's JSON-as-file-format): parse_json → typed
    //    variant_get extraction, try_ error-safety, to_json rebuild ───────
    "func_variant" -> Q("""
      |SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |       CAST(NULL AS BIGINT) AS kmiss,
      |       CAST(json_object('k',
      |         CAST(json_extract_string(props, '$.k') AS BIGINT))
      |         AS VARCHAR) AS vstr
      |FROM events ORDER BY event_id""") { (s, d) =>
      Engine.table(s, d, "events")
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
          expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
            .as("kmiss"),
          expr("to_json(parse_json(props))").as("vstr"))
        .orderBy(col("event_id"))
    },

    // ── decimal arithmetic (reference: decimal.slt, Decimal128 kernels;
    //    SURVEY §1 maps Decimal128(p,s) → Spark DecimalType(p,s)). Sum /
    //    multiply with scale propagation; every result is explicitly CAST
    //    to a fixed DECIMAL(p,s) — the engines' intermediate precision
    //    rules differ (Spark p1+p2+1 vs DuckDB w1+w2) but agree after the
    //    final cast — then to string, since pandas decimal dtypes are not
    //    comparable across the two readers ─────────────────────────────────
    "func_decimal" -> Q("""
      |SELECT l_returnflag,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
      |       AS DECIMAL(20,2)) AS VARCHAR) AS sum_price,
      |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
      |                     * CAST(1 - l_discount AS DECIMAL(5,3))
      |                     AS DECIMAL(18,4)))
      |       AS DECIMAL(22,4)) AS VARCHAR) AS sum_gross,
      |  CAST(min(CAST(l_quantity AS DECIMAL(10,2))) AS VARCHAR) AS min_qty,
      |  CAST(max(CAST(l_tax AS DECIMAL(6,3))) AS VARCHAR) AS max_tax,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""
        SELECT l_returnflag,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
               AS DECIMAL(20,2)) AS STRING) AS sum_price,
          CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(5,3))
                             AS DECIMAL(18,4)))
               AS DECIMAL(22,4)) AS STRING) AS sum_gross,
          CAST(min(CAST(l_quantity AS DECIMAL(10,2))) AS STRING) AS min_qty,
          CAST(max(CAST(l_tax AS DECIMAL(6,3))) AS STRING) AS max_tax,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },

    // ── arrow_typeof / arrow_cast (type introspection + Arrow-name cast,
    //    reference functions/src/core/{arrow_typeof,arrow_cast}.rs; the
    //    SURVEY §1 type-mapping policy, executable) ─────────────────────
    "func_typeof" -> Q("""
      |SELECT DISTINCT
      |  lower(typeof(l_orderkey)) AS t_key,
      |  lower(typeof(l_quantity)) AS t_qty,
      |  CASE lower(typeof(l_returnflag)) WHEN 'varchar' THEN 'string'
      |       ELSE lower(typeof(l_returnflag)) END AS t_flag,
      |  lower(typeof(CAST(l_linenumber AS BIGINT))) AS t_cast64,
      |  CASE lower(typeof(CAST(l_quantity AS VARCHAR)))
      |       WHEN 'varchar' THEN 'string' END AS t_caststr,
      |  lower(typeof(CAST(l_orderkey AS DECIMAL(20,0)))) AS t_castu64
      |FROM lineitem""") { (s, d) =>
      import graft.functions.GraftFunctions._
      Engine.table(s, d, "lineitem")
        .select(
          arrow_typeof(col("l_orderkey")).as("t_key"),
          arrow_typeof(col("l_quantity")).as("t_qty"),
          arrow_typeof(col("l_returnflag")).as("t_flag"),
          arrow_typeof(arrow_cast(col("l_linenumber"), "Int64")).as("t_cast64"),
          arrow_typeof(arrow_cast(col("l_quantity"), "Utf8")).as("t_caststr"),
          arrow_typeof(arrow_cast(col("l_orderkey"), "UInt64")).as("t_castu64"))
        .distinct()
    },

    // ── struct construction + field access ───────────────────────────────
    // (struct result flattened through to_json — both engines emit
    //  compact {"k":v} JSON in declaration order for scalar fields)
    "func_struct" -> Q("""
      |SELECT doc_id,
      |       to_json(struct_pack(lang := lang, n := n_chars))::VARCHAR AS meta,
      |       struct_pack(lang := lang, n := n_chars).lang AS lang_out
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          to_json(struct(col("lang").as("lang"), col("n_chars").as("n")))
            .as("meta"),
          struct(col("lang").as("lang"), col("n_chars").as("n"))
            .getField("lang").as("lang_out"))
        .orderBy(col("doc_id"))
    },

    // ── bit manipulation family: bit_count / bit_get / shifts / xor /
    //    not+mask (reference: bit_and/or/xor exprs + DuckDB-style bit ops;
    //    all codegen'd comparisons/arithmetic in Spark) ────────────────────
    "func_bits" -> Q("""
      |SELECT o_orderkey,
      |       CAST(bit_count(o_orderkey) AS BIGINT) AS n_bits,
      |       CAST((o_orderkey >> 3) & 1 AS BIGINT) AS bit3,
      |       CAST((o_orderkey & 255) << 3 AS BIGINT) AS shl,
      |       CAST(o_orderkey >> 2 AS BIGINT) AS shr,
      |       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS keys_xor,
      |       CAST((~o_orderkey) & 1023 AS BIGINT) AS inv_mask
      |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""") { (s, d) =>
      Engine.table(s, d, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          bit_count(col("o_orderkey")).cast("long").as("n_bits"),
          expr("bit_get(o_orderkey, 3)").cast("long").as("bit3"),
          shiftleft(col("o_orderkey").bitwiseAND(lit(255L)), 3).as("shl"),
          shiftright(col("o_orderkey"), 2).as("shr"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("keys_xor"),
          expr("~o_orderkey").bitwiseAND(lit(1023L)).as("inv_mask"))
        .orderBy(col("o_orderkey"))
    }
  )
}
