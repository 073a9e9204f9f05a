package graft.tpcds

import graft.Q
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TPC-DS EXECUTION gate: all 99 spec queries (103 statements — q14/23/24/39
  * are two-statement) run end-to-end on the deterministic [[TpcdsData]]
  * tables and are value-compared against DuckDB running the SAME statement
  * text over the SAME parquet files.
  *
  * The reference stops at planning parity (`core/tests/tpcds_planning.rs`,
  * mirrored by TpcdsPlanningSpec); this adds value semantics — decorrelated
  * subqueries, rollup/grouping, wide join trees, window mixes — at a density
  * the hand corpus can't reach (r6 verdict, next-round #1).
  *
  * Cross-engine mechanics (the part dsdgen can't help with):
  *  - Both engines get byte-identical statement text (per-entry PATCHES are
  *    applied before either side sees it), so any dialect adaptation is
  *    shared and semantics stay aligned.
  *  - Result schemas are normalized mechanically: Spark's analyzed output
  *    schema (computed against an empty catalog — no data needed) drives
  *    (a) positional renames of the Spark result to stable sanitized names
  *    and (b) a DuckDB wrapper projection casting each column to Spark's
  *    exact result type with the same alias. That one mechanism absorbs
  *    every coercion divergence at once: DuckDB sum(INT)→HUGEINT vs Spark
  *    BIGINT, avg(DECIMAL)→DOUBLE vs Spark DECIMAL(p+4,s+4), DECIMAL/INT
  *    division→DOUBLE vs Spark DECIMAL, auto-generated column-name drift.
  */
object TpcdsQueries {

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/tpcds/$name")
    require(in != null, s"missing resource /tpcds/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Per-entry text patches applied to BOTH engines (tie-breaking ORDER BY
    * extensions and similar determinism adaptations, each documented at the
    * patch site). Empty until the empirical pass demands one. */
  private val patches: Map[String, Seq[(String, String)]] = {
    // DECIMAL-division ratio outputs: Spark divides in DECIMAL (scale per
    // its promotion rules), DuckDB in DOUBLE — tails differ at the 15th
    // significant digit. Casting the NUMERATOR to double makes both
    // engines do the same IEEE double division of exactly-converted
    // operands, so results are bit-identical. Applied to both engines.
    def ratio(agg: String) = Seq(
      s"sum(${agg}_ext_sales_price)*100.0000/" ->
        s"cast(sum(${agg}_ext_sales_price) as double)*100.0000/")
    val q39Rounding = Seq(
      "inv1.cov cov1" -> "round(inv1.cov, 6) cov1",
      "       inv2.cov\nFROM" -> "       round(inv2.cov, 6) cov\nFROM",
      "inv1.cov NULLS FIRST" -> "round(inv1.cov, 6) NULLS FIRST",
      "inv2.cov NULLS FIRST" -> "round(inv2.cov, 6) NULLS FIRST")
    val weekdays = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    val months = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul",
      "aug", "sep", "oct", "nov", "dec")
    Map(
      "tpcds_q12" -> ratio("ws"),
      "tpcds_q20" -> ratio("cs"),
      "tpcds_q98" -> ratio("ss"),
      "tpcds_q59" -> weekdays.map(d =>
        s"${d}_sales1/${d}_sales2" -> s"cast(${d}_sales1 as double)/${d}_sales2"),
      "tpcds_q61" -> Seq(
        "cast(promotions AS decimal(15,4))/cast(total AS decimal(15,4))*100" ->
          "cast(promotions AS double)/cast(total AS decimal(15,4))*100"),
      // outer sum here folds exactly 2 doubles (one per channel row), so
      // double summation order cannot perturb the result
      "tpcds_q66" -> months.map(m =>
        s"sum(${m}_sales/w_warehouse_sq_ft)" ->
          s"sum(cast(${m}_sales as double)/w_warehouse_sq_ft)"),
      // q72 SCALE FIX — semantics-preserving inner-join reassociation.
      // The spec text joins catalog_sales to inventory on ITEM ALONE and
      // only equates the two week_seqs in the WHERE, after each side has
      // separately joined date_dim: without table statistics Spark plans
      // the FROM order literally, so the cs×inv step fans out by
      // |weeks|×|warehouses| (~1,566 rows per sale line; quadratic in SF)
      // before the week filter can bite — the one scale-killer shape in
      // the corpus (5.7s at the gate SF, ~quadratic beyond). Rewritten:
      // d1 joins first, inventory arrives week-annotated, and the join
      // carries the composite (item, week) key. Pure associativity over
      // inner joins (d2's columns are referenced nowhere else), applied
      // to BOTH engines, and the result stays oracle-verified; the
      // original text still must PLAN via TpcdsPlanningSpec.
      "tpcds_q72" -> Seq(
        "JOIN inventory ON (cs_item_sk = inv_item_sk)\nJOIN warehouse" ->
          ("JOIN date_dim d1 ON (d1.d_date_sk = cs_sold_date_sk)\n" +
           "JOIN (SELECT inv_item_sk, inv_warehouse_sk, inv_quantity_on_hand, " +
           "d_week_seq AS inv_week_seq FROM inventory " +
           "JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)) inv " +
           "ON (cs_item_sk = inv_item_sk AND d1.d_week_seq = inv_week_seq)\n" +
           "JOIN warehouse"),
        "JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)\n" +
          "JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)\n" +
          "JOIN date_dim d3" -> "JOIN date_dim d3",
        "WHERE d1.d_week_seq = d2.d_week_seq\n  AND inv_quantity_on_hand" ->
          "WHERE inv_quantity_on_hand"),
      // stddev_samp double tails depend on aggregation merge order —
      // round the emitted stdev/cov stats on both sides (as q39 below)
      "tpcds_q17" -> Seq("ss", "sr_return", "cs").flatMap { c =>
        val col = if (c == "sr_return") "sr_return_quantity" else s"${c}_quantity"
        val alias = Map("ss" -> "store_sales", "sr_return" -> "store_returns",
          "cs" -> "catalog_sales")(c)
        Seq(
          s"stddev_samp($col) AS ${alias}_quantitystdev" ->
            s"round(stddev_samp($col), 6) AS ${alias}_quantitystdev",
          s"stddev_samp($col)/avg($col) AS ${alias}_quantitycov" ->
            s"round(stddev_samp($col)/avg($col), 6) AS ${alias}_quantitycov")
      },
      // DECIMAL/DECIMAL quotients → double; these ratios also feed RANK()
      // so the ordering itself must be engine-identical (one replacement
      // covers all six channel blocks)
      "tpcds_q49" -> Seq(
        "AS decimal(15,4))/ cast(" -> "AS double)/ cast("),
      // denominator too: Spark's DECIMAL (x+y+z)/3 rounds at decimal
      // scale where DuckDB divides in double — push the whole expression
      // to double on both engines (addition order is fixed by the text)
      "tpcds_q58" -> Seq(
        "ss_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3)" ->
          "cast(ss_item_rev as double)/((cast(ss_item_rev as double)+cs_item_rev+ws_item_rev)/3)",
        "cs_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3)" ->
          "cast(cs_item_rev as double)/((cast(ss_item_rev as double)+cs_item_rev+ws_item_rev)/3)",
        "ws_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3)" ->
          "cast(ws_item_rev as double)/((cast(ss_item_rev as double)+cs_item_rev+ws_item_rev)/3)",
        "(ss_item_rev+cs_item_rev+ws_item_rev)/3 average" ->
          "(cast(ss_item_rev as double)+cs_item_rev+ws_item_rev)/3 average"),
      // DECIMAL/DECIMAL quotient → double (same class as q12/q20/q31)
      "tpcds_q90" -> Seq(
        "cast(amc AS decimal(15,4))/cast(pmc AS decimal(15,4))" ->
          "cast(amc AS double)/cast(pmc AS decimal(15,4))"),
      // stddev_samp merge order differs across engines (parallel partial
      // aggregation vs single pass) — cov tails diverge at ~1e-15; round
      // the OUTPUT to 6 dp on both sides (the cov>1 FILTER keeps its full
      // precision: a membership flip needs a group within 1e-13 of 1.0)
      // same DECIMAL-vs-DOUBLE division: compute the output ratios in
      // double on both engines (the WHERE-clause comparisons keep their
      // original forms — both engines evaluate those the same way on the
      // same operands, only the emitted quotient needs normalizing)
      "tpcds_q31" -> Seq(
        "(ws2.web_sales*1.0000)/ws1.web_sales web_q1_q2_increase" ->
          "cast(ws2.web_sales as double)/ws1.web_sales web_q1_q2_increase",
        "(ss2.store_sales*1.0000)/ss1.store_sales store_q1_q2_increase" ->
          "cast(ss2.store_sales as double)/ss1.store_sales store_q1_q2_increase",
        "(ws3.web_sales*1.0000)/ws2.web_sales web_q2_q3_increase" ->
          "cast(ws3.web_sales as double)/ws2.web_sales web_q2_q3_increase",
        "(ss3.store_sales*1.0000)/ss2.store_sales store_q2_q3_increase" ->
          "cast(ss3.store_sales as double)/ss2.store_sales store_q2_q3_increase",
        // the WHERE compares two quotients — keep membership engine-
        // independent by computing those in double too
        "THEN (ws2.web_sales*1.0000)/ws1.web_sales" ->
          "THEN cast(ws2.web_sales as double)/ws1.web_sales",
        "THEN (ss2.store_sales*1.0000)/ss1.store_sales" ->
          "THEN cast(ss2.store_sales as double)/ss1.store_sales",
        "THEN (ws3.web_sales*1.0000)/ws2.web_sales" ->
          "THEN cast(ws3.web_sales as double)/ws2.web_sales",
        "THEN (ss3.store_sales*1.0000)/ss2.store_sales" ->
          "THEN cast(ss3.store_sales as double)/ss2.store_sales"),
      // avg(DECIMAL) boundary class (found by the ×100 rehearsal, one
      // cell each in q26/q27/q83): Spark computes avg exactly in
      // DECIMAL(p+4,s+4) (HALF_UP), DuckDB in double (wrapper rounds it
      // to Spark's scale) — when the exact average sits within a double
      // ulp of the scale boundary the two round opposite ways. Rewrite
      // the emitted columns as exact-sum-cast-to-double ÷ count: both
      // engines then perform the SAME IEEE division of exactly-converted
      // operands (sums are order-independent and « 2^53), bit-identical
      // at any scale.
      "tpcds_q26" -> Seq("quantity", "list_price", "coupon_amt",
        "sales_price").zipWithIndex.map { case (c, i) =>
        s"avg(cs_$c) agg${i + 1}" ->
          s"cast(sum(cs_$c) as double)/count(cs_$c) agg${i + 1}" },
      "tpcds_q27" -> (1 to 4).map(i =>
        s"avg(agg$i) agg$i" ->
          s"cast(sum(agg$i) as double)/count(agg$i) agg$i"),
      "tpcds_q83" -> (Seq("sr", "cr", "wr").map(c =>
        s"(${c}_item_qty*1.0000)/" -> s"cast(${c}_item_qty as double)/") ++ Seq(
        "(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 average" ->
          "cast(sr_item_qty+cr_item_qty+wr_item_qty as double)/3.0 average")),
      "tpcds_q39a" -> q39Rounding,
      // statement b adds `inv1.cov > 1.5` (volatile-only filter) — the
      // emitted cov columns need the same 6dp rounding; the new filter
      // itself keeps full precision (membership flip needs a group
      // within ~1e-13 of 1.5, same accepted risk as statement a's >1)
      "tpcds_q39b" -> q39Rounding)
  }

  /** entry name -> patched statement text, in q01..q99 order. Exposed so
    * TpcdsPlanningSpec can analyze the PRE-totalize text and assert the
    * totalizer actually fired on every top-level-sorted statement. */
  private[graft] lazy val texts: Seq[(String, String)] = (1 to 99).flatMap { n =>
    val stmts = resource(f"q$n%02d.sql")
      .split(";").map(_.trim).filter(_.nonEmpty)
    val named: Seq[(String, String)] =
      if (stmts.length == 1) Seq(f"tpcds_q$n%02d" -> stmts.head)
      else stmts.toSeq.zipWithIndex.map { case (t, i) =>
        (f"tpcds_q$n%02d" + ('a' + i).toChar) -> t
      }
    named.map { case (name, t) =>
      name -> patches.getOrElse(name, Nil)
        .foldLeft(t) { case (acc, (from, to)) =>
          val next = acc.replace(from, to)
          // a patch that stops matching after a resource edit would
          // silently revert to unpatched semantics — fail loudly instead
          require(next != acc, s"$name: shared-text patch no longer " +
            s"matches its statement: ${from.takeWhile(_ != '\n')}")
          next
        }
    }
  }

  // ── schema analysis against an empty catalog (no data required) ──────
  private val childSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** Child session with the TPC-DS catalog over the generated parquet
    * (shares the SparkContext; its OWN temp-view namespace, so
    * `customer`/`item` don't clobber the testdata views other corpus
    * queries register). */
  private def child(parent: SparkSession): SparkSession = {
    childSessions.keys.filter(_.sparkContext.isStopped)
      .foreach(childSessions.remove)
    childSessions.getOrElseUpdate(parent, {
      val s = parent.newSession()
      // the corpus is ANSI SQL: "quoted" identifiers, not string literals
      s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      val dir = TpcdsData.ensure(s)
      TpcdsData.tables.foreach(t =>
        s.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
      s
    })
  }

  /** Analyzed output schema per entry — drives name + type normalization
    * on both engines. Uses whatever session exists (Verify/Bench/tests all
    * have one before SparkEntry is touched). */
  private lazy val schemas: Map[String, StructType] = {
    val base = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(graft.Engine.session())
    // a dedicated empty-catalog session, NOT the data session: schema
    // analysis must work before any data is generated
    val s = base.newSession()
    s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    resource("schema.txt").linesIterator.filter(_.nonEmpty).foreach { l =>
      val Array(table, ddl) = l.split("\t", 2)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL(ddl)).createOrReplaceTempView(table)
    }
    texts.map { case (name, t) => name -> s.sql(t).schema }.toMap
  }

  /** Stable output names: keep plain identifiers (deduped), replace
    * engine-generated expression names (`sum(ss_quantity)`,
    * `CASE WHEN …`) with positional c<i>. */
  private def outNames(name: String): Seq[String] = {
    val ident = "^[A-Za-z_][A-Za-z0-9_]*$".r
    val seen = scala.collection.mutable.Set.empty[String]
    schemas(name).fields.toSeq.zipWithIndex.map { case (f, i) =>
      val base = f.name match {
        case ident() => f.name.toLowerCase
        case _       => s"c$i"
      }
      val unique = if (seen.add(base)) base else { seen.add(s"${base}_$i"); s"${base}_$i" }
      unique
    }
  }

  private def duckType(dt: DataType): String = dt match {
    case ByteType            => "TINYINT"
    case ShortType           => "SMALLINT"
    case IntegerType         => "INTEGER"
    case LongType            => "BIGINT"
    case FloatType           => "REAL"
    case DoubleType          => "DOUBLE"
    case d: DecimalType      => s"DECIMAL(${d.precision},${d.scale})"
    case BooleanType         => "BOOLEAN"
    case StringType          => "VARCHAR"
    case DateType            => "DATE"
    case TimestampType       => "TIMESTAMP"
    case other => throw new IllegalArgumentException(s"tpcds output $other")
  }

  /** Spark side of the decimal→double canonicalization (see [[duckType]]).
    * Exactness guard: while a DECIMAL(p,s)'s unscaled value fits 2^53 the
    * decimal→double conversion is a single correctly-rounded division of
    * exactly-held integers (unscaled / 10^s), so BOTH engines produce the
    * bit-identical double — that cross-engine identity (not exactness of
    * the double itself) is what the gate relies on. p ≤ 15 guarantees it
    * statically (10^15 < 2^53); wider columns get a per-cell runtime check
    * that raises rather than silently diverging at larger SFs. The bound
    * is an exact decimal literal (2^53 × 10^-s at the column's scale), so
    * the comparison itself carries no float slop. */
  private def canonical(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case d: DecimalType if d.precision <= 15 =>
          col(f.name).cast(DoubleType).as(f.name)
        case d: DecimalType =>
          val bound = java.math.BigDecimal.valueOf(1L << 53, d.scale)
          when(abs(col(f.name)) >= lit(bound), raise_error(concat(
            lit(s"tpcds decimal output '${f.name}' exceeds 2^53 unscaled "
              + s"(double no longer exact at scale ${d.scale}): "),
            col(f.name).cast(StringType))))
            .otherwise(col(f.name).cast(DoubleType)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** DuckDB oracle: bind the 24 tables as CTEs over the generated parquet
    * (merging with the statement's own WITH clause when present), then wrap
    * in a projection that casts every column to Spark's result type under
    * the shared sanitized alias. */
  private def oracleFor(name: String, text: String): String = {
    val tableCtes = TpcdsData.tables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('${TpcdsData.dir}/$t.parquet/*.parquet'))")
      .mkString(", ")
    val merged =
      if (text.take(4).equalsIgnoreCase("with"))
        s"WITH $tableCtes, ${text.drop(4)}"
      else s"WITH $tableCtes $text"
    val fields = schemas(name).fields.toSeq
    val inner = fields.indices.map(i => s"g$i").mkString(", ")
    val proj = fields.zip(outNames(name)).zipWithIndex.map {
      // DECIMAL outputs: align to Spark's exact result scale first (that
      // rounding is load-bearing — e.g. DuckDB computes avg(DECIMAL) in
      // double, Spark in DECIMAL(p+4,s+4)), THEN cast to DOUBLE. Both
      // engines emit DOUBLE because the driver's comparator hashes the
      // Spark parquet's scale-faithful decimal rendering (`9338.50`)
      // against DuckDB's float-normalized one (`9338.5`) — any
      // trailing-zero decimal cell flips the hash even though values are
      // identical (r7 verdict: 56/99 failed on exactly this, 0
      // exceptions). decimal→double is the correctly-rounded conversion
      // on both engines while the unscaled value fits 2^53, enforced
      // Spark-side in [[canonical]].
      case ((f, out), i) if f.dataType.isInstanceOf[DecimalType] =>
        s"""CAST(CAST(g$i AS ${duckType(f.dataType)}) AS DOUBLE) AS "$out""""
      case ((f, out), i) =>
        s"""CAST(g$i AS ${duckType(f.dataType)}) AS "$out""""
    }.mkString(", ")
    s"SELECT $proj FROM ($merged) __graft($inner)"
  }

  /** Mechanical ORDER BY totalizer (r7 verdict #3): several spec texts
    * order by a non-total key (q73's cnt ties observed order-divergent
    * across engines; any LIMIT cutting inside a tie group would even
    * change the row SET). Where a statement ends in a top-level ORDER BY
    * (optionally + LIMIT), append every output ordinal as an explicit
    * `i NULLS FIRST` tie-break — both engines support ordinal sort keys,
    * and pinning the null order matters because Spark defaults ASC to
    * NULLS FIRST while DuckDB defaults to NULLS LAST. Duplicate full
    * rows remain interchangeable, so the emitted multiset is exact.
    * Applied to BOTH engines; the unmodified text still must plan
    * (TpcdsPlanningSpec reads the raw resources). */
  private def totalize(name: String, text: String): String = {
    val t = text.trim
    val upper = t.toUpperCase
    val obIdx = upper.lastIndexOf("ORDER BY")
    def topLevel(from: Int): Boolean = {
      val seg = t.substring(from)
      seg.count(_ == '(') == seg.count(_ == ')')
    }
    if (obIdx < 0 || !topLevel(obIdx)) t
    else {
      val tie = (1 to schemas(name).fields.length)
        .map(i => s"$i NULLS FIRST").mkString(", ")
      val limitIdx = upper.lastIndexOf("LIMIT ")
      if (limitIdx > obIdx &&
          t.substring(limitIdx).matches("(?is)LIMIT\\s+\\d+\\s*"))
        t.substring(0, limitIdx).stripTrailing() + s",\n         $tie\n" +
          t.substring(limitIdx)
      else if (limitIdx < obIdx) s"$t,\n         $tie"
      else t
    }
  }

  /** (name, executed text) — patched + totalized, exactly what [[defs]]
    * feeds both engines. Exposed so TpcdsPlanningSpec can assert every
    * EXECUTED text (not just the raw spec text) parses, analyzes to the
    * same schema the oracle wrapper was derived from, and plans. */
  private[graft] lazy val executedTexts: Seq[(String, String)] =
    texts.map { case (name, text) => name -> totalize(name, text) }

  /** Analyzed output schema of `sql` against the sf=0 schema catalog —
    * test hook for the totalizer regression net. */
  private[graft] def analyzedSchema(name: String): StructType = schemas(name)

  /** Shared-CTE materialization (r8 verdict #3, generalized r9). Spark
    * re-plans a WITH definition's whole subtree at EVERY reference — no
    * exchange or subquery reuse fires across references (A/B'd: 0
    * ReusedExchange in q14's plan) — so a CTE that scans the fact
    * tables and is referenced k times costs k fact scans. At 100 TB the
    * reference count is the scale story, not a constant factor (q4's
    * `year_total` feeds six self-join arms = 18 channel scans inline vs
    * 3 materialized). Fix, for the entries in [[cteMaterialized]]:
    * evaluate each multi-referenced top-level CTE ONCE, localCheckpoint
    * the (dimension-bounded: grouped-by-customer/item, or 1-row) result,
    * register it as a temp view, and run the remainder against it. The
    * statement TEXT both engines see is unchanged — this is a Spark-side
    * execution strategy, semantics-preserving by CTE definition.
    *
    * localCheckpoint vs cache(): A/B'd on q14 at ×1 and ×10 — checkpoint
    * won every cell (×1 q14a 2.15→1.24s plain→ckpt but 1.73s cache; ×10
    * 3.79→3.34 vs 3.71); cache's lazy columnar build re-scans on first
    * use of each reference arm. Adoption is allowlist-gated: each entry
    * was A/B'd plain-vs-materialized and only statements with a
    * reproducible win are listed (numbers: SCALE.md "Round 8 plan/scale
    * deltas", q14 shared-CTE materialization; ROUND_NOTES_r9). */
  private[graft] def materialize(s: SparkSession, exec: String): DataFrame =
    parseWith(exec) match {
      case None => s.sql(exec)
      case Some((defs0, rest)) =>
        val registered = scala.collection.mutable.Buffer.empty[String]
        val pending = scala.collection.mutable.Buffer.empty[(String, String)]
        def withPrefix(body: String): String =
          if (pending.isEmpty) body
          else "WITH " + pending.map { case (n, b) => s"$n AS ($b)" }
            .mkString(",\n") + "\n" + body
        try {
          defs0.zipWithIndex.foreach { case ((name, body), i) =>
            // crude-but-safe reference count: word occurrences in later
            // defs + main body (over-counts column aliases sharing the
            // name; the per-statement A/B vets the net effect)
            val scope = defs0.drop(i + 1).map(_._2).mkString(" ") + " " + rest
            val refs = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
              .findAllIn(scope).length
            if (refs >= 2) {
              val df = s.sql(withPrefix(body)).localCheckpoint(true)
              df.createOrReplaceTempView(name)
              registered += name
            } else pending += (name -> body)
          }
          s.sql(withPrefix(rest))
        } finally
          // the returned DataFrame captured its analyzed plan at sql()
          // time, so the views can be dropped immediately (keeps the
          // child session's namespace clean)
          registered.foreach(s.catalog.dropTempView)
    }

  /** Parse `WITH a AS (...), b AS (...) <main>` into (defs, main). The
    * corpus has no parens inside string literals and no CTE/table name
    * collisions (both scanned r9), so paren-depth splitting is exact.
    * Returns None for statements without a top-level WITH. */
  private[graft] def parseWith(text: String)
      : Option[(Seq[(String, String)], String)] = {
    val t = text.trim
    if (!t.take(4).equalsIgnoreCase("with")) return None
    var i = 4
    val defs = Seq.newBuilder[(String, String)]
    def skipWs(): Unit = while (i < t.length && t(i).isWhitespace) i += 1
    var done = false
    while (!done) {
      skipWs()
      val start = i
      while (i < t.length && (t(i).isLetterOrDigit || t(i) == '_')) i += 1
      val name = t.substring(start, i)
      skipWs()
      require(t.regionMatches(true, i, "AS", 0, 2), s"parseWith: no AS after $name")
      i += 2
      skipWs()
      require(i < t.length && t(i) == '(', s"parseWith: no ( after $name AS")
      val bodyStart = i
      var depth = 0
      while ({
        if (t(i) == '(') depth += 1 else if (t(i) == ')') depth -= 1
        i += 1
        depth > 0
      }) ()
      defs += name -> t.substring(bodyStart + 1, i - 1)
      skipWs()
      if (i < t.length && t(i) == ',') i += 1 else done = true
    }
    Some((defs.result(), t.substring(i)))
  }

  /** Entries that run through [[materialize]] — every one A/B'd with a
    * reproducible plain→materialized win at BOTH ×1 and ×10 (numbers in
    * ROUND_NOTES r9): q14a/b (cross_items+avg_sales, the r8 verdict
    * lead), q27/q36 (`results` grouped-aggregate referenced 3× for
    * rollup emulation), q47 (`v1` dim-bounded window CTE, 3 self-join
    * arms). NEGATIVE results, pinned so nobody re-tries them blind:
    * q04 1.10 / q11 1.38 / q23a 1.24 / q23b 1.08 / q30 1.27 / q59 1.13
    * / q95 1.88 / q97 1.74 — their CTEs are customer- or order-sized
    * (fact-scaled), so the eager checkpoint write dominates, and inline
    * references benefit from per-arm predicate pushdown into the CTE
    * subtree that materialization forfeits. q74 0.81→0.98 and q57
    * 0.95→1.07 and q75 0.95→1.26 regressed at ×10 — rejected; q02 1.04
    * / q31 1.00 / q64 1.01 flat — left inline. */
  private val cteMaterialized: Set[String] =
    Set("tpcds_q14a", "tpcds_q14b", "tpcds_q27", "tpcds_q36", "tpcds_q47")

  val defs: Map[String, Q] = texts.map { case (name, text) =>
    name -> Q(
      build = (parent: SparkSession, _: String) => {
        val exec = totalize(name, text)
        val s = child(parent)
        val df =
          if (cteMaterialized(name)) materialize(s, exec)
          else s.sql(exec)
        canonical(df.toDF(outNames(name): _*))
      },
      oracle = Some(oracleFor(name, totalize(name, text))))
  }.toMap
}
