package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate over the WHOLE query corpus.
  *
  * QueriesSpec proves every query builds and executes; the oracle gate
  * proves values. Neither notices a query silently picking up a
  * scale-killer — a cartesian product, an unexpected nested-loop join,
  * or a pile of extra shuffles — because those still produce correct
  * rows at sf0.001. This spec pins the corpus-wide invariants the
  * Explain.audit sweep established (and that SCALE.md's 100 TB design
  * claims rest on):
  *
  *   1. ZERO CartesianProduct anywhere (even join_cross plans as a
  *      BroadcastNestedLoopJoin);
  *   2. BroadcastNestedLoopJoin only where it is the designed operator:
  *      deliberate cross/theta joins, and 1-row scalar-subquery
  *      broadcasts (scale-constant build side, safe at any SF);
  *   3. shuffle-exchange count per plan stays under a fixed cap (the
  *      corpus max is 7, in pipe_dedup_embedding's LSH bucket join —
  *      a regression that doubles a query's shuffles trips this);
  *   4. a compiler-inserted range shuffle (the global-sort exchange,
  *      with its sampling job) only where plans/SmallSort.scala leaves
  *      it on purpose: an input over autoBroadcastJoinThreshold on the
  *      static estimate (AQE may still drop it at runtime).
  *
  * Streaming queries are excluded (their build starts a stream;
  * StreamingSpec owns them). Counting is textual over the explain
  * output because with AQE enabled the pre-execution plan tree is not
  * traversable (see Explain.audit, which uses the same idiom).
  */
class PlanBudgetSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  /** BNLJ-sanctioned queries: join_cross/join_theta ARE cross/theta
    * joins; the rest broadcast a 1-row aggregate (scalar subquery) as
    * the build side — constant-size at any SF. */
  private val bnljAllowed = Set(
    "join_cross", "join_theta",
    "agg_countmin", "pipe_sim_topk", "pipe_text_tfidf",
    "tpch_q11", "tpch_q22",
    // crossJoin of two 1-row global aggregates (union-of-sketches vs
    // direct-sketch estimates) — both sides scale-constant
    "agg_hll_rollup",
    // 1-row events-counts × 1-row lineitem-count join — scale-constant
    "bench_suite_rows",
    // r11: derived partsupp crossJoins the 1-row |supplier| count —
    // the scalar that keys ps_suppkey's portable modulo arithmetic
    "tpch_q16",
    // r11: the LM score crossJoins the 1-row |V| vocabulary-size
    // aggregate (same shape as pipe_text_tfidf's n_docs) —
    // scale-constant build side
    "pipe_text_crossentropy",
    // r13: the CCNet tail composes crossEntropyScore, inheriting the
    // same 1-row |V| crossJoin — identical scale-constant build side
    "pipe_quality_buckets",
    // TPC-DS spec text (not ours to reshape): q23/q61/q90 broadcast a
    // 1-row scalar-subquery threshold; q28/q88 cross-join 6/8 single-row
    // aggregate blocks — every build side is a global aggregate, i.e.
    // scale-constant at any SF
    "tpcds_q23a", "tpcds_q23b", "tpcds_q28", "tpcds_q61", "tpcds_q88",
    "tpcds_q90")

  /** q77's catalog channel joins the page-level sales and returns
    * aggregates WITHOUT a key — the spec's own text. Both inputs are
    * grouped aggregates bounded by |catalog_page|, so the product is
    * bounded too; sanctioned rather than reshaped. */
  private val cartesianAllowed = Set("tpcds_q77")

  // our own corpus max is 7 (pipe_dedup_embedding's LSH bucket join);
  // the TPC-DS spec corpus tops out at q14's 49 (three-channel INTERSECT
  // + rollup) — a separate, looser regression cap applies there
  private val shuffleCap = 10
  private val tpcdsShuffleCap = 60
  private def capFor(name: String): Int =
    if (name.startsWith("tpcds_")) tpcdsShuffleCap else shuffleCap

  /** Queries whose initial plan keeps an ENSURE_REQUIREMENTS range
    * exchange at sf0.001, each with the reason its sort input is
    * estimated above autoBroadcastJoinThreshold (found by walking down
    * from the exchange's child to the first over-threshold node whose
    * children are all under it). */
  private val rangeAllowed: Map[String, String] = {
    // without CBO Spark estimates an inner/outer join at the product of
    // its inputs' sizes: 18.7 KB × 18.7 KB is already 350 MB
    val join = "a join's product estimate exceeds the threshold"
    val rdd = "an RDD-backed input (checkpoint or createDataFrame from an " +
      "RDD) has an unknown or join-product size estimate"
    val loop = "a recursive CTE's loop reference has no size estimate"
    Seq("h2o_j5", "join_inner_residual", "join_left_outer",
      "join_right_outer", "pipe_decontaminate", "pipe_decontaminate_bloom",
      "pipe_dedup_incremental", "pipe_dedup_incremental_minhash",
      "pipe_dedup_incremental_wide", "pipe_dedup_ngram",
      "pipe_dedup_simhash", "pipe_dedup_simhash_wide",
      "pipe_quality_buckets", "pipe_sim_ivf", "pipe_sim_ivfpq",
      "pipe_sim_pq", "pipe_sim_topk", "range_join", "range_join_overlap",
      "tpcds_q02", "tpcds_q24a", "tpcds_q24b", "tpcds_q31", "tpcds_q34",
      "tpcds_q39a", "tpcds_q39b", "tpcds_q64", "tpcds_q71", "tpcds_q73",
      "tpcds_q91", "tpcds_q98", "tpch_q11", "tpch_q12", "tpch_q16",
      "tpch_q21", "tpch_q4", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9",
      "upsert_merge").map(_ -> join).toMap ++
    Seq("copyto_arrow", "copyto_avro", "copyto_avro_logical",
      "federated_formats", "pipe_curate_incremental", "pipe_dedup_minhash",
      "pipe_pack_stream", "pipe_quality_distill",
      "pipe_quality_distill_refined", "pipe_sim_lsh",
      "recursive_reachability").map(_ -> rdd).toMap ++
    Seq("recursive_reachability_sql", "recursive_series_sql")
      .map(_ -> loop).toMap +
    ("tpch_q13" -> ("two aggregates over the customer-orders outer " +
      "join widen its estimate to 13 MB"))
  }

  private def batchQueries: Map[String, Q] =
    SparkEntry.all -- graft.queries.StreamingQueries.defs.keySet

  private def count(text: String, needle: String): Int =
    text.sliding(needle.length).count(_ == needle)

  private lazy val planCounts: Map[String, (Int, Int, Int, Int)] =
    batchQueries.map { case (name, q) =>
      val text = q.build(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val shuffles = count(text, "Exchange") -
        count(text, "BroadcastExchange") - count(text, "ReusedExchange")
      val ranges = text.linesIterator.count(l =>
        l.contains("Exchange rangepartitioning") &&
          l.contains("ENSURE_REQUIREMENTS"))
      name -> (count(text, "CartesianProduct"),
        count(text, "BroadcastNestedLoopJoin"), shuffles, ranges)
    }

  test("no query plans a CartesianProduct") {
    val bad = planCounts.collect {
      case (n, (c, _, _, _)) if c > 0 && !cartesianAllowed(n) => n }
    assert(bad.isEmpty, s"cartesian products appeared in: $bad")
  }

  test("BroadcastNestedLoopJoin only in sanctioned queries") {
    val bad = planCounts.collect {
      case (n, (_, b, _, _)) if b > 0 && !bnljAllowed(n) => n
    }
    assert(bad.isEmpty,
      s"unsanctioned nested-loop joins in: $bad — a non-equi join " +
        "condition or a lost equi-key; fix the plan or, if the build " +
        "side is provably scale-constant, add to bnljAllowed with a note")
  }

  test(s"every plan stays under its shuffle-exchange cap " +
      s"($shuffleCap corpus / $tpcdsShuffleCap tpcds)") {
    val bad = planCounts.collect {
      case (n, (_, _, s, _)) if s > capFor(n) => s"$n=$s"
    }
    assert(bad.isEmpty, s"shuffle budget exceeded: $bad")
  }

  test("range shuffles only where the sort input is estimated large") {
    val ranged = planCounts.collect { case (n, (_, _, _, r)) if r > 0 => n }
      .toSet
    val extra = ranged -- rangeAllowed.keySet
    val gone = rangeAllowed.keySet -- ranged
    assert(extra.isEmpty && gone.isEmpty,
      s"unexpected range shuffles in: ${extra.toSeq.sorted} — a small " +
        s"global sort lost its one-task path; allowlisted but no longer " +
        s"ranged: ${gone.toSeq.sorted} — drop them from rangeAllowed")
  }
}
