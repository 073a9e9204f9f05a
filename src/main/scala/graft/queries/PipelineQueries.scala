package graft.queries

import graft.{Engine, Q}
import graft.pipeline.{Chunking, Classifier, Clustering, Decontamination,
  Dedup, Materialize, Multimodal, Packing, Quality, Similarity,
  TextAnalysis}
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the documents/embeddings tables:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search
  * (brute-force cosine top-k, LSH near-pairs), text analysis (tokens,
  * quality, language-ID, fingerprints), multimodal decode plumbing.
  * Approximate/sketch operators are rows-only here and recall-tested
  * against exact ground truth in PipelineSpec.
  */
object PipelineQueries {

  /** DuckDB cosine identical to the CosineSim kernel: 0-initialized
    * left-to-right folds for dot and both norms, dot/(sqrt·sqrt) — the
    * operands convert exactly (float32→double) and every operation is
    * IEEE-determined, so the doubles match Spark's bit-for-bit. */
  private[queries] def cosSqlDuck(a: String, b: String): String =
    s"(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(generate_series(1, 64), j -> $a[j] * $b[j])), (x, y) -> x + y)" +
      s" / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($a, x -> x * x)), (x, y) -> x + y))" +
      s" * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($b, x -> x * x)), (x, y) -> x + y))))"

  /** The LSH hyperplane matrices as a VALUES literal — planeMatrix is a
    * pure function of (rot, planes, dim), so the oracle ships the SAME
    * constants Spark's codegen kernel uses and replays signature
    * extraction exactly (dot > 0 per plane, MSB-first packing). */
  private[queries] def lshPlanesSqlDuck(
      rotations: Int, planes: Int, dim: Int): String =
    (0 until rotations).map { rot =>
      val m = graft.pipeline.Similarity.planeMatrix(rot, planes, dim)
      val rows = m.map(r => "[" + r.mkString(",") + "]")
        .mkString("[", ",", "]")
      s"($rot, CAST($rows AS DOUBLE[][]))"
    }.mkString("(VALUES ", ", ", ") planes(rot, m)")

  /** Generated oracle for the deterministic logistic refinement
    * (pipe_text_classifier_sgd): the NB-init CTE chain (same algebra as
    * pipe_text_classifier's inline oracle) quantized to the 2^20
    * fixed-point grid, then `iters` unrolled full-batch GD iterations —
    * every cross-engine accumulation is an INTEGER sum (scores, error
    * terms, gradients), so DuckDB replays TRAINING bit-for-bit; the one
    * fp op per row (sigmoid of an exactly-reconstructed dyadic double)
    * and the weight-update double arithmetic mirror the Scala
    * expressions operation-for-operation (Classifier.trainLogisticFixed
    * scaladoc). The final score (bq + Σwq)/2^20 is order-independent
    * (integer sum), and at a 4-dp half boundary — which dyadic values
    * CAN hit (k = 2^15 gives 0.03125 → 312.5 exactly; r12 review
    * corrected the earlier never-happens claim) — both engines round
    * ties away from zero on the identical exact double, so no epsilon
    * is needed. */
  private[queries] def classifierSgdSqlDuck(iters: Int, lr: String): String = {
    val pre = """WITH ws AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
      |                     t -> t <> '') AS ws,
      |         CASE WHEN len(list_filter(
      |                string_split_regex(coalesce(text, ''), '\s+'),
      |                t -> t = 'spark')) >= 2
      |              THEN 1 ELSE 0 END AS label
      |  FROM documents),
      |wh AS MATERIALIZED (
      |  SELECT doc_id, label,
      |         list_transform(ws, t ->
      |           list_reduce(list_transform(string_split_regex(t, ''),
      |                         c -> CAST(unicode(c) AS BIGINT)),
      |                       (acc, cp) -> (acc * 131 + cp) % 1000000007)) AS wh
      |  FROM ws),
      |feats AS MATERIALIZED (
      |  SELECT doc_id, label,
      |         list_concat(
      |           list_transform(wh, h -> h % 1024),
      |           list_transform(generate_series(1, CAST(len(wh) AS INT) - 1),
      |             i -> ((wh[i] * 131 + wh[i + 1]) % 1000000007) % 1024)) AS fb
      |  FROM wh),
      |traindocs AS MATERIALIZED (SELECT doc_id, label AS y FROM ws WHERE doc_id % 2 = 0),
      |trainfeat AS MATERIALIZED (SELECT doc_id, unnest(fb) AS b FROM feats WHERE doc_id % 2 = 0),
      |cnt AS MATERIALIZED (
      |  SELECT b, sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n0
      |  FROM (SELECT unnest(fb) AS b, label FROM feats WHERE doc_id % 2 = 0)
      |  GROUP BY b),
      |tot AS MATERIALIZED (SELECT sum(n1) AS t1, sum(n0) AS t0 FROM cnt),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM traindocs),
      |w0 AS MATERIALIZED (
      |  SELECT b, CAST(round((ln((n1 + 1.0) / (t1 + 1024.0))
      |           - ln((n0 + 1.0) / (t0 + 1024.0))) * 1048576) AS BIGINT) AS wq
      |  FROM cnt CROSS JOIN tot),
      |wdq AS MATERIALIZED (SELECT CAST(round((ln(1.0 / (t1 + 1024.0))
      |           - ln(1.0 / (t0 + 1024.0))) * 1048576) AS BIGINT) AS wq FROM tot),
      |b0 AS MATERIALIZED (
      |  SELECT CAST(round(ln((sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1.0)
      |            / (sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) + 1.0)) * 1048576)
      |         AS BIGINT) AS bq
      |  FROM traindocs),""".stripMargin
    val iterBlocks = (1 to iters).map { i =>
      val pw = s"w${i - 1}"; val pb = s"b${i - 1}"
      s"""
      |s$i AS MATERIALIZED (
      |  SELECT f.doc_id, sum(coalesce(w.wq, wdq.wq)) AS s
      |  FROM trainfeat f LEFT JOIN $pw w ON f.b = w.b CROSS JOIN wdq
      |  GROUP BY f.doc_id),
      |e$i AS MATERIALIZED (
      |  SELECT t.doc_id,
      |         CAST(round((1.0 / (1.0 + exp(-(CAST($pb.bq + coalesce(s.s, 0)
      |                AS DOUBLE) / 1048576)))
      |              - CAST(t.y AS DOUBLE)) * 16777216) AS BIGINT) AS eq
      |  FROM traindocs t LEFT JOIN s$i s ON t.doc_id = s.doc_id
      |  CROSS JOIN $pb),
      |g$i AS MATERIALIZED (
      |  SELECT f.b, sum(e.eq) AS g
      |  FROM trainfeat f JOIN e$i e ON f.doc_id = e.doc_id GROUP BY f.b),
      |w$i AS MATERIALIZED (
      |  SELECT w.b,
      |         CAST(round((CAST(w.wq AS DOUBLE) / 1048576
      |              - $lr * CAST(coalesce(g.g, 0) AS DOUBLE)
      |                / (CAST(16777216 AS DOUBLE) * nn.n)) * 1048576)
      |           AS BIGINT) AS wq
      |  FROM $pw w LEFT JOIN g$i g ON w.b = g.b CROSS JOIN nn),
      |b$i AS MATERIALIZED (
      |  SELECT CAST(round((CAST($pb.bq AS DOUBLE) / 1048576
      |              - $lr * CAST((SELECT sum(eq) FROM e$i) AS DOUBLE)
      |                / (CAST(16777216 AS DOUBLE) * nn.n)) * 1048576)
      |           AS BIGINT) AS bq
      |  FROM $pb CROSS JOIN nn),""".stripMargin
    }.mkString
    val fin = s"""
      |evalf AS MATERIALIZED (SELECT doc_id, unnest(fb) AS b FROM feats WHERE doc_id % 2 = 1),
      |es AS MATERIALIZED (
      |  SELECT e.doc_id, count(*) AS n_feats, sum(coalesce(w.wq, wdq.wq)) AS s
      |  FROM evalf e LEFT JOIN w$iters w ON e.b = w.b CROSS JOIN wdq
      |  GROUP BY e.doc_id)
      |SELECT f.doc_id, CAST(coalesce(es.n_feats, 0) AS BIGINT) AS n_feats,
      |       round(CAST(b$iters.bq + coalesce(es.s, 0) AS DOUBLE) / 1048576, 4)
      |         AS score,
      |       CAST(round(CAST(b$iters.bq + coalesce(es.s, 0) AS DOUBLE)
      |              / 1048576, 4) > 0 AS INT) AS pred
      |FROM feats f LEFT JOIN es ON f.doc_id = es.doc_id
      |CROSS JOIN b$iters
      |WHERE f.doc_id % 2 = 1
      |ORDER BY f.doc_id""".stripMargin
    pre + iterBlocks + fin
  }

  /** Generated oracle for the multiclass fixed-point softmax refinement
    * (pipe_quality_distill_refined): the FULL pipe_quality_distill
    * teacher chain (LM → xent → CDF terciles → labels → hashed
    * features → multiclass NB counts), its weights/priors QUANTIZED to
    * the 2^20 grid, then `iters` unrolled full-batch softmax-GD
    * iterations with 2^24-quantized per-(doc, class) errors — every
    * cross-engine accumulation is an INTEGER sum, mirroring
    * Classifier.trainSoftmaxFixedFeats operation-for-operation (scores are
    * exact dyadic doubles; softmax runs under max-subtraction so each
    * exp argument is a dyadic ≤ 0 on both engines; the engine-exp
    * 1-ulp caveat is the classifierSgdSqlDuck one). Final scoring and
    * the >=-chain argmax run on the refined integer weights. */
  private[queries] def distillRefineSqlDuck(iters: Int, lr: String): String = {
    val pre = """WITH words AS MATERIALIZED (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |                             t -> t <> '') AS ws
      |  FROM documents),
      |bg AS MATERIALIZED (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM words, LATERAL unnest(generate_series(1, CAST(len(ws) AS INT) - 1)) AS t(i)),
      |tr AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM tr GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS n1 FROM tr GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM tr),
      |ev AS (
      |  SELECT b.doc_id,
      |         ln((coalesce(c12.n12, 0) + 1.0)
      |            / (coalesce(c1.n1, 0) + v.v)) AS lp
      |  FROM bg b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |            LEFT JOIN c1 ON b.w1 = c1.w1
      |            CROSS JOIN v
      |  WHERE b.doc_id % 2 = 1),
      |sc AS (
      |  SELECT doc_id, round(-sum(lp) / count(*) + 1e-9, 4) AS xent
      |  FROM ev GROUP BY doc_id),
      |nn0 AS (SELECT count(*) AS n FROM sc),
      |cd AS (SELECT xent, sum(count(*)) OVER (ORDER BY xent) AS cum
      |       FROM sc GROUP BY xent),
      |th AS (SELECT
      |  (SELECT min(xent) FROM cd, nn0 WHERE cd.cum >= (nn0.n + 2) // 3) AS t1,
      |  (SELECT min(xent) FROM cd, nn0 WHERE cd.cum >= (2 * nn0.n + 2) // 3) AS t2),
      |lab AS MATERIALIZED (
      |  SELECT sc.doc_id,
      |         CASE WHEN sc.xent <= th.t1 THEN 'head'
      |              WHEN sc.xent <= th.t2 THEN 'middle'
      |              ELSE 'tail' END AS bucket
      |  FROM sc, th),
      |whs AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_transform(ws, t ->
      |           list_reduce(list_transform(string_split_regex(t, ''),
      |                         c -> CAST(unicode(c) AS BIGINT)),
      |                       (acc, cp) -> (acc * 131 + cp) % 1000000007)) AS wh
      |  FROM words),
      |feats AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_concat(
      |           list_transform(wh, h -> h % 1024),
      |           list_transform(generate_series(1, CAST(len(wh) AS INT) - 1),
      |             i -> ((wh[i] * 131 + wh[i + 1]) % 1000000007) % 1024)) AS fb
      |  FROM whs),
      |traindocs AS MATERIALIZED (
      |  SELECT l.doc_id, l.bucket FROM lab l WHERE l.doc_id % 4 = 1),
      |ntr AS MATERIALIZED (SELECT count(*) AS n FROM traindocs),
      |trainf AS MATERIALIZED (
      |  SELECT f.doc_id, unnest(f.fb) AS b, l.bucket
      |  FROM feats f JOIN lab l ON f.doc_id = l.doc_id
      |  WHERE f.doc_id % 4 = 1),
      |cnt AS MATERIALIZED (
      |  SELECT b, sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS nh,
      |         sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS nm,
      |         sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS nt
      |  FROM trainf GROUP BY b),
      |tot AS (SELECT sum(nh) AS th_, sum(nm) AS tm_, sum(nt) AS tt_ FROM cnt),
      |w0 AS MATERIALIZED (
      |  SELECT b,
      |    CAST(round(ln((nh + 1.0) / (th_ + 1024.0)) * 1048576) AS BIGINT) AS wh,
      |    CAST(round(ln((nm + 1.0) / (tm_ + 1024.0)) * 1048576) AS BIGINT) AS wm,
      |    CAST(round(ln((nt + 1.0) / (tt_ + 1024.0)) * 1048576) AS BIGINT) AS wt
      |  FROM cnt CROSS JOIN tot),
      |wdef AS MATERIALIZED (
      |  SELECT
      |    CAST(round(ln(1.0 / (th_ + 1024.0)) * 1048576) AS BIGINT) AS wh,
      |    CAST(round(ln(1.0 / (tm_ + 1024.0)) * 1048576) AS BIGINT) AS wm,
      |    CAST(round(ln(1.0 / (tt_ + 1024.0)) * 1048576) AS BIGINT) AS wt
      |  FROM tot),
      |docs_c AS (SELECT bucket, count(*) AS n FROM traindocs GROUP BY bucket),
      |totd AS (SELECT sum(n) AS t FROM docs_c),
      |b0 AS MATERIALIZED (SELECT
      |  CAST(round(ln(((SELECT coalesce(max(n), 0) FROM docs_c
      |                  WHERE bucket = 'head') + 1.0) / (totd.t + 3.0))
      |       * 1048576) AS BIGINT) AS bh,
      |  CAST(round(ln(((SELECT coalesce(max(n), 0) FROM docs_c
      |                  WHERE bucket = 'middle') + 1.0) / (totd.t + 3.0))
      |       * 1048576) AS BIGINT) AS bm,
      |  CAST(round(ln(((SELECT coalesce(max(n), 0) FROM docs_c
      |                  WHERE bucket = 'tail') + 1.0) / (totd.t + 3.0))
      |       * 1048576) AS BIGINT) AS bt
      |  FROM totd),""".stripMargin
    val iterBlocks = (1 to iters).map { i =>
      val pw = s"w${i - 1}"; val pb = s"b${i - 1}"
      s"""
      |s$i AS MATERIALIZED (
      |  SELECT f.doc_id, sum(coalesce(w.wh, dw.wh)) AS sh,
      |         sum(coalesce(w.wm, dw.wm)) AS sm,
      |         sum(coalesce(w.wt, dw.wt)) AS st
      |  FROM trainf f LEFT JOIN $pw w ON f.b = w.b CROSS JOIN wdef dw
      |  GROUP BY f.doc_id),
      |z$i AS MATERIALIZED (
      |  SELECT t.doc_id, t.bucket,
      |         CAST($pb.bh + coalesce(s.sh, 0) AS DOUBLE) / 1048576 AS zh,
      |         CAST($pb.bm + coalesce(s.sm, 0) AS DOUBLE) / 1048576 AS zm,
      |         CAST($pb.bt + coalesce(s.st, 0) AS DOUBLE) / 1048576 AS zt
      |  FROM traindocs t LEFT JOIN s$i s ON t.doc_id = s.doc_id
      |  CROSS JOIN $pb),
      |e$i AS MATERIALIZED (
      |  SELECT doc_id, bucket,
      |    CAST(round((exp(zh - greatest(zh, zm, zt))
      |          / (exp(zh - greatest(zh, zm, zt))
      |             + exp(zm - greatest(zh, zm, zt))
      |             + exp(zt - greatest(zh, zm, zt)))
      |        - CASE WHEN bucket = 'head' THEN 1.0 ELSE 0.0 END)
      |      * 16777216) AS BIGINT) AS eqh,
      |    CAST(round((exp(zm - greatest(zh, zm, zt))
      |          / (exp(zh - greatest(zh, zm, zt))
      |             + exp(zm - greatest(zh, zm, zt))
      |             + exp(zt - greatest(zh, zm, zt)))
      |        - CASE WHEN bucket = 'middle' THEN 1.0 ELSE 0.0 END)
      |      * 16777216) AS BIGINT) AS eqm,
      |    CAST(round((exp(zt - greatest(zh, zm, zt))
      |          / (exp(zh - greatest(zh, zm, zt))
      |             + exp(zm - greatest(zh, zm, zt))
      |             + exp(zt - greatest(zh, zm, zt)))
      |        - CASE WHEN bucket = 'tail' THEN 1.0 ELSE 0.0 END)
      |      * 16777216) AS BIGINT) AS eqt
      |  FROM z$i),
      |g$i AS MATERIALIZED (
      |  SELECT f.b, sum(e.eqh) AS gh, sum(e.eqm) AS gm, sum(e.eqt) AS gt
      |  FROM trainf f JOIN e$i e ON f.doc_id = e.doc_id GROUP BY f.b),
      |w$i AS MATERIALIZED (
      |  SELECT w.b,
      |    CAST(round((CAST(w.wh AS DOUBLE) / 1048576
      |         - $lr * CAST(coalesce(g.gh, 0) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS wh,
      |    CAST(round((CAST(w.wm AS DOUBLE) / 1048576
      |         - $lr * CAST(coalesce(g.gm, 0) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS wm,
      |    CAST(round((CAST(w.wt AS DOUBLE) / 1048576
      |         - $lr * CAST(coalesce(g.gt, 0) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS wt
      |  FROM $pw w LEFT JOIN g$i g ON w.b = g.b CROSS JOIN ntr),
      |b$i AS MATERIALIZED (
      |  SELECT
      |    CAST(round((CAST($pb.bh AS DOUBLE) / 1048576
      |         - $lr * CAST((SELECT sum(eqh) FROM e$i) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS bh,
      |    CAST(round((CAST($pb.bm AS DOUBLE) / 1048576
      |         - $lr * CAST((SELECT sum(eqm) FROM e$i) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS bm,
      |    CAST(round((CAST($pb.bt AS DOUBLE) / 1048576
      |         - $lr * CAST((SELECT sum(eqt) FROM e$i) AS DOUBLE)
      |           / (CAST(16777216 AS DOUBLE) * ntr.n)) * 1048576)
      |      AS BIGINT) AS bt
      |  FROM $pb CROSS JOIN ntr),""".stripMargin
    }.mkString
    val fin = s"""
      |evalf AS MATERIALIZED (
      |  SELECT doc_id, unnest(fb) AS b FROM feats WHERE doc_id % 4 = 3),
      |es AS MATERIALIZED (
      |  SELECT e.doc_id, count(*) AS n_feats,
      |         sum(coalesce(w.wh, dw.wh)) AS sh,
      |         sum(coalesce(w.wm, dw.wm)) AS sm,
      |         sum(coalesce(w.wt, dw.wt)) AS st
      |  FROM evalf e LEFT JOIN w$iters w ON e.b = w.b CROSS JOIN wdef dw
      |  GROUP BY e.doc_id),
      |scores AS (
      |  SELECT l.doc_id, CAST(coalesce(es.n_feats, 0) AS BIGINT) AS n_feats,
      |    round(CAST(b$iters.bh + coalesce(es.sh, 0) AS DOUBLE) / 1048576, 4)
      |      AS s_head,
      |    round(CAST(b$iters.bm + coalesce(es.sm, 0) AS DOUBLE) / 1048576, 4)
      |      AS s_middle,
      |    round(CAST(b$iters.bt + coalesce(es.st, 0) AS DOUBLE) / 1048576, 4)
      |      AS s_tail,
      |    l.bucket
      |  FROM lab l LEFT JOIN es ON l.doc_id = es.doc_id CROSS JOIN b$iters
      |  WHERE l.doc_id % 4 = 3)
      |SELECT doc_id, n_feats, s_head, s_middle, s_tail,
      |       CASE WHEN s_head >= s_middle AND s_head >= s_tail THEN 'head'
      |            WHEN s_middle >= s_tail THEN 'middle'
      |            ELSE 'tail' END AS pred,
      |       bucket
      |FROM scores ORDER BY doc_id""".stripMargin
    pre + iterBlocks + fin
  }

  /** Shared CTE chain for the exact-substring-dedup oracles: tokenize,
    * per-word portable hashes under BOTH window-hash families
    * (Dedup.winFamilyA/B — the constants here are those literals), the
    * per-position W-token window hashes as slice folds, the duplicate
    * test with the global-min keeper, and the islands merge into spans.
    * Ends with the `spans` CTE — callers append their final SELECT. */
  private[queries] def substringSpansSqlDuck(w: Int): String = {
    val wm1 = w - 1
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |                             t -> t <> '') AS ws
       |  FROM documents),
       |whs AS (
       |  SELECT doc_id, len(ws) AS n,
       |    list_transform(ws, t ->
       |      (list_reduce(list_transform(string_split_regex(t, ''),
       |                     c -> CAST(unicode(c) AS BIGINT)),
       |                   (acc, cp) -> (acc * 131 + cp) % 1000000007)
       |       * 2654435761) % 1073741789) AS h1s,
       |    list_transform(ws, t ->
       |      (list_reduce(list_transform(string_split_regex(t, ''),
       |                     c -> CAST(unicode(c) AS BIGINT)),
       |                   (acc, cp) -> (acc * 137 + cp) % 998244353)
       |       * 2246822519) % 1073741783) AS h2s
       |  FROM words),
       |occ AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    list_reduce(list_slice(h1s, i, i + $wm1),
       |                (acc, h) -> (acc * 31 + h) % 1000000007) AS h1,
       |    list_reduce(list_slice(h2s, i, i + $wm1),
       |                (acc, h) -> (acc * 37 + h) % 998244353) AS h2
       |  FROM whs, LATERAL unnest(generate_series(1, CAST(n AS INT) - $wm1)) AS t(i)),
       |marked AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY h1, h2) AS cnt,
       |    row_number() OVER (PARTITION BY h1, h2 ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |dups AS (SELECT doc_id, pos FROM marked WHERE cnt > 1 AND rn > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos > coalesce(max(pos + $w) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS ni
       |  FROM dups),
       |grp AS (SELECT doc_id, pos,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, max(pos) + $w AS span_end,
       |         count(*) AS n_windows
       |  FROM grp GROUP BY doc_id, island)""".stripMargin
  }

  private val shingleSqlDuck =
    """SELECT doc_id,
      |       list_distinct(list_transform(
      |         generate_series(1, greatest(len(ws) - 2, 1)),
      |         i -> array_to_string(ws[i:i+2], ' '))) sh
      |FROM (SELECT doc_id, string_split(text, ' ') ws FROM documents)""".stripMargin

  val defs: Map[String, Q] = Map(
    // ── document chunking: overlapping 64-token windows, 48-token step —
    //    pure map-side Column algebra (tokenize once, sequence+slice);
    //    chunk text goes out as md5 so the compare stays row-shaped ───────
    "pipe_chunk_docs" -> Q("""
      |WITH s AS (SELECT doc_id, string_split_regex(text, '\s+') toks,
      |                  len(string_split_regex(text, '\s+')) n
      |           FROM documents),
      |c AS (SELECT doc_id, n, toks,
      |             unnest(generate_series(0,
      |               CAST(greatest(ceil((n - 64)::DOUBLE / 48), 0) AS INT) * 48,
      |               48)) AS chunk_start
      |      FROM s)
      |SELECT doc_id, chunk_start // 48 AS chunk_id, chunk_start,
      |       CAST(least(n - chunk_start, 64) AS BIGINT) AS n_chunk_tokens,
      |       md5(array_to_string(toks[chunk_start+1:chunk_start+64], ' ')) AS h
      |FROM c ORDER BY doc_id, chunk_id""") { (s, d) =>
      Chunking.chunkDocs(Engine.table(s, d, "documents"), "text",
          chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id"),
          col("chunk_start").cast("long").as("chunk_start"),
          col("n_chunk_tokens"), md5(col("chunk_text")).as("h"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ── token-stream packing: distributed two-phase prefix sum (NOT a
    //    global window — SCALE.md); oracle is the global-window form ─────
    "pipe_pack_stream" -> Q("""
      |SELECT doc_id,
      |       CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            - n_chars AS BIGINT) AS tok_start,
      |       CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            AS BIGINT) AS tok_end,
      |       CAST((sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            - n_chars) // 4096 AS BIGINT) AS seq_first,
      |       CAST(greatest(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED
      |              PRECEDING) - 1,
      |            sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |              - n_chars) // 4096 AS BIGINT) AS seq_last
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Packing.packTokenStream(
          Engine.table(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096)
        .select(col("doc_id"), col("tok_start"), col("tok_end"),
          col("seq_first"), col("seq_last"))
        .orderBy(col("doc_id"))
    },

    // ── exact dedup (hash-groupBy) ───────────────────────────────────────
    "pipe_dedup_exact" -> Q("""
      |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""") { (s, d) =>
      Dedup.exactDedup(Engine.table(s, d, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    },

    // ── exact n-gram Jaccard near-dup pairs (ground truth) ───────────────
    "pipe_dedup_ngram" -> Q(s"""
      |WITH sh0 AS ($shingleSqlDuck),
      |sh AS (SELECT doc_id, unnest(sh) s FROM sh0),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |       round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6
      |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.ngramJaccardPairs(Engine.table(s, d, "documents"),
          "doc_id", "text", shingleSize = 3, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── eval-set decontamination: train docs sharing ≥3 distinct
    //    3-gram shingles with the pseudo eval slice (doc_id % 17 = 0).
    //    Spark joins on xxhash64 signatures (the 100 TB shape: the
    //    shuffle never carries shingle text); the oracle joins on the
    //    shingle text — equal barring 64-bit collisions ─────────────────
    "pipe_decontaminate" -> Q("""
      |WITH tsh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 <> 0)),
      |esh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 = 0)),
      |tsh AS (SELECT doc_id, unnest(sh) s FROM tsh0),
      |esh AS (SELECT doc_id AS eval_id, unnest(sh) s FROM esh0)
      |SELECT t.doc_id,
      |       CAST(count(DISTINCT t.s) AS BIGINT) AS n_hits,
      |       CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      |FROM tsh t JOIN esh e ON t.s = e.s
      |GROUP BY t.doc_id
      |HAVING count(DISTINCT t.s) >= 3
      |ORDER BY t.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      Decontamination.contaminationReport(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
        .orderBy(col("doc_id"))
    },

    // ── the removal pass: surviving-doc count + id checksum ────────────
    "pipe_decontaminate_clean" -> Q("""
      |WITH tsh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 <> 0)),
      |esh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 = 0)),
      |tsh AS (SELECT doc_id, unnest(sh) s FROM tsh0),
      |esh AS (SELECT doc_id AS eval_id, unnest(sh) s FROM esh0),
      |flagged AS (SELECT t.doc_id FROM tsh t JOIN esh e ON t.s = e.s
      |            GROUP BY t.doc_id HAVING count(DISTINCT t.s) >= 3)
      |SELECT CAST(count(*) AS BIGINT) AS n_clean,
      |       CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM documents
      |WHERE doc_id % 17 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM flagged)""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      Decontamination.removeContaminated(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
        .agg(count(lit(1)).as("n_clean"),
          sum(col("doc_id")).as("id_sum"))
    },

    // ── bloom-prefiltered decontamination: same report as
    //    pipe_decontaminate (same oracle SQL), but the train shingles
    //    are probed MAP-SIDE against a bloom sketch of the eval hashes
    //    before any shuffle — the 100 TB shuffle-reduction pattern; the
    //    exact join kills the sketch's false positives, so the result
    //    is bit-identical to the plain path. Sketch deliberately small
    //    (2^16 bits) so the fp path is exercised, not just the reject ──
    "pipe_decontaminate_bloom" -> Q("""
      |WITH tsh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 <> 0)),
      |esh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 = 0)),
      |tsh AS (SELECT doc_id, unnest(sh) s FROM tsh0),
      |esh AS (SELECT doc_id AS eval_id, unnest(sh) s FROM esh0)
      |SELECT t.doc_id,
      |       CAST(count(DISTINCT t.s) AS BIGINT) AS n_hits,
      |       CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
      |FROM tsh t JOIN esh e ON t.s = e.s
      |GROUP BY t.doc_id
      |HAVING count(DISTINCT t.s) >= 3
      |ORDER BY t.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      Decontamination.contaminationReportBloom(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", "doc_id", "text", n = 3, minHits = 3,
          bloomBits = 1 << 16, bloomHashes = 5)
        .orderBy(col("doc_id"))
    },

    // ── duplicate-cluster assignment: exact ngram pairs → connected
    //    components (large-star/small-star; oracle: DuckDB recursive-CTE
    //    min-label closure over the SAME pair list) ─────────────────────────
    "pipe_dedup_cluster" -> Q(s"""
      |WITH RECURSIVE sh0 AS ($shingleSqlDuck),
      |sh AS (SELECT doc_id, unnest(sh) s FROM sh0),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM inter
      |          JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |          WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6),
      |sym AS (SELECT id_a u, id_b v FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |cc(id, comp) AS (
      |  SELECT DISTINCT u, u FROM sym
      |  UNION
      |  SELECT s.u, cc.comp FROM sym s JOIN cc ON cc.id = s.v),
      |comp AS (SELECT id, min(comp) AS component FROM cc GROUP BY id)
      |SELECT id AS doc_id, component,
      |       count(*) OVER (PARTITION BY component) AS n_members
      |FROM comp ORDER BY doc_id""") { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(Engine.table(s, d, "documents"),
        "doc_id", "text", shingleSize = 3, threshold = 0.6)
      Clustering.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          count(lit(1)).over(Window.partitionBy(col("component")))
            .as("n_members"))
        .orderBy(col("doc_id"))
    },

    // ── cluster-and-keep dedup: only the min-id doc of each duplicate
    //    cluster survives; unpaired docs pass through ──────────────────────
    "pipe_dedup_cluster_keep" -> Q(s"""
      |WITH RECURSIVE sh0 AS ($shingleSqlDuck),
      |sh AS (SELECT doc_id, unnest(sh) s FROM sh0),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM inter
      |          JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |          WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6),
      |sym AS (SELECT id_a u, id_b v FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |cc(id, comp) AS (
      |  SELECT DISTINCT u, u FROM sym
      |  UNION
      |  SELECT s.u, cc.comp FROM sym s JOIN cc ON cc.id = s.v),
      |drop_ids AS (SELECT id FROM cc GROUP BY id HAVING id <> min(comp))
      |SELECT doc_id, lang, length(text) AS len
      |FROM documents WHERE doc_id NOT IN (SELECT id FROM drop_ids)
      |ORDER BY doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
      Clustering.dedupByPairs(docs, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("len"))
        .orderBy(col("doc_id"))
    },

    // ── end-to-end curation pipeline: normalize-fingerprint exact dedup →
    //    ngram-pair cluster dedup (min-id representative survives) → token
    //    stats on the survivors. Composes the individually-oracled stages
    //    into the one flow a curation job actually runs; the oracle replays
    //    every stage in a single recursive-CTE SQL ─────────────────────────
    "pipe_curate_e2e" -> Q("""
      |WITH RECURSIVE
      |norm AS (SELECT doc_id, lang, text,
      |                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) fp
      |         FROM documents),
      |keep1 AS (SELECT * FROM norm WHERE doc_id IN
      |          (SELECT min(doc_id) FROM norm GROUP BY fp)),
      |sh0 AS (SELECT doc_id,
      |        list_distinct(list_transform(
      |          generate_series(1, greatest(len(ws) - 2, 1)),
      |          i -> array_to_string(ws[i:i+2], ' '))) sh
      |        FROM (SELECT doc_id, string_split(text, ' ') ws FROM keep1)),
      |sh AS (SELECT doc_id, unnest(sh) s FROM sh0),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM inter
      |          JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |          WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6),
      |sym AS (SELECT id_a u, id_b v FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |cc(id, comp) AS (
      |  SELECT DISTINCT u, u FROM sym
      |  UNION
      |  SELECT s.u, cc.comp FROM sym s JOIN cc ON cc.id = s.v),
      |drop_ids AS (SELECT id FROM cc GROUP BY id HAVING id <> min(comp))
      |SELECT doc_id, lang, fp,
      |       CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
      |FROM keep1 WHERE doc_id NOT IN (SELECT id FROM drop_ids)
      |ORDER BY doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
        .withColumn("fp", TextAnalysis.fingerprintMd5(col("text")))
      val keepExact = docs.join(
        docs.groupBy(col("fp").as("kfp")).agg(min(col("doc_id")).as("keep_id")),
        col("doc_id") === col("keep_id") && col("fp") === col("kfp"))
        .select(col("doc_id"), col("lang"), col("text"), col("fp"))
      val pairs = Dedup.ngramJaccardPairs(keepExact, "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
      Clustering.dedupByPairs(keepExact, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), col("fp"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // ── MinHash + LSH banding near-dup pairs (the 100 TB path) ───────────
    // Bounded-pass (r6 verdict #2): minhashPairs verifies every LSH
    // candidate with the EXACT shingle jaccard and keeps pairs >= 0.8, so
    // the emitted pair set equals the brute-force all-pairs set whenever
    // banding recall is 1 at the threshold — which PipelineSpec gates and
    // the oracle now PROVES per run by recomputing all pairs in SQL. The
    // minhash estimate is asserted within 0.2 of exact (>4σ at k=64).
    "pipe_dedup_minhash" -> Q(s"""
      |WITH sh0 AS ($shingleSqlDuck),
      |sh AS (SELECT doc_id, unnest(sh) s FROM sh0),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |       round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard,
      |       true AS est_in_bound
      |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
      |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.minhashPairs(Engine.table(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (abs(col("est_jaccard") - col("jaccard")) <= 0.2).as("est_in_bound"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── SimHash near-dup pairs — fully replayed by the oracle ────────────
    // The 30-bit portable signature (codepoint-polynomial token hashes,
    // per-bit majority vote) is recomputed bit-for-bit by DuckDB, so the
    // ENTIRE pair set is value-oracled, blocking included (pigeonhole
    // guarantees Spark's 4×8-bit chunk join finds exactly the
    // near-dup pairs the oracle's all-pairs scan finds). maxHamming=1
    // here: 30-bit signatures make 3 bits a loose 10% relative cut
    // (vocabulary correlation alone yields thousands of pairs); 1 bit
    // matches the 63-bit kernel's ~5% selectivity.
    "pipe_dedup_simhash" -> Q(s"""
      |WITH th AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
      |           w -> (list_reduce(
      |                  list_transform(string_split_regex(w, ''),
      |                    c -> CAST(unicode(c) AS BIGINT)),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)
      |                 * 2654435761) % 1073741789) hs
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(hs, h ->
      |                      CASE WHEN (h >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig
      |  FROM th)
      |SELECT a.doc_id id_a, b.doc_id id_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 1
      |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.simhashPairsPortable(Engine.table(s, d, "documents"),
          "doc_id", "text", maxHamming = 1)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── wide-signature SimHash pairs (the >10M-doc variant, oracled) ─────
    // 60-bit signature = two independent portable 30-bit SimHashes
    // (scramble multipliers 2654435761 / 2246822519); blocking is 4×15-bit
    // pigeonhole chunks, so bucket space is 4×2^15 per hash family where
    // the narrow path's was 4×2^8 — the scale story is the xxhash64 twin
    // simhashPairsWide (sigLongs=2 → 4×2^31 buckets, PipeScale-rehearsed);
    // THIS portable twin exists so the whole pair set, blocking included,
    // is value-oracled: DuckDB recomputes both signatures bit-for-bit and
    // scans all pairs. maxHamming=2 over 60 bits preserves the narrow
    // query's 1-in-30 relative threshold.
    "pipe_dedup_simhash_wide" -> Q(s"""
      |WITH th AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
      |           w -> list_reduce(
      |                  list_transform(string_split_regex(w, ''),
      |                    c -> CAST(unicode(c) AS BIGINT)),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)) ph
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(ph, h ->
      |                      CASE WHEN (((h * 2654435761) % 1073741789) >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig0,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(ph, h ->
      |                      CASE WHEN (((h * 2246822519) % 1073741789) >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig1
      |  FROM th)
      |SELECT a.doc_id id_a, b.doc_id id_b,
      |       CAST(bit_count(xor(a.sig0, b.sig0))
      |            + bit_count(xor(a.sig1, b.sig1)) AS BIGINT) hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig0, b.sig0))
      |      + bit_count(xor(a.sig1, b.sig1)) <= 2
      |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.simhashPairsPortableWide(Engine.table(s, d, "documents"),
          "doc_id", "text", maxHamming = 2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── incremental dedup against a persisted signature store (r13) ─────
    // The production curation shape: history = even doc_ids persisted as
    // (id, portable-30-bit-SimHash) rows, the new snapshot = odd doc_ids.
    // A batch doc is a dup iff some STORE signature (any id) or some
    // EARLIER batch signature (smaller id) lies within hamming 1;
    // dup_src is the smallest such id. Spark runs the pigeonhole
    // chunk-join with the batch-keyed Bloom prefilter on the store scan
    // (history ships signatures only — never text); the oracle replays
    // the ENTIRE decision from raw text: both signature sets bit-for-bit
    // and the store-OR-earlier rule as one all-pairs scan. The
    // batch(A∪B) ≡ incremental(A then B) law is PipelineSpec's.
    "pipe_dedup_incremental" -> Q(s"""
      |WITH th AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
      |           w -> (list_reduce(
      |                  list_transform(string_split_regex(w, ''),
      |                    c -> CAST(unicode(c) AS BIGINT)),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)
      |                 * 2654435761) % 1073741789) hs
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(hs, h ->
      |                      CASE WHEN (h >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig
      |  FROM th),
      |batch AS (SELECT doc_id, sig FROM sigs WHERE doc_id % 2 = 1),
      |m AS (
      |  SELECT b.doc_id, min(o.doc_id) AS dup_src
      |  FROM batch b JOIN sigs o
      |    ON (o.doc_id % 2 = 0 OR o.doc_id < b.doc_id)
      |   AND bit_count(xor(b.sig, o.sig)) <= 1
      |  GROUP BY b.doc_id)
      |SELECT b.doc_id, b.sig, m.dup_src IS NOT NULL AS is_dup, m.dup_src
      |FROM batch b LEFT JOIN m ON b.doc_id = m.doc_id
      |ORDER BY b.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      val store = Dedup.simhashStorePortable(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.incrementalDedupSimhash(store,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          maxHamming = 1)
        .orderBy(col("doc_id"))
    },

    // ── incremental dedup, WIDE 60-bit store (r13): the >10M-doc store
    //    variant — same store-OR-earlier rule, hamming over two portable
    //    30-bit signatures, 4×15-bit pigeonhole blocking. Oracle
    //    recomputes both signature families and scans all pairs ─────────
    "pipe_dedup_incremental_wide" -> Q(s"""
      |WITH th AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(string_split_regex(text, '\\s+'), w -> w <> ''),
      |           w -> list_reduce(
      |                  list_transform(string_split_regex(w, ''),
      |                    c -> CAST(unicode(c) AS BIGINT)),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)) ph
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(ph, h ->
      |                      CASE WHEN (((h * 2654435761) % 1073741789) >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig0,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(ph, h ->
      |                      CASE WHEN (((h * 2246822519) % 1073741789) >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig1
      |  FROM th),
      |batch AS (SELECT doc_id, sig0, sig1 FROM sigs WHERE doc_id % 2 = 1),
      |m AS (
      |  SELECT b.doc_id, min(o.doc_id) AS dup_src
      |  FROM batch b JOIN sigs o
      |    ON (o.doc_id % 2 = 0 OR o.doc_id < b.doc_id)
      |   AND bit_count(xor(b.sig0, o.sig0))
      |       + bit_count(xor(b.sig1, o.sig1)) <= 2
      |  GROUP BY b.doc_id)
      |SELECT b.doc_id, b.sig0, b.sig1,
      |       m.dup_src IS NOT NULL AS is_dup, m.dup_src
      |FROM batch b LEFT JOIN m ON b.doc_id = m.doc_id
      |ORDER BY b.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      val store = Dedup.simhashStorePortableWide(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.incrementalDedupSimhashWide(store,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          maxHamming = 2)
        .orderBy(col("doc_id"))
    },

    // ── END-TO-END INCREMENTAL curation (r14): the production loop the
    //    r13 pieces compose into — snapshot A (even ids) dedups against
    //    an empty store and seeds it; snapshot B (odd ids) dedups
    //    against A's signatures; the survivor union is decontaminated
    //    against the eval slice (doc_id % 17 = 0) and packed into
    //    4096-token training sequences. The output is the packed
    //    stream's prefix sums, so ANY upstream deviation — a dedup
    //    decision, a contamination flag — shifts every later row: the
    //    strongest possible end-to-end pin. The oracle replays the
    //    whole chain; the store-advance semantics reduce to the
    //    (parity, id)-lexicographic smaller-than rule (store ids =
    //    evens precede all batch ids = odds — the law precondition).
    //    Two-snapshot ≡ one-batch is asserted in PipelineSpec. ─────────
    "pipe_curate_incremental" -> Q("""
      |WITH th AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(string_split_regex(text, '\s+'), w -> w <> ''),
      |           w -> (list_reduce(
      |                  list_transform(string_split_regex(w, ''),
      |                    c -> CAST(unicode(c) AS BIGINT)),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)
      |                 * 2654435761) % 1073741789) hs
      |  FROM documents),
      |sigs AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(generate_series(0, 29), i ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(hs, h ->
      |                      CASE WHEN (h >> i) & 1 = 1
      |                           THEN CAST(1 AS BIGINT)
      |                           ELSE CAST(-1 AS BIGINT) END)),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) << i
      |                  ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a + b) sig
      |  FROM th),
      |dup AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM sigs b JOIN sigs o
      |    ON bit_count(xor(b.sig, o.sig)) <= 1
      |   AND (o.doc_id % 2 < b.doc_id % 2
      |        OR (o.doc_id % 2 = b.doc_id % 2 AND o.doc_id < b.doc_id))),
      |surv AS (
      |  SELECT d.doc_id, d.text, d.n_chars FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)),
      |tsh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM surv WHERE doc_id % 17 <> 0)),
      |esh0 AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |           generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' '))) sh
      |  FROM (SELECT doc_id, string_split(text, ' ') ws
      |        FROM documents WHERE doc_id % 17 = 0)),
      |tsh AS (SELECT doc_id, unnest(sh) s FROM tsh0),
      |esh AS (SELECT doc_id AS eval_id, unnest(sh) s FROM esh0),
      |flagged AS (SELECT t.doc_id FROM tsh t JOIN esh e ON t.s = e.s
      |            GROUP BY t.doc_id HAVING count(DISTINCT t.s) >= 3),
      |clean AS (
      |  SELECT doc_id, n_chars FROM surv
      |  WHERE doc_id % 17 <> 0
      |    AND doc_id NOT IN (SELECT doc_id FROM flagged))
      |SELECT doc_id,
      |       CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            - n_chars AS BIGINT) AS tok_start,
      |       CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            AS BIGINT) AS tok_end,
      |       CAST((sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |            - n_chars) // 4096 AS BIGINT) AS seq_first,
      |       CAST(greatest(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED
      |              PRECEDING) - 1,
      |            sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |              - n_chars) // 4096 AS BIGINT) AS seq_last
      |FROM clean ORDER BY doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val repA = Dedup.incrementalDedupSimhash(
        Dedup.emptySigStore(s), docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", maxHamming = 1)
      val storeA = repA.select(col("doc_id").as("id"), col("sig"))
      val repB = Dedup.incrementalDedupSimhash(storeA,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        maxHamming = 1)
      val keepIds = repA.unionByName(repB)
        .filter(!col("is_dup")).select(col("doc_id"))
      val survivors = docs.join(keepIds, Seq("doc_id"))
      val clean = Decontamination.removeContaminated(
        survivors.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", "doc_id", "text", n = 3, minHits = 3)
      Packing.packTokenStream(
          clean.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 4096)
        .select(col("doc_id"), col("tok_start"), col("tok_end"),
          col("seq_first"), col("seq_last"))
        .orderBy(col("doc_id"))
    },

    // ── incremental dedup against a persisted MINHASH-LSH store (r14) ───
    // The Jaccard face of the signature store (the DCLM/FineWeb lineage
    // dedups on MinHash banding): history = even doc_ids persisted as
    // (id, 16-position portable MinHash), batch = odd doc_ids. A batch
    // doc is a dup iff some store signature (any id) or some earlier
    // batch signature (smaller id) shares an IDENTICAL 4-position band
    // slice AND agrees on >= 8 of 16 positions (integer est-Jaccard
    // >= 0.5). The signature is the PortableMinHash kernel — codepoint-
    // polynomial shingle hashes scrambled by 16 odd multipliers — so
    // the oracle recomputes every signature, replays the banding join
    // itself (not an all-pairs scan), and applies the same agree rule:
    // the ENTIRE incremental decision is value-oracled, blocking
    // included. The batch(A∪B) ≡ incremental(A then B) law is
    // PipelineSpec's.
    "pipe_dedup_incremental_minhash" -> Q("""
      |WITH ws AS (
      |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
      |           i -> array_to_string(ws[i:i+2], ' ')) AS sh
      |  FROM ws),
      |shh AS (
      |  SELECT doc_id,
      |         list_transform(sh, s -> CASE WHEN s = '' THEN 0
      |           ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                  list_transform(string_split_regex(s, ''),
      |                    c -> CAST(unicode(c) AS BIGINT))),
      |                  (acc, cp) -> (acc * 131 + cp) % 1000000007)
      |           END) AS hs
      |  FROM sh),
      |sigs AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(0, 15), q ->
      |           list_aggregate(list_transform(hs,
      |             h -> (h * (2654435761 + 2 * q)) % 1073741789),
      |             'min')) AS sig
      |  FROM shh),
      |bnd AS (
      |  SELECT doc_id, b, sig[b * 4 + 1 : b * 4 + 4] AS bs
      |  FROM sigs, (VALUES (0), (1), (2), (3)) t(b)),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id, o.doc_id AS src
      |  FROM bnd l JOIN bnd o ON l.b = o.b AND l.bs = o.bs
      |  WHERE l.doc_id % 2 = 1
      |    AND (o.doc_id % 2 = 0 OR o.doc_id < l.doc_id)),
      |m AS (
      |  SELECT c.id, min(c.src) AS dup_src
      |  FROM cand c JOIN sigs a ON a.doc_id = c.id
      |              JOIN sigs o ON o.doc_id = c.src
      |  WHERE list_sum(list_transform(generate_series(1, 16),
      |          j -> CASE WHEN a.sig[j] = o.sig[j] THEN 1 ELSE 0 END)) >= 8
      |  GROUP BY c.id)
      |SELECT b.doc_id, array_to_string(b.sig, ',') AS sig_str,
      |       m.dup_src IS NOT NULL AS is_dup, m.dup_src
      |FROM (SELECT * FROM sigs WHERE doc_id % 2 = 1) b
      |LEFT JOIN m ON b.doc_id = m.id
      |ORDER BY b.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      val store = Dedup.minhashSigStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Dedup.incrementalDedupMinhash(store,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .select(col("doc_id"),
          array_join(transform(col("sig"), _.cast("string")), ",")
            .as("sig_str"),
          col("is_dup"), col("dup_src"))
        .orderBy(col("doc_id"))
    },

    // ── embedding-cosine near-dup dedup (LSH scale path, oracled) ────────
    // Corpus = embeddings ∪ positively-scaled copies of every 10th vector
    // (scaling preserves hyperplane signs bit-for-bit, so the LSH
    // candidate generation catches every planted near-dup
    // deterministically; natural pairs top out at cos ≈ 0.60, far below
    // θ=0.99). A row is dropped iff a smaller-id row has cos >= θ — the
    // oracle states the same rule as NOT EXISTS over the brute-force
    // O(n²) pair set.
    "pipe_dedup_embedding" -> Q("""
      |WITH corpus AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 1.001)
      |  FROM embeddings WHERE vec_id % 10 = 0)
      |SELECT c.vec_id FROM corpus c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM corpus o
      |  WHERE o.vec_id < c.vec_id
      |    AND round(list_cosine_similarity(o.v, c.v), 6) >= 0.99)
      |ORDER BY c.vec_id""") { (s, d) =>
      val emb = Engine.table(s, d, "embeddings")
      val corpus = emb
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .unionAll(emb.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("embedding"), x => x.cast("double") * 1.001)
              .as("v")))
      Dedup.embeddingDedup(corpus, "vec_id", "v", threshold = 0.99)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    // ── exact substring dedup (Lee et al. 2021, span level) ─────────────
    // Every duplicated 15-token window across the corpus, merged into
    // maximal spans per doc, keeper (global min (doc_id, pos)) excluded.
    // The oracle replays BOTH portable window-hash families (codepoint
    // polynomial → scramble → rolling window fold), the duplicate test,
    // the keeper rule, and the islands merge. Spark's O(n) rolling
    // kernel and the oracle's per-window slice folds are the same
    // algebra (PipelineSpec asserts kernel == HOF spec corpus-wide).
    "pipe_dedup_substring" -> Q(s"""
      |${substringSpansSqlDuck(15)}
      |SELECT doc_id, span_start, span_end, n_windows
      |FROM spans ORDER BY doc_id, span_start""") { (s, d) =>
      Dedup.duplicateSpans(Engine.table(s, d, "documents"),
          "doc_id", "text", w = 15)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ── exact substring dedup — the rewrite: cut every span, keep the
    //    keeper occurrence; verified per doc by token counts plus the
    //    portable rolling fingerprint of the surviving tokens ───────────
    "pipe_dedup_substring_cut" -> Q(s"""
      |${substringSpansSqlDuck(15)},
      |tok AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS tpos, ws[i] AS tk
      |  FROM words, LATERAL unnest(generate_series(1, CAST(len(ws) AS INT))) AS t(i)),
      |kept AS (
      |  SELECT t.doc_id, t.tpos, t.tk FROM tok t
      |  WHERE NOT EXISTS (SELECT 1 FROM spans s
      |    WHERE s.doc_id = t.doc_id
      |      AND t.tpos >= s.span_start AND t.tpos < s.span_end)),
      |keptfp AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    list_reduce(
      |      list_transform(list(tk ORDER BY tpos), w2 ->
      |        list_reduce(list_transform(string_split_regex(w2, ''),
      |                      c -> CAST(unicode(c) AS BIGINT)),
      |                    (acc, cp) -> (acc * 131 + cp) % 1000000007)),
      |      (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_clean
      |  FROM kept GROUP BY doc_id)
      |SELECT wd.doc_id, CAST(len(wd.ws) AS BIGINT) AS n_tokens,
      |       coalesce(k.n_kept, 0) AS n_kept,
      |       coalesce(k.fp_clean, 0) AS fp_clean
      |FROM words wd LEFT JOIN keptfp k USING (doc_id)
      |ORDER BY doc_id""") { (s, d) =>
      Dedup.cutDuplicateSpans(Engine.table(s, d, "documents"),
          "doc_id", "text", w = 15)
        .orderBy(col("doc_id"))
    },

    // ── brute-force cosine top-k (exact ANN baseline) ────────────────────
    "pipe_sim_topk" -> Q("""
      |WITH e AS (SELECT vec_id,
      |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings)
      |SELECT q.vec_id AS qid, e.vec_id AS nid,
      |       round(list_dot_product(q.v, e.v)
      |             / (sqrt(list_dot_product(q.v, q.v))
      |                * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
      |FROM e q, e e
      |WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
      |QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |                           ORDER BY cos DESC, e.vec_id) <= 5
      |ORDER BY qid, cos DESC, nid""") { (s, d) =>
      val emb = Engine.table(s, d, "embeddings")
      Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("cos").desc, col("nid"))
    },

    // ── LSH near-pairs over embeddings (approximate scale path) ──────────
    // Fully replayed by the oracle (r6 verdict #2): the hyperplane
    // matrices are deterministic literals shipped INTO the oracle SQL, so
    // DuckDB recomputes every signature, band bucket, candidate pair and
    // verified cosine — banding included. (Spark joins on
    // xxhash64(rot,band,bits); the oracle joins on the tuple itself —
    // identical sets barring a 64-bit hash collision across ~6k keys.)
    "pipe_sim_lsh" -> Q(s"""
      |WITH base AS (SELECT vec_id id,
      |       list_transform(embedding, x -> CAST(x AS DOUBLE)) vec
      |     FROM embeddings),
      |sigs AS (
      |  SELECT id, rot,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(m, row ->
      |             CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |                    list_transform(generate_series(1, 64),
      |                      j -> vec[j] * row[j])),
      |                    (a, b) -> a + b) > 0
      |                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |           (a, b) -> a * 2 + b) sig
      |  FROM base, ${lshPlanesSqlDuck(3, 16, 64)}),
      |bk AS (SELECT id, rot, band, (sig >> (band * 4)) & 15 bits
      |       FROM sigs, generate_series(0, 3) g(band)),
      |cand AS (SELECT DISTINCT l.id id_a, r.id id_b
      |         FROM bk l JOIN bk r ON l.rot = r.rot AND l.band = r.band
      |                            AND l.bits = r.bits AND l.id < r.id),
      |res AS (SELECT id_a, id_b,
      |          round(${cosSqlDuck("a.vec", "b.vec")}, 6) cos
      |        FROM cand JOIN base a ON a.id = id_a JOIN base b ON b.id = id_b)
      |SELECT id_a, id_b, cos FROM res WHERE cos >= 0.2
      |ORDER BY id_a, id_b""") { (s, d) =>
      Similarity.lshNearPairs(Engine.table(s, d, "embeddings"),
          "vec_id", "embedding", planes = 16, bandBits = 4, rotations = 3,
          threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    },

    // ── markup cleanup + PII redaction over deterministically dirtied
    //    text (the raw docs carry no HTML/PII, so both engines inject the
    //    same tags/email/IP/phone derived from doc_id — the compare then
    //    exercises the full regex chain, not a no-op) ──────────────────────
    "pipe_text_clean" -> Q("""
      |WITH dirty AS (
      |  SELECT doc_id,
      |         '<div class="doc"> ' || substr(text, 1, 80)
      |           || ' </div><br/>Contact: user' || doc_id
      |           || '@mail.example.org or 10.2.' || (doc_id % 200)
      |           || '.77 / tel +1 (555) 010-'
      |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents),
      |clean AS (
      |  SELECT doc_id,
      |         trim(regexp_replace(regexp_replace(t, '<[^>]*>', ' ', 'g'),
      |                             '\s+', ' ', 'g')) AS clean
      |  FROM dirty)
      |SELECT doc_id, clean,
      |       regexp_replace(regexp_replace(regexp_replace(clean,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
      |         '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
      |       CAST(len(string_split_regex(regexp_replace(regexp_replace(
      |         regexp_replace(clean,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
      |           '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
      |         '\s+')) AS BIGINT) AS n_tok
      |FROM clean ORDER BY doc_id""") { (s, d) =>
      val dirty = concat(
        lit("<div class=\"doc\"> "), substring(col("text"), 1, 80),
        lit(" </div><br/>Contact: user"), col("doc_id"),
        lit("@mail.example.org or 10.2."), pmod(col("doc_id"), lit(200)),
        lit(".77 / tel +1 (555) 010-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Engine.table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.cleanText(dirty).as("clean"))
        .select(col("doc_id"), col("clean"),
          TextAnalysis.redactPii(col("clean")).as("redacted"))
        .withColumn("n_tok", TextAnalysis.tokenCount(col("redacted")))
        .orderBy(col("doc_id"))
    },

    // ── per-doc top-3 TF-IDF terms (rank by integer tf so row selection
    //    can't flip on a libm ulp; the ln-based score is output-only) ─────
    "pipe_text_tfidf" -> Q("""
      |WITH tok AS (SELECT doc_id AS id,
      |             unnest(string_split_regex(text, '\s+')) AS term
      |             FROM documents),
      |tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(DISTINCT id) AS dfq FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT id, tf.term AS term, tf,
      |         round(tf * (ln((n_docs + 1.0) / (dfq + 1.0)) + 1) + 1e-9, 4)
      |           AS score,
      |         row_number() OVER (PARTITION BY id
      |                            ORDER BY tf DESC, tf.term) AS rn
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
      |SELECT id AS doc_id, term, CAST(tf AS BIGINT) AS tf, score
      |FROM scored WHERE rn <= 3 ORDER BY doc_id, term""") { (s, d) =>
      TextAnalysis.tfIdfTopTerms(
          Engine.table(s, d, "documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("term"))
    },

    // ── CCNet-style n-gram LM quality score: Laplace-smoothed bigram
    //    model trained on the even-doc_id half, each odd-doc_id doc
    //    scored by per-bigram cross-entropy — every P(w2|w1) is a ratio
    //    of INTEGER counts (identical doubles both engines); ln + the
    //    rounded mean follow the tfidf fp convention ───────────────────
    "pipe_text_crossentropy" -> Q("""
      |WITH words AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |                             t -> t <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM words, LATERAL unnest(generate_series(1, CAST(len(ws) AS INT) - 1)) AS t(i)),
      |train AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM train GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS n1 FROM train GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM train),
      |ev AS (
      |  SELECT b.doc_id,
      |         ln((coalesce(c12.n12, 0) + 1.0)
      |            / (coalesce(c1.n1, 0) + v.v)) AS lp
      |  FROM bg b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |            LEFT JOIN c1 ON b.w1 = c1.w1
      |            CROSS JOIN v
      |  WHERE b.doc_id % 2 = 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(-sum(lp) / count(*) + 1e-9, 4) AS xent
      |FROM ev GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      TextAnalysis.crossEntropyScore(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // ── CCNet tail composition (r13): perplexity TERCILES over the
    //    scored half (thresholds = discrete-rank values from the 4-dp
    //    xent CDF — integer arithmetic, no interpolation, no global
    //    sort) then the deterministic 3:2:1 per-bucket quota sample
    //    (md5-ranked, downsample-only). The oracle replays the WHOLE
    //    chain: LM counts, per-doc xent, CDF thresholds, labels,
    //    quotas, ranked selection ──────────────────────────────────────
    "pipe_quality_buckets" -> Q("""
      |WITH words AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |                             t -> t <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM words, LATERAL unnest(generate_series(1, CAST(len(ws) AS INT) - 1)) AS t(i)),
      |train AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM train GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS n1 FROM train GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM train),
      |ev AS (
      |  SELECT b.doc_id,
      |         ln((coalesce(c12.n12, 0) + 1.0)
      |            / (coalesce(c1.n1, 0) + v.v)) AS lp
      |  FROM bg b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |            LEFT JOIN c1 ON b.w1 = c1.w1
      |            CROSS JOIN v
      |  WHERE b.doc_id % 2 = 1),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |         round(-sum(lp) / count(*) + 1e-9, 4) AS xent
      |  FROM ev GROUP BY doc_id),
      |nn AS (SELECT count(*) AS n FROM sc),
      |cd AS (SELECT xent, sum(count(*)) OVER (ORDER BY xent) AS cum
      |       FROM sc GROUP BY xent),
      |th AS (SELECT
      |  (SELECT min(xent) FROM cd, nn WHERE cd.cum >= (nn.n + 2) // 3) AS t1,
      |  (SELECT min(xent) FROM cd, nn WHERE cd.cum >= (2 * nn.n + 2) // 3) AS t2),
      |lab AS (
      |  SELECT sc.doc_id, sc.n_bigrams, sc.xent,
      |         CASE WHEN sc.xent <= th.t1 THEN 'head'
      |              WHEN sc.xent <= th.t2 THEN 'middle'
      |              ELSE 'tail' END AS bucket
      |  FROM sc, th),
      |c AS (SELECT bucket, count(*) AS n FROM lab GROUP BY bucket),
      |tw(bucket, w) AS (VALUES ('head', 3), ('middle', 2), ('tail', 1)),
      |tot AS (SELECT min(n * 6 // w) AS total FROM c JOIN tw USING (bucket)),
      |q AS (SELECT tw.bucket, tot.total * tw.w // 6 AS quota FROM tw, tot),
      |r AS (SELECT doc_id, n_bigrams, xent, bucket,
      |        row_number() OVER (PARTITION BY bucket
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM lab)
      |SELECT r.bucket, r.doc_id, r.n_bigrams, r.xent
      |FROM r JOIN q ON r.bucket = q.bucket
      |WHERE r.rk <= q.quota
      |ORDER BY r.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      TextAnalysis.ccnetSample(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .select(col("bucket"), col("doc_id"), col("n_bigrams"), col("xent"))
        .orderBy(col("doc_id"))
    },

    // ── LM DISTILLATION (r13, DCLM/FineWeb shape): the expensive
    //    teacher (CCNet perplexity terciles, LM on evens → buckets on
    //    odds) labels a sample; a multiclass hashed-NB student learns
    //    to reproduce it (train = odd doc_id % 4 = 1) and scores the
    //    held-out quarter MAP-SIDE (three GatherSum folds in one scan
    //    pass). The oracle replays EVERYTHING: LM counts, thresholds,
    //    labels, per-class bucket counts, weights, priors, scores,
    //    and the >=-chain argmax — no shipped literals. Learnability
    //    measured before shipping (SCALE.md "Quality — LM
    //    distillation"): 0.480 vs majority 0.341 at sf0.1; sf0.01's
    //    125-doc sample reads chance, which the spec documents rather
    //    than hides ───────────────────────────────────────────────────
    "pipe_quality_distill" -> Q("""
      |WITH words AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |                             t -> t <> '') AS ws
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM words, LATERAL unnest(generate_series(1, CAST(len(ws) AS INT) - 1)) AS t(i)),
      |tr AS (SELECT w1, w2 FROM bg WHERE doc_id % 2 = 0),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM tr GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS n1 FROM tr GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM tr),
      |ev AS (
      |  SELECT b.doc_id,
      |         ln((coalesce(c12.n12, 0) + 1.0)
      |            / (coalesce(c1.n1, 0) + v.v)) AS lp
      |  FROM bg b LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      |            LEFT JOIN c1 ON b.w1 = c1.w1
      |            CROSS JOIN v
      |  WHERE b.doc_id % 2 = 1),
      |sc AS (
      |  SELECT doc_id, round(-sum(lp) / count(*) + 1e-9, 4) AS xent
      |  FROM ev GROUP BY doc_id),
      |nn AS (SELECT count(*) AS n FROM sc),
      |cd AS (SELECT xent, sum(count(*)) OVER (ORDER BY xent) AS cum
      |       FROM sc GROUP BY xent),
      |th AS (SELECT
      |  (SELECT min(xent) FROM cd, nn WHERE cd.cum >= (nn.n + 2) // 3) AS t1,
      |  (SELECT min(xent) FROM cd, nn WHERE cd.cum >= (2 * nn.n + 2) // 3) AS t2),
      |lab AS (
      |  SELECT sc.doc_id,
      |         CASE WHEN sc.xent <= th.t1 THEN 'head'
      |              WHEN sc.xent <= th.t2 THEN 'middle'
      |              ELSE 'tail' END AS bucket
      |  FROM sc, th),
      |whs AS (
      |  SELECT doc_id,
      |         list_transform(ws, t ->
      |           list_reduce(list_transform(string_split_regex(t, ''),
      |                         c -> CAST(unicode(c) AS BIGINT)),
      |                       (acc, cp) -> (acc * 131 + cp) % 1000000007)) AS wh
      |  FROM words),
      |feats AS (
      |  SELECT doc_id,
      |         list_concat(
      |           list_transform(wh, h -> h % 1024),
      |           list_transform(generate_series(1, CAST(len(wh) AS INT) - 1),
      |             i -> ((wh[i] * 131 + wh[i + 1]) % 1000000007) % 1024)) AS fb
      |  FROM whs),
      |trainf AS (
      |  SELECT f.doc_id, unnest(f.fb) AS b, l.bucket
      |  FROM feats f JOIN lab l ON f.doc_id = l.doc_id
      |  WHERE f.doc_id % 4 = 1),
      |cnt AS (
      |  SELECT b, sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS nh,
      |         sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS nm,
      |         sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS nt
      |  FROM trainf GROUP BY b),
      |tot AS (SELECT sum(nh) AS th_, sum(nm) AS tm_, sum(nt) AS tt_ FROM cnt),
      |wts AS (
      |  SELECT b, ln((nh + 1.0) / (th_ + 1024.0)) AS wh_,
      |         ln((nm + 1.0) / (tm_ + 1024.0)) AS wm_,
      |         ln((nt + 1.0) / (tt_ + 1024.0)) AS wt_
      |  FROM cnt CROSS JOIN tot),
      |wdef AS (
      |  SELECT ln(1.0 / (th_ + 1024.0)) AS wh_,
      |         ln(1.0 / (tm_ + 1024.0)) AS wm_,
      |         ln(1.0 / (tt_ + 1024.0)) AS wt_
      |  FROM tot),
      |docs_c AS (SELECT bucket, count(*) AS n FROM lab
      |           WHERE doc_id % 4 = 1 GROUP BY bucket),
      |totd AS (SELECT sum(n) AS t FROM docs_c),
      |pri AS (SELECT
      |  ln(((SELECT coalesce(max(n), 0) FROM docs_c WHERE bucket = 'head')
      |      + 1.0) / (totd.t + 3.0)) AS ph,
      |  ln(((SELECT coalesce(max(n), 0) FROM docs_c WHERE bucket = 'middle')
      |      + 1.0) / (totd.t + 3.0)) AS pm,
      |  ln(((SELECT coalesce(max(n), 0) FROM docs_c WHERE bucket = 'tail')
      |      + 1.0) / (totd.t + 3.0)) AS pt
      |  FROM totd),
      |evalf AS (SELECT doc_id, unnest(fb) AS b FROM feats WHERE doc_id % 4 = 3),
      |ssum AS (
      |  SELECT e.doc_id, count(*) AS n_feats,
      |         sum(coalesce(w.wh_, d.wh_)) AS sh,
      |         sum(coalesce(w.wm_, d.wm_)) AS sm,
      |         sum(coalesce(w.wt_, d.wt_)) AS st
      |  FROM evalf e LEFT JOIN wts w ON e.b = w.b CROSS JOIN wdef d
      |  GROUP BY e.doc_id),
      |scores AS (
      |  SELECT l.doc_id, CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
      |         round(coalesce(s.sh, 0) + pri.ph + 1e-9, 4) AS s_head,
      |         round(coalesce(s.sm, 0) + pri.pm + 1e-9, 4) AS s_middle,
      |         round(coalesce(s.st, 0) + pri.pt + 1e-9, 4) AS s_tail,
      |         l.bucket
      |  FROM lab l LEFT JOIN ssum s ON l.doc_id = s.doc_id CROSS JOIN pri
      |  WHERE l.doc_id % 4 = 3)
      |SELECT doc_id, n_feats, s_head, s_middle, s_tail,
      |       CASE WHEN s_head >= s_middle AND s_head >= s_tail THEN 'head'
      |            WHEN s_middle >= s_tail THEN 'middle'
      |            ELSE 'tail' END AS pred,
      |       bucket
      |FROM scores ORDER BY doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val classes = Seq("head", "middle", "tail")
      // materialize the teacher-labeled slice ONCE (r15, r14 verdict #3 —
      // the ngram disease): `labeled` re-joined the scored checkpoint
      // against the documents scan in EVERY consumer — the two training
      // collects, the score-side filter, and the final bucket join (two
      // subtrees of one plan; Spark does no DAG-level CSE) each re-ran
      // the scan+join
      val labeled = graft.pipeline.Materialize.checkpoint(
        TextAnalysis.perplexityBuckets(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
          .join(docs, "doc_id")
          .select(col("doc_id"), col("text"), col("bucket")))
      val (w, p) = graft.pipeline.Classifier.trainLogOddsMulti(
        labeled.filter(col("doc_id") % 4 === 1), "text", "bucket",
        classes, d = 1024)
      graft.pipeline.Classifier.scoreMulti(
          labeled.filter(col("doc_id") % 4 === 3), "doc_id", "text",
          classes, w, p)
        .join(labeled.select(col("doc_id"), col("bucket")), "doc_id")
        .select(col("doc_id"), col("n_feats"), col("s_head"),
          col("s_middle"), col("s_tail"), col("pred"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ── LM distillation + FIXED-POINT SOFTMAX REFINEMENT (r14, the
    //    r13 verdict's #4): the multiclass student no longer stops at
    //    closed-form NB — its quantized weights seed 5 unrolled
    //    full-batch softmax-GD iterations in 2^20/2^24 fixed point
    //    (every cross-engine accumulation an integer sum, softmax
    //    under max-subtraction so every exp argument is an exact
    //    dyadic ≤ 0). The oracle replays the ENTIRE chain: teacher LM,
    //    tercile labels, NB init, quantization, all 5 GD iterations,
    //    refined scores, argmax — no shipped literals. Learnability
    //    and the refinement gain measured BEFORE pinning (r14: SCALE.md
    //    "Quality — LM distillation"). ─────────────────────────────────
    "pipe_quality_distill_refined" -> Q(
        distillRefineSqlDuck(iters = 5, lr = "0.05")) { (s, d) =>
      val docs = Engine.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val classes = Seq("head", "middle", "tail")
      // same one-materialization rationale as pipe_quality_distill (r15)
      val labeled = graft.pipeline.Materialize.checkpoint(
        TextAnalysis.perplexityBuckets(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
          .join(docs, "doc_id")
          .select(col("doc_id"), col("text"), col("bucket")))
      val train = labeled.filter(col("doc_id") % 4 === 1)
      // ONE featurization pass shared by NB-init and the 5-iteration
      // softmax loop (r15) — same rationale as classifier_sgd
      val feats = Materialize.checkpoint(
        Classifier.featurizeMulti(train, "text", "bucket", d = 1024))
      val (w, p) = Classifier.trainLogOddsMultiFeats(
        feats, classes, d = 1024)
      val (wq0, bq0) = graft.pipeline.Classifier.quantizeMulti(w, p)
      val (wq, bq) = Classifier.trainSoftmaxFixedFeats(
        feats, classes, wq0, bq0, iters = 5, lr = 0.05)
      GraftSqlShim.unpersistLocalCheckpoint(feats)
      graft.pipeline.Classifier.scoreMultiFixed(
          labeled.filter(col("doc_id") % 4 === 3), "doc_id", "text",
          classes, wq, bq)
        .join(labeled.select(col("doc_id"), col("bucket")), "doc_id")
        .select(col("doc_id"), col("n_feats"), col("s_head"),
          col("s_middle"), col("s_tail"), col("pred"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // ── hashed linear quality classifier (fastText shape, r11 verdict
    //    #3): naive-Bayes log-odds over hashed word uni+bigrams (d=1024,
    //    portable codepoint hash), trained on the even-doc_id half with
    //    a deterministic label, scoring the odd half MAP-SIDE via the
    //    HashedBuckets+GatherSum kernels with the driver-trained weight
    //    vector as a literal. Label choice: the synthetic corpus's only
    //    text-learnable structure is word frequency (the `lang` column
    //    is uncorrelated with the shared vocabulary — measured r12), so
    //    the label is "token 'spark' occurs ≥ 2 times": balanced at
    //    both SFs (47%/51%), SQL-replayable, and a genuine count-
    //    threshold aggregation rather than one feature echoed back
    //    (held-out accuracy 0.70/0.79 vs 0.53/0.51 majority). The
    //    oracle replays the ENTIRE computation — buckets, counts,
    //    weights, prior, scores — no shipped literals needed; per-doc
    //    fp sum order differs between engines (array-order fold vs
    //    GROUP BY), handled by the tfIdf rounding convention ───────────
    "pipe_text_classifier" -> Q("""
      |WITH ws AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
      |                     t -> t <> '') AS ws,
      |         CASE WHEN len(list_filter(
      |                string_split_regex(coalesce(text, ''), '\s+'),
      |                t -> t = 'spark')) >= 2
      |              THEN 1 ELSE 0 END AS label
      |  FROM documents),
      |wh AS (
      |  SELECT doc_id, label,
      |         list_transform(ws, t ->
      |           list_reduce(list_transform(string_split_regex(t, ''),
      |                         c -> CAST(unicode(c) AS BIGINT)),
      |                       (acc, cp) -> (acc * 131 + cp) % 1000000007)) AS wh
      |  FROM ws),
      |feats AS (
      |  SELECT doc_id, label,
      |         list_concat(
      |           list_transform(wh, h -> h % 1024),
      |           list_transform(generate_series(1, CAST(len(wh) AS INT) - 1),
      |             i -> ((wh[i] * 131 + wh[i + 1]) % 1000000007) % 1024)) AS fb
      |  FROM wh),
      |trainf AS (SELECT unnest(fb) AS b, label FROM feats WHERE doc_id % 2 = 0),
      |cnt AS (
      |  SELECT b, sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n0
      |  FROM trainf GROUP BY b),
      |tot AS (SELECT sum(n1) AS t1, sum(n0) AS t0 FROM cnt),
      |wts AS (
      |  SELECT b, ln((n1 + 1.0) / (t1 + 1024.0))
      |           - ln((n0 + 1.0) / (t0 + 1024.0)) AS w
      |  FROM cnt CROSS JOIN tot),
      |wdef AS (SELECT ln(1.0 / (t1 + 1024.0)) - ln(1.0 / (t0 + 1024.0)) AS w
      |         FROM tot),
      |prior AS (
      |  SELECT ln((sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 1.0)
      |            / (sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + 1.0)) AS bias
      |  FROM ws WHERE doc_id % 2 = 0),
      |evalf AS (SELECT doc_id, unnest(fb) AS b FROM feats WHERE doc_id % 2 = 1),
      |scores AS (
      |  SELECT e.doc_id, count(*) AS n_feats, sum(coalesce(wts.w, wdef.w)) AS s
      |  FROM evalf e LEFT JOIN wts ON e.b = wts.b CROSS JOIN wdef
      |  GROUP BY e.doc_id)
      |SELECT f.doc_id,
      |       CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
      |       round(coalesce(sc.s, 0) + prior.bias + 1e-9, 4) AS score,
      |       CAST(round(coalesce(sc.s, 0) + prior.bias + 1e-9, 4) > 0 AS INT) AS pred
      |FROM feats f LEFT JOIN scores sc ON f.doc_id = sc.doc_id
      |CROSS JOIN prior
      |WHERE f.doc_id % 2 = 1
      |ORDER BY f.doc_id""") { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      // label coalesces text like the oracle's ws CTE (r13 ADVICE):
      // NULL text must yield label 0 on BOTH engines, not a NULL label
      // Spark-side (which trainLogOdds now rejects)
      val labeled = docs.withColumn("label",
        (size(filter(split(coalesce(col("text"), lit("")), "\\s+"),
          t => t === "spark")) >= 2).cast("int"))
      val (w, b) = graft.pipeline.Classifier.trainLogOdds(
        labeled.filter(col("doc_id") % 2 === 0), "text", "label", d = 1024)
      graft.pipeline.Classifier.score(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          w.toSeq, b)
        .select(col("doc_id"), col("n_feats"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    },

    // ── DETERMINISTIC distributed logistic training (r12): NB-init
    //    quantized to a 2^20 fixed-point grid, then 10 unrolled
    //    full-batch GD iterations where scores, error terms (2^24ths)
    //    and gradients are all INTEGER sums — order-independent, so
    //    training is bit-reproducible under any partitioning and the
    //    oracle replays the WHOLE optimization, not just inference
    //    (measured: held-out acc 0.70 → 0.74, train loss 0.170 → 0.132
    //    at sf0.01). One Spark job per iteration (bias gradient rides
    //    as sentinel bucket −1); the final fixed-point score is an
    //    integer sum — NO fp-order caveat; half-boundary ties (dyadic
    //    values can hit them) round away from zero on both engines ─────
    "pipe_text_classifier_sgd" -> Q(
      classifierSgdSqlDuck(10, "CAST(0.05 AS DOUBLE)")) { (s, d) =>
      val docs = Engine.table(s, d, "documents")
      // same NULL-text → label 0 convention as the NB query above
      val labeled = docs.withColumn("label",
        (size(filter(split(coalesce(col("text"), lit("")), "\\s+"),
          t => t === "spark")) >= 2).cast("int"))
      val trainDf = labeled.filter(col("doc_id") % 2 === 0)
      // ONE featurization pass shared by NB-init and the 10-iteration GD
      // loop (r15): the old chain ran the buckets kernel over the train
      // half twice (exploded NB counts + the loop's persist). Same
      // values by construction; released once training is done.
      val feats = Materialize.checkpoint(
        Classifier.featurizeBinary(trainDf, "text", "label", d = 1024))
      val (w, b) = Classifier.trainLogOddsFeats(feats, d = 1024)
      val (wq0, bq0) = graft.pipeline.Classifier.quantize(w, b)
      val (wqK, bqK) = Classifier.trainLogisticFixedFeats(
        feats, wq0, bq0, iters = 10, lr = 0.05)
      GraftSqlShim.unpersistLocalCheckpoint(feats)
      graft.pipeline.Classifier.scoreFixed(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          wqK.toSeq, bqK)
        .select(col("doc_id"), col("n_feats"), col("score"), col("pred"))
        .orderBy(col("doc_id"))
    },

    // ── symmetric int8 embedding quantization (IEEE mul/div/round only —
    //    bit-identical across engines; string-joined for the flat-output
    //    comparator) ────────────────────────────────────────────────────────
    "pipe_embed_quantize" -> Q("""
      |SELECT vec_id,
      |       coalesce(array_to_string(list_transform(embedding,
      |         x -> CAST(round(CAST(x AS DOUBLE) * 127 / greatest(
      |                list_max(list_transform(embedding,
      |                  y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS INT)),
      |         ','), '') AS q
      |FROM embeddings ORDER BY vec_id""") { (s, d) =>
      Engine.table(s, d, "embeddings")
        .select(col("vec_id"),
          // coalesce matches the oracle's: a NULL embedding must compare
          // as '' on both engines (DuckDB array_to_string of NULL is NULL)
          coalesce(
            array_join(Similarity.quantizeInt8(col("embedding")), ","),
            lit("")).as("q"))
        .orderBy(col("vec_id"))
    },

    // ── in-document repetition (Gopher-rule family): dup word/3-gram
    //    occurrence fractions + longest same-word run; the oracle's run
    //    length is the gaps-and-islands window idiom over unnested
    //    words, the Spark side is one aggregate() fold ──────────────────
    "pipe_text_repetition" -> Q("""
      |WITH w AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') ws FROM documents),
      |wpos AS (
      |  SELECT doc_id, unnest(ws) AS word,
      |         generate_subscripts(ws, 1) AS i FROM w),
      |grps AS (
      |  SELECT doc_id, word,
      |         i - row_number() OVER (PARTITION BY doc_id, word
      |                                ORDER BY i) AS grp
      |  FROM wpos),
      |runs AS (
      |  SELECT doc_id, word, grp, count(*) AS run_len
      |  FROM grps GROUP BY doc_id, word, grp),
      |max_run AS (
      |  SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run
      |  FROM runs GROUP BY doc_id)
      |SELECT w.doc_id,
      |       round(1.0 - len(list_distinct(ws)) * 1.0 / len(ws), 4)
      |         AS dup_word_frac,
      |       round(1.0 - len(list_distinct(list_transform(
      |                 generate_series(1, greatest(len(ws) - 2, 1)),
      |                 i -> array_to_string(ws[i:i+2], ' ')))) * 1.0
      |             / greatest(len(ws) - 2, 1), 4) AS dup_3gram_frac,
      |       max_run
      |FROM w JOIN max_run ON w.doc_id = max_run.doc_id
      |ORDER BY w.doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.dupWordFrac(col("text")).as("dup_word_frac"),
          TextAnalysis.dupNgramFrac(col("text"), 3).as("dup_3gram_frac"),
          TextAnalysis.maxWordRun(col("text")).as("max_run"))
        .orderBy(col("doc_id"))
    },

    // ── text statistics: tokens / bpe-ish / quality / md5 fingerprint ────
    "pipe_text_stats" -> Q("""
      |SELECT doc_id,
      |       CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |       CAST(len(regexp_extract_all(text,
      |            '[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
      |       round(least(length(text) / 400.0, 1.0) * 0.3
      |         + greatest(1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
      |                    * 1.0 / greatest(length(text), 1) * 10.0, 0.0) * 0.3
      |         + least(len(list_filter(string_split_regex(text, '\s+'),
      |             w -> list_contains(['the','and','of','to','a','in','is','it','that','for'], w)))
      |             * 1.0 / greatest(len(string_split_regex(text, '\s+')), 1) * 5.0,
      |             1.0) * 0.2
      |         + CASE WHEN length(text) * 1.0
      |                     / greatest(len(string_split_regex(text, '\s+')), 1)
      |                     BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END * 0.2
      |         + 0.000000001, 4) AS quality,
      |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
          TextAnalysis.qualityScore(col("text"),
            TextAnalysis.langDicts.head._2).as("quality"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // ── dictionary language-ID (argmax with deterministic tie-break) ─────
    "pipe_text_langid" -> Q("""
      |WITH s AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(ws, w -> list_contains(['the','and','of','to','a','in','is','it','that','for'], w))) s_en,
      |    len(list_filter(ws, w -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit','den'], w))) s_de,
      |    len(list_filter(ws, w -> list_contains(['el','la','de','que','y','en','un','es','no','por'], w))) s_es,
      |    len(list_filter(ws, w -> list_contains(['le','la','et','les','des','un','une','est','que','pour'], w))) s_fr,
      |    len(list_filter(ws, w -> list_contains(['的','是','不','了','在','人','有','我','他','这'], w))) s_zh
      |  FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') ws
      |        FROM documents))
      |SELECT doc_id, lang AS actual,
      |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted,
      |  CAST(greatest(s_en, s_de, s_es, s_fr, s_zh) AS BIGINT) AS score
      |FROM s ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"), col("lang").as("actual"),
          TextAnalysis.langId(col("text")).as("lid"))
        .select(col("doc_id"), col("actual"),
          col("lid").getField("lang").as("predicted"),
          col("lid").getField("score").as("score"))
        .orderBy(col("doc_id"))
    },

    // ── rolling-hash fingerprint — production kernels, adjudicated ───────
    // The xxhash64-seeded RollingFpXx / SimHash63 codegen kernels run in
    // the query but their raw values are engine-private; what the oracle
    // adjudicates (r6 verdict #2) is (a) the exact token count, (b) the
    // portable-polynomial fingerprint DuckDB recomputes bit-for-bit, and
    // (c) a per-run re-assertion that each production kernel equals its
    // interpreted HOF spec on every row (the OperatorSpec equivalence,
    // executed inside the gated query itself).
    "pipe_text_rolling_fp" -> Q("""
      |SELECT doc_id,
      |       CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
      |       CASE WHEN len(ws) = 0 THEN 0 ELSE
      |         list_reduce(
      |           list_transform(ws,
      |             w -> list_reduce(
      |                    list_transform(string_split_regex(w, ''),
      |                      c -> CAST(unicode(c) AS BIGINT)),
      |                    (acc, cp) -> (acc * 131 + cp) % 1000000007)),
      |           (acc, h) -> (acc * 31 + h) % 1000000007)
      |       END AS portable_fp,
      |       true AS kernels_match_spec
      |FROM (SELECT doc_id, text,
      |             list_filter(string_split_regex(text, '\s+'),
      |                         w -> w <> '') AS ws
      |      FROM documents)
      |ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.fingerprintPortable(col("text")).as("portable_fp"),
          Dedup.tokenHashes(col("text")).as("hs"))
        .select(col("doc_id"), col("n_tokens"), col("portable_fp"),
          ((TextAnalysis.fingerprintRolling(col("text"))
              === TextAnalysis.fingerprintRollingHof(col("text"))) &&
           (graft.functions.Sketches.simhash63(col("hs"))
              === Dedup.simhashFromHashes(col("hs"))))
            .as("kernels_match_spec"))
        .orderBy(col("doc_id"))
    },

    // ── portable rolling fingerprint (oracled: codepoint polynomial the
    //    oracle recomputes with list_reduce/unicode — the xxhash64-seeded
    //    production variant stays in pipe_text_rolling_fp) ───────────────
    "pipe_text_fingerprint" -> Q("""
      |SELECT doc_id,
      |  CASE WHEN len(ws) = 0 THEN 0 ELSE
      |    list_reduce(
      |      list_transform(ws,
      |        w -> list_reduce(
      |               list_transform(string_split_regex(w, ''),
      |                 c -> CAST(unicode(c) AS BIGINT)),
      |               (acc, cp) -> (acc * 131 + cp) % 1000000007)),
      |      (acc, h) -> (acc * 31 + h) % 1000000007)
      |  END AS fp
      |FROM (SELECT doc_id,
      |             list_filter(string_split_regex(text, '\s+'),
      |                         w -> w <> '') AS ws
      |      FROM documents)
      |ORDER BY doc_id""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintPortable(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },

    // ── multimodal decode plumbing (stubbed codec, real dataflow) ────────
    // ── heavy-hitter tokens: explode → two-phase count → top-20 ─────────
    // (the exact corpus-frequency shape; at 100 TB the map-side partial
    //  count keeps the shuffle ∝ vocabulary, not token count)
    "pipe_text_top_tokens" -> Q("""
      |SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token
      |      FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""") { (s, d) =>
      Engine.table(s, d, "documents")
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    },

    // ── custom table function (UDTF tier — reference register_udtf,
    //    core/src/datasource/function.rs): graft_ngrams Generator via
    //    LATERAL VIEW, vs DuckDB unnest of the same shingle list ────────
    // (pos is emitted by the generator but excluded from the compare:
    //  DuckDB's list_distinct does not preserve first-occurrence order —
    //  the position semantics are covered by the posexplode-equivalence
    //  test in OperatorSpec instead)
    "udtf_ngrams" -> Q(s"""
      |WITH sh0 AS (SELECT * FROM ($shingleSqlDuck) WHERE doc_id < 50)
      |SELECT doc_id, unnest(sh) AS shingle
      |FROM sh0 ORDER BY doc_id, shingle""") { (s, d) =>
      Engine.registerAll(s, d)
      s.sql("""SELECT doc_id, shingle FROM documents
              |LATERAL VIEW graft_ngrams(text, 3) t AS pos, shingle
              |WHERE doc_id < 50 ORDER BY doc_id, shingle""".stripMargin)
    },

    // ── multimodal decode plumbing, fully oracled: DuckDB rebuilds the
    //    synthetic payload (8 concatenated md5 hex chunks), re-derives
    //    the byte values from hex pairs, and replays the stub decoder's
    //    modular fold (list_reduce's first-element init == Spark's
    //    aggregate from 0, since (0*31+b)%P = b) ────────────────────────
    "pipe_multimodal" -> Q("""
      |WITH media AS (
      |  SELECT doc_id,
      |         md5(CAST(doc_id AS VARCHAR) || '_chunk0')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk1')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk2')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk3')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk4')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk5')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk6')
      |      || md5(CAST(doc_id AS VARCHAR) || '_chunk7') AS hexstr,
      |         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |              ELSE 'wav' END AS format,
      |         (doc_id % 64) * 16 + 64 AS width,
      |         (doc_id % 48) * 16 + 64 AS height
      |  FROM documents),
      |dec AS (
      |  SELECT format, width, height,
      |         list_reduce(
      |           list_transform(generate_series(1, len(hexstr) // 2),
      |             i -> CAST((unicode(substr(hexstr, 2*i-1, 1))
      |                   - CASE WHEN substr(hexstr, 2*i-1, 1) <= '9'
      |                          THEN 48 ELSE 87 END) * 16
      |                + (unicode(substr(hexstr, 2*i, 1))
      |                   - CASE WHEN substr(hexstr, 2*i, 1) <= '9'
      |                          THEN 48 ELSE 87 END) AS BIGINT)),
      |           (acc, b) -> (acc * 31 + b) % 1000000007) AS acc
      |  FROM media)
      |SELECT format, count(*) AS n,
      |       round(avg((acc % 1000000) / 1000000.0) + 1e-9, 4) AS avg_brightness,
      |       max(width) AS max_w, max(height) AS max_h
      |FROM dec GROUP BY format ORDER BY format""") { (s, d) =>
      Multimodal.featureSummary(Engine.table(s, d, "documents"))
    },

    // ── REAL codec roundtrip (javax.imageio): render deterministic
    //    grayscale rasters, encode PNG/BMP, decode through the actual
    //    codecs, measure pixel stats. The oracle recomputes the expected
    //    luminance sums directly from the pixel formula
    //    g(x,y) = (id*31 + 7x + 13y) mod 256 — all-integer, so any
    //    lossy or corrupt roundtrip breaks the match exactly ─────────────
    "pipe_multimodal_decode" -> Q("""
      |WITH px AS (
      |  SELECT d.doc_id,
      |         CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
      |         1 + d.doc_id % 8 AS w, 1 + d.doc_id % 6 AS h, x.x, y.y,
      |         (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS g
      |  FROM documents d
      |  JOIN generate_series(0, 7) x(x) ON x.x < 1 + d.doc_id % 8
      |  JOIN generate_series(0, 5) y(y) ON y.y < 1 + d.doc_id % 6)
      |SELECT format, count(DISTINCT doc_id) AS n,
      |       count(*) AS n_px,
      |       CAST(sum(g) AS BIGINT) AS lum_sum,
      |       CAST(max(w) AS BIGINT) AS max_w,
      |       CAST(max(h) AS BIGINT) AS max_h
      |FROM px GROUP BY format ORDER BY format""") { (s, d) =>
      // repartition the SLIM id rows to full width BEFORE the encode
      // (r14, guide §8: move the exchange to where rows are smallest):
      // the parquet scan is 1-4 partitions, so encode ran near-serial
      // and the old mid-pipeline repartition(8) capped the CPU-bound
      // codec stages at 8 of 32 cores; encode→decode now chain in one
      // full-width stage with zero payload shuffles
      val media = Multimodal.encodeImages(
        Engine.table(s, d, "documents").select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id")
      Multimodal.decodeImageFeatures(media).toDF()
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_px")).as("n_px"),
          sum(col("lum_sum")).as("lum_sum"),
          max(col("width")).cast("long").as("max_w"),
          max(col("height")).cast("long").as("max_h"))
        .orderBy(col("format"))
    },

    // ── REAL image resize roundtrip (r13, retires the resize stub):
    //    encode → nearest-neighbor resample to 4×3 with the EXACT
    //    integer mapping src = ⌊dst·srcDim/dstDim⌋ → re-encode in the
    //    sniffed format → decode again. Per-doc pixel stats must equal
    //    the oracle's recomputation from the id formula alone —
    //    g(⌊X·w/4⌋, ⌊Y·h/3⌋) — so a lossy scaler, an fp-averaging
    //    resample, or a format swap breaks the match exactly ────────────
    "pipe_multimodal_resize" -> Q("""
      |WITH px AS (
      |  SELECT d.doc_id,
      |         CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
      |         (d.doc_id * 31
      |          + ((x.x * (1 + d.doc_id % 8)) // 4) * 7
      |          + ((y.y * (1 + d.doc_id % 6)) // 3) * 13) % 256 AS g
      |  FROM documents d
      |  CROSS JOIN generate_series(0, 3) x(x)
      |  CROSS JOIN generate_series(0, 2) y(y))
      |SELECT doc_id, format,
      |       CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
      |       CAST(count(*) AS BIGINT) AS n_px,
      |       CAST(sum(g) AS BIGINT) AS lum_sum
      |FROM px GROUP BY doc_id, format ORDER BY doc_id""") { (s, d) =>
      // same pre-encode slim-row repartition as pipe_multimodal_decode
      val media = Multimodal.encodeImages(
        Engine.table(s, d, "documents").select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id")
      Multimodal.decodeImageFeatures(
          Multimodal.resizeImages(media, 4, 3)).toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_px"), col("lum_sum"))
        .orderBy(col("doc_id"))
    },

    // ── REAL audio codec roundtrip (javax.sound.sampled WAV): 16-bit
    //    PCM samples are a pure integer function of the id, so the
    //    oracle regenerates every sample with generate_series and must
    //    match the stats measured from the DECODED container bytes ──────
    "pipe_multimodal_audio" -> Q("""
      |WITH s AS (
      |  SELECT d.doc_id, 200 + d.doc_id % 57 AS n,
      |         ((d.doc_id * 2654435761 + i.i * 40503) % 65536) - 32768
      |           AS sample
      |  FROM documents d
      |  JOIN generate_series(0, 256) i(i) ON i.i < 200 + d.doc_id % 57)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |       CAST(count(*) AS BIGINT) AS n_samples,
      |       CAST(sum(abs(sample)) AS BIGINT) AS abs_sum,
      |       CAST(max(abs(sample)) AS BIGINT) AS peak
      |FROM s GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      // same pre-encode slim-row repartition as pipe_multimodal_decode
      val media = Multimodal.encodeAudio(
        Engine.table(s, d, "documents").select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id")
      Multimodal.decodeAudioFeatures(media).toDF()
        .select(col("doc_id"), col("sample_rate").cast("long"),
          col("n_samples"), col("abs_sum"), col("peak"))
        .orderBy(col("doc_id"))
    },

    // ── REAL multi-frame container roundtrip (JDK GIF codec) + frame
    //    sampling: every 2nd frame decoded with exact pixel stats; the
    //    oracle regenerates frames and pixels from the id formula ───────
    "pipe_multimodal_video" -> Q("""
      |WITH fr AS (
      |  SELECT d.doc_id, 2 + d.doc_id % 4 AS n, f.f
      |  FROM documents d
      |  JOIN generate_series(0, 5) f(f)
      |    ON f.f < 2 + d.doc_id % 4 AND f.f % 2 = 0),
      |px AS (
      |  SELECT fr.doc_id, fr.n, fr.f,
      |         (fr.doc_id * 17 + fr.f * 29 + x.x * 7 + y.y * 13) % 256 AS g
      |  FROM fr
      |  JOIN generate_series(0, 3) x(x) ON true
      |  JOIN generate_series(0, 2) y(y) ON true)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
      |       CAST(f AS BIGINT) AS frame_idx,
      |       CAST(sum(g) AS BIGINT) AS lum_sum
      |FROM px GROUP BY doc_id, n, f ORDER BY doc_id, frame_idx""") { (s, d) =>
      // same pre-encode slim-row repartition as pipe_multimodal_decode
      val media = Multimodal.encodeVideo(
        Engine.table(s, d, "documents").select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id")
      Multimodal.decodeVideoFrames(media, everyNth = 2)
        .select(col("doc_id"), col("n_frames").cast("long"),
          col("frame_idx").cast("long"), col("lum_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // ── one-pass data-quality profile (pipeline/Quality): per-column
    //    null/distinct counts + type-appropriate stats, long-format.
    //    exactDistinct here so DuckDB hashes match; the default is HLL
    //    (see Quality scaladoc for the Expand-factor tradeoff). ───────────
    "pipe_quality_report" -> Q({
      def num(c: String) = Seq(
        s"SELECT '$c' AS col_name, 'n_nulls' AS metric, CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS value FROM documents",
        s"SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE) FROM documents",
        s"SELECT '$c', 'min', round(CAST(min($c) AS DOUBLE), 4) FROM documents",
        s"SELECT '$c', 'max', round(CAST(max($c) AS DOUBLE), 4) FROM documents",
        s"SELECT '$c', 'avg', round(avg($c) + 1e-9, 4) FROM documents")
      def str(c: String) = Seq(
        s"SELECT '$c' AS col_name, 'n_nulls' AS metric, CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS value FROM documents",
        s"SELECT '$c', 'n_distinct', CAST(count(DISTINCT $c) AS DOUBLE) FROM documents",
        s"SELECT '$c', 'len_min', CAST(min(length($c)) AS DOUBLE) FROM documents",
        s"SELECT '$c', 'len_max', CAST(max(length($c)) AS DOUBLE) FROM documents",
        s"SELECT '$c', 'len_avg', round(avg(length($c)) + 1e-9, 4) FROM documents")
      (num("doc_id") ++ num("n_chars") ++ str("text") ++ str("lang") ++
        str("source"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL ",
          "\n) ORDER BY col_name, metric")
    }) { (s, d) =>
      Quality.profile(Engine.table(s, d, "documents"),
        Seq("doc_id", "n_chars", "text", "lang", "source"),
        approxDistinct = false)
        .orderBy(col("col_name"), col("metric"))
    }
  )
}
