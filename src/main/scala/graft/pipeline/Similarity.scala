package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline (O(Q·N) — fine when the
  * query set broadcasts); random-hyperplane LSH bucketing is the 100 TB
  * path: signatures are computed map-side from a deterministic projection
  * matrix, candidates meet only inside buckets, and the full N×N product
  * never materializes. The dot products are `zip_with`/`aggregate` lambda
  * expressions — codegen'd, no UDF.
  */
object Similarity {

  /** Cosine similarity of two double arrays — the codegen'd CosineSim
    * expression (functions/SketchExpressions.scala); the session needs
    * GraftExtensions, as every `Engine.session` has. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Sketches.cosine(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Symmetric int8 quantization of an embedding: q_i = round(x_i ·
    * 127 / max|x|) — 4× storage reduction for float vectors (the
    * standard compression step before ANN indexing at scale). The
    * per-vector scale is let-bound via the 1-element wrapper transform
    * (HOF lambdas are not CSE'd — see SCALE.md), so max|x| is computed
    * once per row, not once per element. Only IEEE mul/div/round are
    * used — no libm — so results are bit-identical across engines. */
  def quantizeInt8(vec: Column): Column = {
    val v = asDouble(vec)
    element_at(
      transform(
        array(greatest(array_max(transform(v, x => abs(x))), lit(1e-12))),
        s => transform(v, x => round(x * 127 / s, 0).cast("int"))),
      1)
  }

  /** Exact top-k neighbors for each query vector (brute force).
    * `queries` is expected to be small → broadcast; the big side streams. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), asDouble(col(vecCol)).as("nvec"))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }

  /** Deterministic hyperplane matrix (planes × dim) in [-1, 1], derived
    * driver-side from a splitmix64-style hash of (salt, plane, dim) — the
    * whole matrix ships as a literal (16×64 doubles ≈ 8 KB), so signature
    * evaluation is pure arithmetic, no per-element hashing. */
  private[graft] def planeMatrix(
      salt: Int, planes: Int, dim: Int): Seq[Seq[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Seq.tabulate(planes, dim)((p, j) =>
      (math.floorMod(mix(salt.toLong * 1000003 + p * 1009 + j), 2000001L)
        - 1000000L).toDouble / 1000000.0)
  }

  /** Approximate near-neighbor pairs via banded random-hyperplane LSH
    * on the [[BandJoin.pairs]] core: `rotations` independent
    * `planes`-bit signatures, each cut into `bandBits`-bit bands; pairs
    * colliding in any band are verified by exact cosine ≥ `threshold`
    * (P[found] = 1-(1-p^bandBits)^(bands·rotations), p = 1-θ/π).
    * Vectors are 64-dimensional. Returns (id_a, id_b, cos).
    *
    * SIZE THE BANDS TO THE CORPUS (r9 rehearsal finding): a band has
    * only 2^bandBits buckets and that count does not grow with the
    * corpus, so under fixed parameters the mean bucket holds
    * n/2^bandBits vectors and intra-bucket candidate work grows
    * QUADRATICALLY in n. The 16/4 defaults suit ~10^3-10^4 vectors;
    * PipeScale pinned the negative at 40k vectors (673 s) where 32/8
    * (256 buckets/band, recall ≈ 94% at cos 0.85) is sane. Rule of
    * thumb: pick bandBits ≥ log2(n / 200), then planes = 4·bandBits
    * keeps the per-rotation band count (and thus recall) unchanged. */
  def lshNearPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int = 16, bandBits: Int = 4, rotations: Int = 3,
      threshold: Double = 0.85): DataFrame = {
    require(planes % bandBits == 0, "planes must be divisible by bandBits")
    val bands = planes / bandBits
    val mask = (1L << bandBits) - 1
    val rots = (0 until rotations).map(rot => s"rot$rot")
    // one packed signature per rotation, computed once per vector and
    // checkpointed with it; the band keys only slice them
    val sigs = corpus.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("vec"))
      .select(col("id") +: col("vec") +: rots.zipWithIndex.map {
        case (r, rot) => graft.functions.Sketches.hyperplaneSignature(
          col("vec"), typedlit(planeMatrix(rot, planes, 64))).as(r)
      }: _*)
    BandJoin.pairs(sigs,
      array((for (r <- rots; b <- 0 until bands)
        yield shiftright(col(r), b * bandBits).bitwiseAND(lit(mask))
      ): _*),
      Seq(round(cosine(col("vec_a"), col("vec_b")), 6).as("cos")),
      col("cos") >= threshold, fetch = true, spreadVerify = true)
  }

  /** All pairs (id_a < id_b) with cosine >= threshold, by brute-force
    * broadcast self-join — the O(n²) verification/oracle path (the LSH
    * path above is the scale path; this one exists so approximate
    * results have an exact ground truth to compare against). */
  def exactNearPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
    c.select(col("id").as("id_a"), col("vec").as("va"))
      .crossJoin(broadcast(c.select(col("id").as("id_b"), col("vec").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Index of the centroid (1-based) nearest to `vec` by cosine, given a
    * literal centroid matrix. */
  private def nearestCells(vec: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column =
    graft.functions.Sketches.nearestCellsCos(vec, centroids, nProbe)

  /** IVF sizing rule (the nCells analogue of lshNearPairs' band rule —
    * empirically validated, see SCALE.md "IVF sizing rule" and the
    * PipeScale ANN stage which derives parameters from this function):
    *
    *   nCells = 2^ceil(log2(n / 200)), clamped to [16, 2^16]
    *   nProbe = nCells / 4
    *
    * Why: at a FIXED probe fraction (nProbe/nCells — the per-query cost
    * fraction), measured recall is governed by the ABSOLUTE number of
    * cells, because finer cells conform better to the query's cosine
    * cap. On structureless 64-dim data (the worst case — no cluster
    * structure for the centroids to find) at probe fraction 1/4:
    * 16 cells ≈ 0.45–0.60 recall regardless of n, 256 cells ≈ 0.77,
    * 1024 ≈ 0.84–0.89, 4096 ≈ 0.98 (sampled centroids; +0.1–0.2 more
    * with kmeansIters=2 — 256 cells reaches 0.86–0.94). Target cell
    * size ~200 keeps intra-cell candidate work bounded as n grows —
    * the same quadratic-bucket trap the LSH rule fixes. The 2^16 clamp
    * bounds the broadcast centroid matrix (2^16 × dim doubles ≈ 32 MB
    * at dim 64) and the map-side assignment cost; past the clamp the
    * probe fraction — not granularity — is the remaining recall lever. */
  def ivfParams(n: Long): (Int, Int) = {
    val raw = math.max(1L, n / 200L)
    val h = java.lang.Long.highestOneBit(raw)
    val pow = if (h == raw) raw else h * 2          // 2^ceil(log2(raw))
    val cells = math.max(16L, math.min(1L << 16, pow)).toInt
    (cells, math.max(1, cells / 4))
  }

  /** Unit-normalized copy of a double-array column (norm let-bound via
    * the 1-element transform wrapper — HOF lambdas are not CSE'd). */
  private def unitize(v: Column): Column =
    element_at(
      transform(
        array(greatest(
          sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x)), lit(1e-12))),
        nrm => transform(v, x => x / nrm)),
      1)

  /** `iters` rounds of spherical k-means (Lloyd) refinement over the
    * corpus: assign each unit vector to its nearest centroid (map-side,
    * same kernel as ivfTopK), average per (cell, dimension) — a
    * (nCells×dim)-group aggregate, driver result exactly the size of
    * the centroid matrix we broadcast anyway — and renormalize. Cells
    * that lose all members keep their previous centroid. Each round is
    * one corpus pass; 2 rounds buy +0.1–0.2 recall on structureless
    * data (see ivfParams scaladoc). */
  private def refineCentroids(
      base: DataFrame, init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    var cent = init
    val dim = init.head.size
    val unitVecs = base.select(unitize(col("vec")).as("uvec"))
    for (_ <- 0 until iters) {
      // two selects: a generator (posexplode) in the same projection as
      // the lambda-built scored structs makes ExtractGenerator re-resolve
      // the lambda and drop the struct field aliases (FIELD_NOT_FOUND)
      val means = unitVecs
        .select(col("uvec"),
          element_at(nearestCells(col("uvec"), cent, 1), 1).as("cell"))
        // a malformed vector (null element / wrong dim) gets a NULL
        // cell from the kernel — drop it here or the driver-side
        // getInt on the collected group NPEs (r11 review)
        .filter(col("cell").isNotNull)
        .select(col("cell"), posexplode(col("uvec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val v = new Array[Double](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
          cell -> v.map(_ / n).toSeq
        }
      cent = cent.indices.map(i => means.getOrElse(i + 1, cent(i)))
    }
    cent
  }

  /** `iters` rounds of PLAIN Lloyd refinement by squared L2 — the
    * metric-consistent trainer for [[ivfPqTopK]]'s router: assignment
    * uses nearestCellsL2 on the RAW vectors and the new centroid is the
    * plain per-cell mean (no unit-normalization — the L2 Voronoi
    * optimum), so the training objective matches the routing metric
    * even when corpus norms vary (r10 ADVICE: [[refineCentroids]] is
    * spherical/cosine and is only sound as an L2 router for ~unit-norm
    * corpora). Same cost shape: one corpus pass per round, the driver
    * collects exactly the nCells×dim centroid matrix it broadcasts. */
  private def refineCentroidsL2(
      base: DataFrame, init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    var cent = init
    val dim = init.head.size
    for (_ <- 0 until iters) {
      val means = base
        .select(col("vec"),
          element_at(nearestCellsL2(col("vec"), cent, 1), 1).as("cell"))
        // malformed vectors route to NULL cell — drop before collect
        .filter(col("cell").isNotNull)
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val v = new Array[Double](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          cell -> v.toSeq
        }
      cent = cent.indices.map(i => means.getOrElse(i + 1, cent(i)))
    }
    cent
  }

  /** Squared L2 distance of two double arrays — zip_with/aggregate fold,
    * left-to-right, so both engines (and the DuckDB oracle's
    * list_reduce) produce bit-identical doubles. */
  private[graft] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ code array (m codes, 0-based) for `vec` against literal
    * per-subspace codebooks — the codegen'd PqCodes kernel
    * (functions/SketchExpressions.scala): the interpreted HOF
    * formulation (KernelSpecs.pqCodesHof, src/test) costs m·k nested
    * lambda folds per row and dominated the PipeScale PQ stage ~100×.
    * Bit-identical semantics (ascending-dimension fold, first-min tie)
    * asserted against that spec in PipelineSpec. */
  private def pqCodes(vec: Column, cbs: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.Sketches.pqCodes(vec, cbs)

  /** PQ sizing rule — the (codebook size, rerank factor) analogue of
    * ivfParams/the LSH band rule, validated by PipeScale at ×20/×50
    * (SCALE.md "PQ sizing rule"):
    *
    *   k            = 2^ceil(log2(n / 200)), clamped to [16, 256]
    *   rerankFactor = max(5, ceil(0.01 · n / topk))
    *
    * Why both levers: ADC error per vector is set by quantization
    * granularity and does NOT shrink as the corpus grows, while the
    * number of distractors inside that error band grows ∝ n — fixed
    * parameters therefore COLLAPSE with scale (measured: 0.836 → 0.532
    * recall from ×1 to ×50 at fixed k=64/rerank=5). k follows the same
    * n/200 granularity rule as IVF cells but caps at 256 so codes stay
    * one byte; past the cap the exact-rerank shortlist must hold a
    * ~1% corpus fraction (the 0.01 factor) to out-scale the distractor
    * count — measured recall under the rule: 0.62 at n=2000 (k at the
    * 16 floor), ≥0.95 at 40k/100k. A 1%-of-corpus shortlist per query
    * is the honest WORST-CASE (structureless data) bound for
    * PQ-alone search; at production scale compose with IVF
    * ([[ivfPqTopK]]) — probing divides the ADC candidate VOLUME (the
    * per-query scoring cost) by nProbe/nCells, but the shortlist rule
    * stays sized by the FULL n: router uncertainty adds shortlist
    * pressure on top of the error-band distractors (measured ×20:
    * slice-sized rerank 0.746 vs full-rule 0.840 — SCALE.md "IVF × PQ
    * composition rule"). */
  def pqParams(n: Long, topk: Int): (Int, Int) = {
    val raw = math.max(1L, n / 200L)
    val h = java.lang.Long.highestOneBit(raw)
    val pow = if (h == raw) raw else h * 2
    val k = math.max(16L, math.min(256L, pow)).toInt
    val rer = math.max(5L, math.ceil(0.01 * n / math.max(1, topk)).toLong)
    (k, rer.toInt)
  }

  /** Train product-quantization codebooks: the vector space is split
    * into `m` contiguous subspaces (dim divisible by m); each subspace
    * gets `k` codewords — a deterministic md5-rank sample of the corpus
    * (sliced per subspace; the SAME ranked rows for every k, so
    * codebooks are NESTED: growing k can only shrink reconstruction
    * error), optionally refined by `kmeansIters` rounds of per-subspace
    * Lloyd. Each round is ONE corpus pass: encode map-side, posexplode
    * to (subspace, code, pos, x), one (m·k·sub)-group average — the
    * driver collects exactly the codebook floats it broadcasts anyway
    * (k·dim doubles). Refined codebooks are float-sum
    * order-nondeterministic (same caveat as ivfTopK's kmeansIters);
    * kmeansIters=0 is the oracle-replayable path. */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, kmeansIters: Int = 0): Seq[Seq[Seq[Double]]] = {
    val base = corpus.select(col(idCol).as("id"),
      asDouble(col(vecCol)).as("vec"))
    val sample = base
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k)
      .collect().map(_.getSeq[Double](1).toIndexedSeq)
    val dim = sample.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(sample.length == k, s"corpus smaller than k=$k codewords")
    val sub = dim / m
    var cbs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(j => sample.toSeq.map(_.slice(j * sub, (j + 1) * sub)))
    for (_ <- 0 until kmeansIters) {
      val means = base
        .select(pqCodes(col("vec"), cbs).as("codes"),
          posexplode(col("vec")).as(Seq("p", "x")))
        // malformed vectors yield NULL codes — drop before the
        // driver-side getInt on the collected groups (r11 review)
        .filter(col("codes").isNotNull)
        .select(
          (col("p") / sub).cast("int").as("j"),
          (col("p") % sub).as("spos"),
          element_at(col("codes"), (col("p") / sub).cast("int") + 1).as("code"),
          col("x"))
        .groupBy(col("j"), col("code"), col("spos"))
        .agg(avg(col("x")).as("mu"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((j, code), rows) =>
          val v = new Array[Double](sub)
          rows.foreach(r => v(r.getInt(2)) = r.getDouble(3))
          (j, code) -> v.toSeq
        }
      cbs = cbs.zipWithIndex.map { case (cb, j) =>
        cb.zipWithIndex.map { case (cw, c) => means.getOrElse((j, c), cw) }
      }
    }
    cbs
  }

  /** Encode each corpus vector as `m` small-int codes (one byte each at
    * k ≤ 256) against trained codebooks — 16-64× smaller than the float
    * vector, computed map-side in one pass. The compressed form is what
    * a 100 TB deployment stores and shuffles; originals are fetched
    * only for rerank shortlists. */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    corpus.select(col(idCol).as("id"),
      pqCodes(asDouble(col(vecCol)), codebooks).as("codes"))
  }

  /** PQ/ADC approximate top-k by squared L2, with exact rerank: each
    * query precomputes an m×k lookup table of subspace distances ONCE
    * (the classic asymmetric-distance trick), so scoring a corpus row
    * is m table lookups + adds instead of dim multiplies — and the
    * corpus side carries m BYTES of codes instead of dim floats. The
    * ADC shortlist (topk × rerankFactor, per-query window) joins back
    * to the original vectors for exact rerank, so emitted distances are
    * true L2 and approximation affects only which rows reach the
    * shortlist. Measured on structureless 64-dim data (worst case):
    * m=16, k=64, kmeansIters=3, rerank 5 → recall@10 ≈ 0.85; k=256 →
    * ≈ 0.95 (16 bytes/vector either way). Returns (qid, nid, dist). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topk: Int,
      m: Int = 16, k: Int = 64, kmeansIters: Int = 3,
      rerankFactor: Int = 5): DataFrame = {
    val cbs = pqTrain(corpus, idCol, vecCol, m, k, kmeansIters)
    val sub = cbs.head.head.size
    val cbLit = typedlit(cbs)
    // drop null codes (malformed vectors): NULL adist sorts FIRST under
    // an ascending window and would poison every query's shortlist
    val coded = pqEncode(corpus, idCol, vecCol, codebooks = cbs)
      .select(col("id").as("nid"), col("codes"))
      .filter(col("codes").isNotNull)
    val q = queries.select(col(idCol).as("qid"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), j =>
        element_at(
          transform(array(slice(col("qvec"), j * lit(sub) + 1, lit(sub))),
            sv => transform(sequence(lit(1), lit(cbs.head.size)),
              c => l2sq(sv, element_at(element_at(cbLit, j + 1), c)))),
          1)))
    val adist = aggregate(
      zip_with(col("codes"), sequence(lit(1), lit(m)),
        (code, j) => element_at(element_at(col("lut"), j), code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc_nulls_last, col("nid"))
    val shortlist = coded.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("nid"), adist.as("adist"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= topk * rerankFactor)
      .select(col("qid"), col("qvec"), col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc_nulls_last, col("nid"))
    shortlist
      .join(corpus.select(col(idCol).as("nid"),
        asDouble(col(vecCol)).as("nvec")), "nid")
      .select(col("qid"), col("nid"),
        round(l2sq(col("qvec"), col("nvec")), 6).as("dist"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("nid"), col("dist"))
  }

  /** Index of the centroid (1-based) nearest to `vec` by SQUARED L2,
    * same shape as [[nearestCells]] (ascending array_sort on (dist,
    * cell) structs) — the metric-consistent cell router for the
    * L2-ranked PQ composition. */
  private def nearestCellsL2(vec: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column =
    graft.functions.Sketches.nearestCellsL2(vec, centroids, nProbe)

  /** IVF × PQ composition — the production ANN shape at 100 TB: the
    * corpus is scanned ONCE producing (id, cell, m-byte codes); a query
    * probes its `nProbe` nearest cells and ADC-scores ONLY the codes
    * inside them, so the candidate set is nProbe/nCells of the corpus
    * and the scored payload is bytes, not vectors; the exact-L2 rerank
    * then touches originals only for the per-query shortlist. Size
    * nCells/nProbe with ivfParams and k/rerankFactor with pqParams ON
    * THE FULL CORPUS SIZE: what probing divides is the ADC candidate
    * VOLUME (the per-query cost), NOT the shortlist requirement — the
    * shortlist must still absorb the error-band distractor count that
    * grows with n PLUS the router's own uncertainty (SCALE.md "IVF × PQ
    * composition rule": ×20 at n=40k/256 cells/64 probed, slice-sized
    * rer=5 → recall 0.746, full-corpus rer=14 → 0.840 at the same wall;
    * probe ×2 → 0.880 = the router ceiling). Cells and codes both rank
    * by squared L2, and `kmeansIters` refines the router with PLAIN L2
    * Lloyd (refineCentroidsL2 — +0.05 recall over unrefined samples;
    * the spherical refiner would train a cosine objective the L2 router
    * doesn't rank by). Returns (qid, nid, dist) — exact L2² for every
    * emitted row (approximation gates only shortlist membership). */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, topk: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 16, k: Int = 64, kmeansIters: Int = 2,
      rerankFactor: Int = 5): DataFrame = {
    val base = corpus.select(col(idCol).as("id"),
      asDouble(col(vecCol)).as("vec"))
    val sampled: Seq[Seq[Double]] = base
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nCells)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val centroids =
      if (kmeansIters <= 0) sampled
      // L2 Lloyd, not the spherical refiner: router/ADC/rerank all rank
      // by squared L2, so training must too (r10 ADVICE medium)
      else refineCentroidsL2(base, sampled, kmeansIters)
    val cbs = pqTrain(corpus, idCol, vecCol, m, k, kmeansIters)
    val sub = cbs.head.head.size
    val cbLit = typedlit(cbs)
    // ONE corpus pass: cell + codes, vectors dropped before any shuffle.
    // Null codes (a malformed vector with a null element) are dropped
    // here — NULL adist sorts FIRST under an ascending window order and
    // would otherwise outrank every real candidate (r10 ADVICE).
    val indexed = base.select(col("id").as("nid"),
      element_at(nearestCellsL2(col("vec"), centroids, 1), 1).as("cell"),
      pqCodes(col("vec"), cbs).as("codes"))
      .filter(col("codes").isNotNull)
    val probed = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .withColumn("lut", transform(sequence(lit(0), lit(m - 1)), j =>
        element_at(
          transform(array(slice(col("qvec"), j * lit(sub) + 1, lit(sub))),
            sv => transform(sequence(lit(1), lit(cbs.head.size)),
              c => l2sq(sv, element_at(element_at(cbLit, j + 1), c)))),
          1)))
      .select(col("qid"), col("qvec"), col("lut"),
        explode(nearestCellsL2(col("qvec"), centroids, nProbe)).as("cell"))
    val adist = aggregate(
      zip_with(col("codes"), sequence(lit(1), lit(m)),
        (code, j) => element_at(element_at(col("lut"), j), code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc_nulls_last, col("nid"))
    val shortlist = indexed.join(broadcast(probed), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("nid"), adist.as("adist"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= topk * rerankFactor)
      .select(col("qid"), col("qvec"), col("nid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc_nulls_last, col("nid"))
    shortlist
      .join(corpus.select(col(idCol).as("nid"),
        asDouble(col(vecCol)).as("nvec")), "nid")
      .select(col("qid"), col("nid"),
        round(l2sq(col("qvec"), col("nvec")), 6).as("dist"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= topk)
      .select(col("qid"), col("nid"), col("dist"))
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    * their nearest centroid cell; each query searches only its `nProbe`
    * nearest cells. Centroids start as a deterministic hash-ranked sample
    * of the corpus, optionally refined by `kmeansIters` rounds of
    * spherical k-means (each round = one corpus pass; recommended 2 for
    * recall-sensitive use — float-sum order makes refined centroids
    * bit-nondeterministic across partitionings, so the oracle-replayable
    * path is kmeansIters=0), and ship as an ~nCells×dim literal — at
    * 100 TB the corpus is scanned once to assign cells (map-side), and
    * each query touches nProbe/nCells of the data. Size nCells/nProbe
    * with ivfParams (see its scaladoc for the measured recall curve).
    * Returns (qid, nid, cos) top-k per query. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 0): DataFrame = {
    val base = corpus.select(col(idCol).as("id"),
      asDouble(col(vecCol)).as("vec"))
    // deterministic "centroids": nCells corpus vectors by md5-rank
    val sampled: Seq[Seq[Double]] = base
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nCells)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val centroids =
      if (kmeansIters <= 0) sampled
      else refineCentroids(base, sampled, kmeansIters)
    val assigned = base.select(col("id").as("nid"), col("vec").as("nvec"),
      element_at(nearestCells(col("vec"), centroids, 1), 1).as("cell"))
    val probed = queries
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qvec"))
      .select(col("qid"), col("qvec"),
        explode(nearestCells(col("qvec"), centroids, nProbe)).as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    assigned.join(broadcast(probed), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qvec"), col("nvec")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("cos"))
  }
}
