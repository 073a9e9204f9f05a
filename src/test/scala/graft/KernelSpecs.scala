package graft

import graft.pipeline.{Similarity, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Executable specs of the codegen'd pipeline kernels
  * (functions/SketchExpressions.scala): each is the higher-order-function
  * formulation a kernel replaced, interpreted per element and far too
  * slow for the hot path. OperatorSpec and PipelineSpec assert each
  * kernel equal to its spec on corpus inputs. Test-only:
  * `TextAnalysis.fingerprintRollingHof` stays in the library because
  * `pipe_text_rolling_fp` runs it.
  */
object KernelSpecs {
  // ── Dedup kernels ──────────────────────────────────────────────────────
  /** The higher-order-function formulation, kept as the executable spec
    * for the Shingles expression (equivalence asserted in OperatorSpec).
    * The word array is LET-BOUND via a 1-element wrapper transform —
    * a lambda body that referenced `split(text)` directly would
    * re-evaluate the split once per shingle position (HOF lambdas aren't
    * CSE'd): measured 8× slowdown at sf0.1. */
  def shinglesHof(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    array_distinct(element_at(
      transform(array(ws), w =>
        transform(sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
          i => array_join(slice(w, i, lit(n)), " "))),
      1))
  }

  /** Engine-portable per-token hash: codepoint polynomial mod 1e9+7 (the
    * same word hash as TextAnalysis.fingerprintPortable) — ~30 useful
    * bits, reproducible in any engine with string/codepoint functions
    * (the DuckDB oracle replays it with list_reduce + unicode()) — then
    * scrambled by `mult`: distinct odd multipliers yield independent
    * portable hash families (the wide-signature variant needs two). */
  def tokenHashesPortableScrambled(
      text: Column, mult: Long): Column =
    transform(filter(split(text, "\\s+"), w => w =!= ""), w =>
      // final Knuth-multiply scramble spreads short words (single chars
      // hash < 128 under the bare polynomial) across all 30 bits;
      // codepoint iteration (not UTF-16 units) matches the DuckDB
      // oracle's unicode() on astral chars too — see
      // TextAnalysis.codepoints
      pmod(aggregate(TextAnalysis.codepoints(w),
        lit(0L), (acc, cp) => pmod(acc * 131 + cp, lit(1000000007L)))
        * mult, lit(1073741789L)))

  /** 30-bit SimHash over portable token hashes, bit i at position i:
    * with [[tokenHashesPortableScrambled]], the HOF spec of the
    * PortableSimhash30 kernel behind the oracle-replayable dedup path
    * (equivalence asserted in PipelineSpec for both multipliers). */
  def simhash30FromHashes(hs: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(29)), i =>
        when(aggregate(hs, lit(0L), (acc, h) =>
          acc + when(call_function("shiftright", h, i.cast("int"))
            .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0,
          call_function("shiftleft", lit(1L), i.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)

  /** The original higher-order-function formulation, kept as the
    * executable spec for the MinHash64 expression: each shingle hashed
    * once, a single fold updates all k family minima per element. */
  def minhashSignatureHof(sh: Column, k: Int): Column =
    aggregate(
      transform(sh, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, xxhash64(i, h))))

  /** HOF spec for the DupWindowHashes kernel: per-window slice folds —
    * O(n·w) interpreted lambdas, vs the kernel's O(n) rolling pass
    * (identical algebra; corpus equivalence asserted in PipelineSpec).
    * The word-hash array is LET-BOUND via transform(array(e), ws -> …)
    * (the SCALE.md idiom) — a captured `whs` would re-tokenize the doc
    * at every window position, making the spec O(n·len) per doc. */
  def dupWindowHashesHof(
      text: Column, fam: Seq[Long]): Column = {
    val Seq(w, cpBase, prime, mult, multPrime, winBase) = fam
    val whs0 = transform(filter(split(text, "\\s+"), t => t =!= ""), t =>
      pmod(aggregate(TextAnalysis.codepoints(t), lit(0L),
        (acc, cp) => pmod(acc * cpBase + cp, lit(prime))) * mult,
        lit(multPrime)))
    element_at(transform(array(whs0), whs =>
      when(size(whs) < w.toInt,
        array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(0), size(whs) - w.toInt), i =>
          aggregate(slice(whs, i + 1, lit(w.toInt)), lit(0L),
            (acc, h) => pmod(acc * winBase + h, lit(prime)))))), 1)
  }

  /** HOF spec for the PortableMinHash kernel: shingle strings via the
    * per-position slice/join formulation, each hashed by the codepoint
    * polynomial of the JOINED string, position q = min of the
    * (multBase + 2q)-scrambled hashes. Both the shingle list and the
    * hash list are LET-BOUND via the 1-element-wrapper transform (the
    * SCALE.md idiom) — a lambda referencing them directly would
    * recompute per position/per q. Equivalence to the kernel is
    * corpus-asserted in PipelineSpec; spec only, not the hot path. */
  def portableMinhashHof(
      text: Column, k: Int, n: Int): Column = {
    val ws = split(text, " ")
    val sh = element_at(
      transform(array(ws), w =>
        transform(sequence(lit(1), greatest(size(w) - (n - 1), lit(1))),
          i => array_join(slice(w, i, lit(n)), " "))), 1)
    val hs = element_at(
      transform(array(sh), shl =>
        transform(shl, s =>
          aggregate(TextAnalysis.codepoints(s), lit(0L),
            (acc, cp) => pmod(acc * 131 + cp, lit(1000000007L))))), 1)
    element_at(
      transform(array(hs), hl =>
        transform(sequence(lit(0), lit(k - 1)), q =>
          array_min(transform(hl, h =>
            pmod(h * (lit(2654435761L) + q.cast("long") * 2),
              lit(1073741789L)))))), 1)
  }

  // ── Similarity kernels ─────────────────────────────────────────────────
  /** Sign-bit array (length `planes`) against a literal plane matrix. */
  private def lshBits(vec: Column, matrix: Seq[Seq[Double]]): Column = {
    val m = typedlit(matrix)
    transform(sequence(lit(0), lit(matrix.size - 1)), p =>
      when(aggregate(
        zip_with(vec, element_at(m, p + 1), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x) > 0, 1L).otherwise(0L))
  }

  /** Random-hyperplane signature packed into a long (≤ 62 planes) — the
    * HOF formulation of the codegen'd HyperplaneSignature expression
    * (bit-for-bit equivalence asserted in OperatorSpec). */
  def lshSignature(vec: Column, planes: Int,
      salt: Int = 0): Column =
    aggregate(lshBits(vec, Similarity.planeMatrix(salt, planes, 64)),
      lit(0L), (acc, b) => acc * 2 + b)

  /** The higher-order-function formulation, kept as the executable spec
    * for CosineSim (bit-for-bit equivalence asserted in OperatorSpec):
    * identical left-to-right folds, interpreted per element. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  /** The higher-order-function formulation, kept as the executable spec
    * for the NearestCells kernel (cosine metric; equivalence asserted
    * in PipelineSpec): (negated similarity, cellId) structs sorted
    * ascending → top nProbe cells. The interpreted form allocates and
    * sorts an nCells-struct array per row — it dominated the ×50
    * composed-ANN rehearsal before the r11 kernel. */
  def nearestCellsHof(vec: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column = {
    val m = typedlit(centroids)
    val scored = transform(sequence(lit(1), lit(centroids.size)), c =>
      struct((lit(-1.0) * Similarity.cosine(vec, element_at(m, c))).as("negSim"),
        c.as("cell")))
    transform(slice(array_sort(scored), 1, nProbe), s => s.getField("cell"))
  }

  /** Executable spec for the NearestCells kernel, L2 metric
    * (equivalence asserted in PipelineSpec). */
  def nearestCellsL2Hof(vec: Column,
      centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    val m = typedlit(centroids)
    val scored = transform(sequence(lit(1), lit(centroids.size)), c =>
      struct(Similarity.l2sq(vec, element_at(m, c)).as("dist"), c.as("cell")))
    transform(slice(array_sort(scored), 1, nProbe), s => s.getField("cell"))
  }

  /** The higher-order-function formulation, kept as the executable spec
    * for the PqCodes kernel (equivalence asserted in PipelineSpec):
    * code j = index of the codeword of subspace j with the smallest
    * squared L2 distance to the vector's j-th slice, first index on
    * ties (array_position finds the first equal value — the same rule
    * the oracle's list_position and the kernel's strict < apply). The
    * subspace slice is let-bound via the 1-element transform wrapper
    * (HOF lambdas are not CSE'd). */
  def pqCodesHof(vec: Column, cbs: Seq[Seq[Seq[Double]]]): Column = {
    val m = cbs.size
    val sub = cbs.head.head.size
    val k = cbs.head.size
    val cbLit = typedlit(cbs)
    transform(sequence(lit(0), lit(m - 1)), j => {
      val cb = element_at(cbLit, j + 1)
      element_at(
        transform(array(slice(vec, j * lit(sub) + 1, lit(sub))), sv => {
          val dists = transform(sequence(lit(1), lit(k)),
            c => Similarity.l2sq(sv, element_at(cb, c)))
          (array_position(dists, array_min(dists)) - 1).cast("int")
        }),
        1)
    })
  }

  // ── TextAnalysis kernels ───────────────────────────────────────────────
  /** The HOF formulation of langId, kept as the executable spec for the
    * InSetCounts path (equivalence asserted in OperatorSpec). */
  def langIdHof(text: Column): Column = {
    val words = split(lower(text), "\\s+")
    val scored = array(TextAnalysis.langDicts.zipWithIndex.map { case ((lang, dict), i) =>
      struct(
        size(filter(words, w => w.isInCollection(dict))).cast("long").as("score"),
        lit(-i).as("rank_desc"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    struct(best.getField("lang").as("lang"), best.getField("score").as("score"))
  }

  /** HOF spec for [[TextAnalysis.fingerprintPortable]]. */
  def fingerprintPortableHof(text: Column): Column = {
    val p = 1000000007L
    aggregate(
      transform(
        filter(split(text, "\\s+"), w => w =!= ""),
        w => aggregate(TextAnalysis.codepoints(w),
          lit(0L), (acc, cp) => (acc * 131 + cp) % p)),
      lit(0L), (acc, h) => (acc * 31 + h) % p)
  }

  // ── Classifier kernels ─────────────────────────────────────────────────
  /** HOF spec for [[graft.pipeline.Classifier.buckets]]: per-word
    * codepoint folds (one interpreted lambda per CHARACTER — spec only;
    * the kernel is the hot path). The word-hash array is LET-BOUND via
    * transform(array(e), ws -> …) (the SCALE.md idiom) so it isn't
    * recomputed per position. */
  def bucketsHof(
      text: Column, d: Int, includeBigrams: Boolean = true): Column = {
    val whs0 = transform(filter(split(text, "\\s+"), t => t =!= ""), t =>
      aggregate(TextAnalysis.codepoints(t), lit(0L),
        (acc, cp) => pmod(acc * 131L + cp, lit(1000000007L))))
    element_at(transform(array(whs0), whs => {
      val uni = transform(whs, h => pmod(h, lit(d.toLong)).cast("int"))
      val bi =
        when(size(whs) < 2, array().cast("array<int>"))
          .otherwise(transform(sequence(lit(1), size(whs) - 1), i =>
            pmod(pmod(element_at(whs, i) * 131L + element_at(whs, i + 1),
              lit(1000000007L)), lit(d.toLong)).cast("int")))
      if (includeBigrams) concat(uni, bi) else uni
    }), 1)
  }

  /** HOF spec for the GatherSum kernel: left-to-right fold of
    * weights[idx] in index order. */
  def gatherSumHof(idx: Column, weights: Seq[Double]): Column =
    aggregate(idx, lit(0.0),
      (acc, b) => acc + element_at(typedlit(weights), b + 1))
}
