package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd sketch primitives. The interpreted higher-order-function
  * formulations (63 nested lambda evals per row for SimHash; planes×dim
  * lambda arithmetic for hyperplane signatures) dominate the pipeline
  * bench — these native expressions run the same math as tight JVM loops
  * inside whole-stage codegen. Semantics identical to the HOF versions
  * they replace (same bit order, same ±1 update, same packing).
  */

/** 63-bit SimHash from an array<bigint> of per-token hashes. */
case class SimHash63(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash63"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val cnt = new Array[Long](63)
    val n = a.numElements()
    var j = 0
    while (j < n) {
      if (!a.isNullAt(j)) {
        val h = a.getLong(j)
        var i = 0
        while (i < 63) {
          if (((h >> i) & 1L) == 1L) cnt(i) += 1 else cnt(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 63) { sig = sig * 2 + (if (cnt(i) > 0) 1L else 0L); i += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cnt = ctx.freshName("cnt")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $cnt = new long[63];
         |int $n = $a.numElements();
         |for (int $j = 0; $j < $n; $j++) {
         |  if (!$a.isNullAt($j)) {
         |    long $h = $a.getLong($j);
         |    for (int $i = 0; $i < 63; $i++) {
         |      if ((($h >> $i) & 1L) == 1L) $cnt[$i]++; else $cnt[$i]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $i = 0; $i < 63; $i++) {
         |  $sig = $sig * 2 + ($cnt[$i] > 0 ? 1L : 0L);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Engine-PORTABLE 30-bit SimHash of a whitespace-tokenized text column
  * with a caller-chosen scramble multiplier (foldable) — the codegen
  * kernel for the oracle-replayable signature behind pipe_dedup_simhash
  * and pipe_dedup_simhash_wide. Bit-identical to the HOF spec
  * (KernelSpecs.simhash30FromHashes ∘ tokenHashesPortableScrambled, asserted
  * in PipelineSpec): tokens are the non-empty \s+ splits, each token's
  * hash is the codepoint polynomial acc·131+cp mod 1e9+7 scrambled by
  * `mult` mod 1073741789 (< 2^30, all values non-negative so pmod ≡ %),
  * and bit i of the signature is the ±1 majority over token-hash bit i.
  * The interpreted HOF formulation costs 30 nested lambda folds over
  * the token-hash array per row ON TOP of a per-codepoint fold per
  * token — it made the two portable dedup queries 74 s + 149 s of the
  * 361 s full bench (r10 verdict #1's "unlabeled tail"); this kernel is
  * the same math as one tight JVM pass (same fix shape as PqCodes and
  * RollingFpPortable). Codepoint iteration matches the HOF's UTF-32
  * path on all well-formed text (lone surrogates differ — the HOF's
  * encode() substitutes U+FFFD; real corpora don't carry them and the
  * corpus-wide equivalence spec re-asserts it per run). */
case class PortableSimhash30(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash30_portable"

  @transient private lazy val mult: Long = {
    require(right.foldable, "graft_simhash30_portable: mult must be a literal")
    right.eval(InternalRow.empty).asInstanceOf[Long]
  }
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(u: Any): Long = {
    val s = u.toString
    val counts = new Array[Int](30)
    val toks = ws.split(s)
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      if (!w.isEmpty) {
        var acc = 0L
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          acc = (acc * 131 + cp) % 1000000007L
          i += Character.charCount(cp)
        }
        val h = (acc * mult) % 1073741789L
        var b = 0
        while (b < 30) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 30) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSimhash30", this,
      classOf[PortableSimhash30].getName)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Packed sign-bit signature of array<double> `left` against a foldable
  * literal matrix `right` (array<array<double>>, planes ≤ 62). Bit p
  * (ascending) contributes 2^(planes-1-p). */
case class HyperplaneSignature(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  @transient private lazy val matrix: Array[Array[Double]] = {
    val m = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    Array.tabulate(m.numElements()) { p =>
      val row = m.getArray(p)
      Array.tabulate(row.numElements())(j => row.getDouble(j))
    }
  }

  override def nullSafeEval(vecAny: Any, unused: Any): Any = {
    val v = vecAny.asInstanceOf[ArrayData]
    val n = v.numElements()
    var sig = 0L
    var p = 0
    while (p < matrix.length) {
      val row = matrix(p)
      var dot = 0.0
      var j = 0
      val d = math.min(n, row.length)
      while (j < d) { dot += v.getDouble(j) * row(j); j += 1 }
      sig = sig * 2 + (if (dot > 0) 1L else 0L)
      p += 1
    }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("graftPlaneMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val row = ctx.freshName("row")
      s"""
         |long $sig = 0L;
         |for (int $p = 0; $p < $matRef.length; $p++) {
         |  double[] $row = $matRef[$p];
         |  double $dot = 0.0;
         |  int $d = Math.min($v.numElements(), $row.length);
         |  for (int $j = 0; $j < $d; $j++) {
         |    $dot += $v.getDouble($j) * $row[$j];
         |  }
         |  $sig = $sig * 2 + ($dot > 0 ? 1L : 0L);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature (array<bigint>, length k) of an array<string> of
  * shingles — bit-identical to the HOF formulation
  * `aggregate(transform(sh, xxhash64), repeat(MaxValue, k),
  *  (acc,h) -> zip_with(acc, 0..k-1, (m,i) -> least(m, xxhash64(i,h))))`
  * but as one tight loop: the HOF version allocates a fresh k-array and
  * runs k generic expression evals per shingle (the dedup-pipeline
  * hotspot). Per-position hash = xxhash64(i:int, h:long) with Spark's
  * standard seed chain; a null shingle hashes to the seed (42), exactly
  * as the null-skipping xxhash64 expression does. */
case class MinHash64(child: Expression, kExpr: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def left: Expression = child
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (kExpr.dataType != IntegerType || !kExpr.foldable ||
        kExpr.eval(InternalRow.empty) == null)
      TypeCheckFailure(s"$prettyName expects a non-null int literal k")
    else TypeCheckSuccess
  }

  @transient private lazy val k: Int =
    kExpr.eval(InternalRow.empty).asInstanceOf[Int]
  // seed chain prefix for position i: xxhash64's fold over (i, h) starts
  // at hash(i:int, 42); precomputed once per operator instance
  @transient private lazy val posSeeds: Array[Long] =
    Array.tabulate(k)(i => XxHash64Function.hash(i, IntegerType, 42L))

  def compute(a: ArrayData): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = a.numElements()
    var j = 0
    while (j < n) {
      val h =
        if (a.isNullAt(j)) 42L
        else XxHash64Function.hash(a.getUTF8String(j),
          org.apache.spark.sql.types.StringType, 42L)
      var i = 0
      while (i < k) {
        val cand = XxHash64Function.hash(h, LongType, posSeeds(i))
        if (cand < sig(i)) sig(i) = cand
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any, unused: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftMinhash", this,
      classOf[MinHash64].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, kExpr = newRight)
}

/** Engine-PORTABLE MinHash signature (array<bigint>, length k) of a
  * string — the oracle-replayable face of [[MinHash64]], built for the
  * incremental MinHash-LSH signature store (an external engine must
  * recompute every signature bit-for-bit, which rules out xxhash64).
  * Tokenization is split-on-single-space with empties kept (the
  * [[Shingles]] semantics); each word n-gram shingle hashes as the
  * codepoint polynomial of its JOINED string (spaces included) —
  * family A of fingerprintPortable — and position q of the signature
  * is min over shingles of (h · (multBase + 2q)) mod multPrime:
  * distinct odd multipliers give k independent portable hash families
  * (the two-scramble precedent of the wide portable SimHash).
  * Duplicated shingles can't affect a min, so no distinct pass is
  * needed. All intermediates fit a signed long: h < prime ≈ 2^30,
  * mult < 2^32 ⇒ product < 2^62.
  *
  * `right` is the foldable params literal
  * [k, shingleN, cpBase, prime, multPrime, multBase]; the HOF spec
  * (KernelSpecs.portableMinhashHof, src/test) is equivalence-asserted in PipelineSpec.
  * Reference frame: datafusion has no MinHash surface — this extends
  * the minhashPairs family (Broder 1997 resemblance sketches). */
case class PortableMinHash(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_portable"

  @transient private lazy val Seq(kL, nL, cpBase, prime, multPrime,
    multBase) = {
    require(right.foldable, s"$prettyName: params must be a literal")
    val p = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    Seq.tabulate(6)(p.getLong)
  }
  @transient private lazy val k = kL.toInt
  @transient private lazy val n = nL.toInt

  def compute(u: Any): ArrayData = {
    val tokens = u.toString.split(" ", -1)
    val count = math.max(tokens.length - (n - 1), 1)
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < count) {
      var acc = 0L
      val end = math.min(i + n, tokens.length)
      var j = i
      while (j < end) {
        if (j > i) acc = (acc * cpBase + 32L) % prime // the joining space
        val w = tokens(j)
        var c = 0
        while (c < w.length) {
          val cp = w.codePointAt(c)
          acc = (acc * cpBase + cp) % prime
          c += Character.charCount(cp)
        }
        j += 1
      }
      var q = 0
      while (q < k) {
        val cand = (acc * (multBase + 2L * q)) % multPrime
        if (cand < sig(q)) sig(q) = cand
        q += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftMinhashPortable", this,
      classOf[PortableMinHash].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct word n-gram shingles of a string — the per-row front of the
  * text-dedup pipeline. The HOF formulation (split → per-position
  * slice/array_join → array_distinct) is CodegenFallback and allocates
  * a token array plus one joined string per position per row; this
  * expression produces the identical result (same split-on-single-space
  * semantics including empty tokens, same first-occurrence distinct
  * order) in one pass. */
object Shingles {
  import org.apache.spark.unsafe.types.UTF8String

  /** Distinct word n-grams in first-occurrence order — identical to
    * Spark's split(text, " ") tokenization (regex on a single space,
    * limit -1, trailing empty tokens kept) followed by per-position
    * joins and array_distinct. */
  def shingleStrings(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val tokens = text.toString.split(" ", -1)
    val count = math.max(tokens.length - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < count) {
      val end = math.min(i + n, tokens.length)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(tokens(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }
}

case class Shingles(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  // n must be a non-null int literal: reject at analysis time with a
  // clear message instead of evaluating a column against EmptyRow
  // mid-task (same contract as NGramsGenerator)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != StringType)
      TypeCheckFailure(s"$prettyName expects a string column")
    else if (right.dataType != org.apache.spark.sql.types.IntegerType ||
        !right.foldable || right.eval(InternalRow.empty) == null)
      TypeCheckFailure(s"$prettyName expects a non-null int literal n")
    else TypeCheckSuccess
  }

  @transient private lazy val n: Int =
    right.eval(InternalRow.empty).asInstanceOf[Int]

  def compute(text: UTF8String): ArrayData = {
    val seen = Shingles.shingleStrings(text, n)
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(text: Any, unused: Any): Any =
    compute(text.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftShingles", this,
      classOf[Shingles].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-dictionary membership counts: for a words array and a literal
  * array of dictionaries (array<array<string>>), returns array<long>
  * where element d = number of words contained in dictionary d. One
  * pass over the words against prebuilt hash sets — replaces the
  * per-dictionary interpreted `filter(words, isInCollection)` HOFs
  * (language-ID evaluated its tokenization 5× because CodegenFallback
  * defeats subexpression elimination). Null words count for no
  * dictionary. */
case class InSetCounts(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.ArrayType
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_inset_counts"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val okLeft = left.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    if (!okLeft)
      TypeCheckFailure(s"$prettyName expects an array<string> of words")
    else if (!right.foldable || right.eval(InternalRow.empty) == null)
      TypeCheckFailure(
        s"$prettyName expects a non-null array<array<string>> literal")
    else TypeCheckSuccess
  }

  @transient private lazy val dicts: Array[java.util.HashSet[UTF8String]] = {
    val m = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    Array.tabulate(m.numElements()) { d =>
      val set = new java.util.HashSet[UTF8String]()
      val row = m.getArray(d)
      var j = 0
      while (j < row.numElements()) {
        if (!row.isNullAt(j)) set.add(row.getUTF8String(j).clone())
        j += 1
      }
      set
    }
  }

  def compute(words: ArrayData): ArrayData = {
    val counts = new Array[Long](dicts.length)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        var d = 0
        while (d < dicts.length) {
          if (dicts(d).contains(w)) counts(d) += 1
          d += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override def nullSafeEval(words: Any, unused: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftInSet", this,
      classOf[InSetCounts].getName)
    nullSafeCodeGen(ctx, ev, (w, _) => s"${ev.value} = $ref.compute($w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Polynomial rolling fingerprint over pre-hashed words:
  * fold (acc*31 + pmod(xxhash64(word), 1e9+7)) mod 1e9+7 — bit-identical
  * to the HOF formulation in TextAnalysis.fingerprintRolling (same
  * xxhash64 seed chain, same pmod semantics for negative hashes). */
case class RollingFpXx(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_fp"

  private val P = 1000000007L

  def compute(words: ArrayData): Any = {
    val n = words.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      // HOF spec: a null word makes xxhash64 return the seed (42)
      val h =
        if (words.isNullAt(i)) 42L
        else XxHash64Function.hash(words.getUTF8String(i), StringType, 42L)
      val hm = java.lang.Math.floorMod(h, P)
      acc = java.lang.Math.floorMod(acc * 31 + hm, P)
      i += 1
    }
    acc
  }

  override def nullSafeEval(words: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftRollingFp", this,
      classOf[RollingFpXx].getName)
    nullSafeCodeGen(ctx, ev,
      w => s"${ev.value} = (Long) $ref.compute($w);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Engine-portable rolling fingerprint over words: per-word hash =
  * codepoint polynomial (acc*131 + cp) mod 1e9+7, document fingerprint
  * = (acc*31 + wordHash) mod 1e9+7 — matches the HOF spec (which splits
  * each word into per-codepoint strings and folds ascii()); empty words
  * are skipped, exactly like the spec's filter(w =!= ""). */
case class RollingFpPortable(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_fp_portable"

  private val P = 1000000007L

  def compute(words: ArrayData): Any = {
    val n = words.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val s = words.getUTF8String(i).toString
        if (s.nonEmpty) {
          var h = 0L
          var j = 0
          while (j < s.length) {
            val cp = s.codePointAt(j)
            h = (h * 131 + cp) % P
            j += Character.charCount(cp)
          }
          acc = (acc * 31 + h) % P
        }
      }
      i += 1
    }
    acc
  }

  override def nullSafeEval(words: Any): Any =
    compute(words.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftRollingFpP", this,
      classOf[RollingFpPortable].getName)
    nullSafeCodeGen(ctx, ev,
      w => s"${ev.value} = (Long) $ref.compute($w);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Exact cosine similarity of two array<double> vectors — the verify
  * stage of every similarity/dedup operator. The HOF formulation
  * (`aggregate(zip_with(a,b,*)) / (sqrt(aggregate(a,x²)) * ...)`) is
  * CodegenFallback: it allocates a zipped array per pair and evaluates
  * generic expression trees per element. This expression runs the
  * identical left-to-right folds as one loop (bit-identical result —
  * asserted in OperatorSpec). Mirrors the HOF null semantics exactly:
  * any null element, or a length mismatch (zip_with pads with nulls),
  * yields null. */
/** Product-quantization code assignment: left = the vector
  * (array<double|float>, dim = m·sub), right = a FOLDABLE literal of
  * per-subspace codebooks (array<array<array<double>>>, m×k×sub).
  * Returns the m 0-based codeword indices (array<int>) — for each
  * subspace, the codeword with the smallest squared-L2 distance to the
  * vector's slice, FIRST index on ties (strict <), with the distance
  * accumulated in ascending dimension order so results are bit-identical
  * to the HOF spec (KernelSpecs.pqCodesHof, src/test) and the DuckDB oracle's
  * list_reduce fold. The interpreted HOF form costs m·k nested lambda
  * folds per row (~1 ms at m=16, k=64 — it dominated the PipeScale PQ
  * stage); this kernel is the same math as a tight JVM loop. */
case class PqCodes(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType}
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_codes"

  // the codebook literal decodes once per executor, not per row;
  // shape-validated HERE so a malformed literal (k=0, ragged subspaces)
  // raises a named error instead of an ArrayIndexOutOfBounds from
  // inside codegen (r10 ADVICE)
  @transient private lazy val cbs: Array[Array[Array[Double]]] = {
    require(right.foldable, "graft_pq_codes: codebooks must be a literal")
    val m = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    val arr = Array.tabulate(m.numElements()) { j =>
      val cb = m.getArray(j)
      Array.tabulate(cb.numElements())(c => cb.getArray(c).toDoubleArray())
    }
    require(arr.length >= 1,
      "graft_pq_codes: codebook must have >= 1 subspace")
    require(arr(0).length >= 1 && arr(0)(0).length >= 1,
      "graft_pq_codes: codebook must have >= 1 codeword of >= 1 dim")
    require(arr.forall(cb => cb.length == arr(0).length &&
        cb.forall(_.length == arr(0)(0).length)),
      s"graft_pq_codes: ragged codebook — every subspace needs " +
        s"${arr(0).length} codewords of width ${arr(0)(0).length}")
    arr
  }

  def compute(v: ArrayData): ArrayData = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val k = cbs(0).length
    if (v.numElements() != m * sub) return null
    val isFloat = left.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = java.lang.Double.MAX_VALUE
      var c = 0
      while (c < k) {
        val cw = cbs(j)(c)
        var d = 0.0
        var t = 0
        while (t < sub) {
          val i = j * sub + t
          if (v.isNullAt(i)) return null
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          val diff = x - cw(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftPqCodes", this,
      classOf[PqCodes].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, _) => s"""
       |org.apache.spark.sql.catalyst.util.ArrayData $r = $ref.compute($a);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r; }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `nProbe` nearest centroid cells (1-based ints, best first) of an
  * array<double> vector against a FOLDABLE centroid matrix — the
  * map-side hot loop of IVF at scale (every corpus row is scored
  * against every cell on assignment, every Lloyd round, and every
  * probe). `byL2` picks the metric: squared L2 with the ascending-
  * dimension fold (bit-identical to Similarity.l2sq), or negated
  * cosine with CosineSim's fold. Ranking is (distance asc via
  * java.lang.Double.compare — Spark's double ordering — then cell
  * asc), exactly the HOF spec's array_sort on (dist, cell) structs
  * (KernelSpecs.nearestCellsHof/nearestCellsL2Hof, equivalence
  * corpus-asserted in PipelineSpec). The interpreted HOF allocates and
  * sorts an nCells-struct array per row through generic expression
  * trees — at 512 cells × 100k rows × several training passes it
  * dominated the PipeScale ×50 composed stage (431 s). Returns null
  * for a malformed vector (null element or dimension mismatch) — the
  * callers drop those rows, same policy as PqCodes. */
case class NearestCells(first: Expression, second: Expression,
    third: Expression, byL2: Boolean) extends TernaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType}
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (byL2) "graft_nearest_cells_l2" else "graft_nearest_cells_cos"

  @transient private lazy val cents: Array[Array[Double]] = {
    require(second.foldable, s"$prettyName: centroids must be a literal")
    val m = second.eval(InternalRow.empty).asInstanceOf[ArrayData]
    val arr = Array.tabulate(m.numElements())(c => m.getArray(c).toDoubleArray())
    require(arr.length >= 1, s"$prettyName: need >= 1 centroid")
    require(arr.forall(_.length == arr(0).length),
      s"$prettyName: ragged centroid matrix")
    arr
  }
  @transient private lazy val nProbe: Int = {
    require(third.foldable, s"$prettyName: nProbe must be a literal")
    val p = third.eval(InternalRow.empty).asInstanceOf[Int]
    require(p >= 1, s"$prettyName: nProbe must be >= 1")
    p
  }

  def compute(v: ArrayData): ArrayData = {
    val dim = cents(0).length
    val n = cents.length
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i)
      i += 1
    }
    val dists = new Array[Double](n)
    var c = 0
    while (c < n) {
      val ct = cents(c)
      if (byL2) {
        var d = 0.0
        var t = 0
        while (t < dim) { val df = x(t) - ct(t); d += df * df; t += 1 }
        dists(c) = d
      } else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var t = 0
        while (t < dim) {
          val a = x(t); val b = ct(t)
          dot += a * b; na += a * a; nb += b * b
          t += 1
        }
        dists(c) = -(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
      c += 1
    }
    val k = math.min(nProbe, n)
    val out = new Array[Int](k)
    if (k == 1) {
      var best = 0
      var bc = 1
      while (bc < n) {
        if (java.lang.Double.compare(dists(bc), dists(best)) < 0) best = bc
        bc += 1
      }
      out(0) = best + 1
    } else {
      val idx = Array.tabulate[Integer](n)(Integer.valueOf)
      java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int = {
          val d = java.lang.Double.compare(dists(a), dists(b))
          if (d != 0) d else Integer.compare(a, b)
        }
      })
      var j = 0
      while (j < k) { out(j) = idx(j) + 1; j += 1 }
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any, cc: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftNearestCells", this,
      classOf[NearestCells].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, _, _) => s"""
       |org.apache.spark.sql.catalyst.util.ArrayData $r = $ref.compute($a);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r; }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.DoubleType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCosine", this,
      classOf[CosineSim].getName)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |java.lang.Double $r = $ref.compute($a, $b);
       |if ($r == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $r.doubleValue(); }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Rolling W-word window fingerprints over the words of `left` (raw
  * text) — the corpus pass of exact-substring dedup (Lee et al. 2021:
  * every duplicated W-token window across the corpus marks a span to
  * cut). `right` is a FOLDABLE array<bigint> literal
  * [w, cpBase, prime, mult, multPrime, winBase] naming one portable
  * hash family:
  *
  *   wordHash(t) = (fold_cp (acc·cpBase + cp) mod prime) · mult
  *                 mod multPrime  (the PortableSimhash30 token-hash shape)
  *   winHash(i)  = fold_{j=i..i+w-1} (acc·winBase + wordHash_j) mod prime
  *
  * Returns array<bigint> of length max(0, nWords − w + 1) — tokens are
  * the non-empty \s+ splits, codepoint iteration matches the HOF's
  * UTF-32 path (and DuckDB's unicode()). The window fold is evaluated
  * with the O(n) rolling recurrence
  *   h' = ((h − wh_i · winBase^{w−1}) · winBase + wh_{i+w}) mod prime
  * which is algebraically identical to the per-window slice fold the
  * HOF spec (KernelSpecs.dupWindowHashesHof) and the DuckDB oracle evaluate —
  * equivalence corpus-asserted in PipelineSpec for both families. All
  * intermediates fit signed 64-bit (bounds enforced on the literal):
  * acc < prime ≤ 1e9+7 < 2^30 so acc·mult < 2^62; wordHash < multPrime
  * ≤ 2^31 so wh·winBase^{w−1} < 2^61. Two independent
  * families (different cpBase AND prime AND winBase — ~60 combined
  * bits) key the duplicate groupBy; the kernel is parametric so a
  * third family can be added if a 100 TB corpus needs more margin. */
case class DupWindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.ArrayType
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_dup_window_hashes"

  // r11 ADVICE: validate the params literal ONCE at analysis time on the
  // driver — a malformed literal previously surfaced as N identical task
  // failures when the lazy val was first touched inside compute()
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != org.apache.spark.sql.types.StringType)
      TypeCheckFailure(s"$prettyName expects a string column")
    else
      try { params; TypeCheckSuccess }
      catch { case scala.util.control.NonFatal(e) =>
        TypeCheckFailure(s"$prettyName: ${e.getMessage}") }
  }

  // decoded once per executor; validated here so a malformed literal
  // raises a named error, not an AIOOBE from inside codegen
  @transient private lazy val params: Array[Long] = {
    require(right.foldable, "graft_dup_window_hashes: params must be a literal")
    val a = right.eval(InternalRow.empty).asInstanceOf[ArrayData].toLongArray()
    require(a.length == 6, "graft_dup_window_hashes: params must be " +
      "[w, cpBase, prime, mult, multPrime, winBase]")
    // w >= 2: at w = 1 the oracle's seeded list_reduce would return the
    // raw word hash UNreduced while the fold-from-zero reduces it mod
    // prime (multPrime > prime for family A) — and a 1-word window
    // needs no window machinery anyway (that's plain token dedup)
    require(a(0) >= 2, s"graft_dup_window_hashes: w must be >= 2, got ${a(0)}")
    require(a(2) > 1 && a(2) <= 1000000007L && a(4) > 1 && a(4) <= (1L << 31) &&
        a(1) > 1 && a(1) < 1024 && a(3) > 1 && a(3) < (1L << 32) &&
        a(5) > 1 && a(5) < 1024,
      "graft_dup_window_hashes: family out of the overflow-audited ranges " +
        "(prime <= 1e9+7, multPrime <= 2^31, cpBase/winBase < 1024, mult < 2^32)")
    a
  }
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(u: Any): ArrayData = {
    val Array(wL, cpBase, prime, mult, multPrime, winBase) = params
    val w = wL.toInt
    val toks = ws.split(u.toString)
    // per-word portable hashes (empties skipped, like the HOF filter)
    var nw = 0
    val whs = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) {
      val s = toks(t)
      if (!s.isEmpty) {
        var acc = 0L
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          acc = (acc * cpBase + cp) % prime
          i += Character.charCount(cp)
        }
        whs(nw) = (acc * mult) % multPrime
        nw += 1
      }
      t += 1
    }
    if (nw < w) return new GenericArrayData(Array.emptyLongArray)
    // winBase^(w-1) mod prime for the leading-term removal
    var bw = 1L
    var e = 1
    while (e < w) { bw = (bw * winBase) % prime; e += 1 }
    val out = new Array[Long](nw - w + 1)
    var h = 0L
    var j = 0
    while (j < w) { h = (h * winBase + whs(j)) % prime; j += 1 }
    out(0) = h
    var i = 1
    while (i <= nw - w) {
      h = java.lang.Math.floorMod(h - (whs(i - 1) * bw) % prime, prime)
      h = (h * winBase + whs(i + w - 1)) % prime
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftDupWin", this,
      classOf[DupWindowHashes].getName)
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Hashed n-gram feature buckets of a text column — the fastText-shape
  * featurizer (pipeline/Classifier.scala): each non-empty \s+ token is
  * hashed with the engine-portable codepoint polynomial
  * (acc·cpBase + cp) mod prime — family A of the window-hash /
  * fingerprintPortable kernels — and bucketed mod d; when `bi` = 1,
  * consecutive kept-token pairs add bigram buckets
  * ((h1·biBase + h2) mod prime) mod d after the unigrams. Params is a
  * FOLDABLE array<long> literal [d, bi, cpBase, prime, biBase],
  * validated once at analysis time. Output order is unigrams in token
  * order then bigrams in pair order — the contract the HOF spec
  * (KernelSpecs.bucketsHof) and the DuckDB oracle both reproduce.
  * The interpreted HOF form runs one lambda per CHARACTER (the
  * RollingFpPortable lesson — a 224× map-side tax at corpus scale). */
case class HashedBuckets(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType}
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hashed_buckets"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != org.apache.spark.sql.types.StringType)
      TypeCheckFailure(s"$prettyName expects a string column")
    else
      // NonFatal, not just IllegalArgumentException: a wrong-TYPED
      // foldable literal (int array, scalar) throws ClassCastException
      // from the ArrayData decode and must still surface as a named
      // analysis failure (r12 review)
      try { params; TypeCheckSuccess }
      catch { case scala.util.control.NonFatal(e) =>
        TypeCheckFailure(s"$prettyName: ${e.getMessage}") }
  }

  @transient private lazy val params: Array[Long] = {
    require(right.foldable, s"$prettyName: params must be a literal")
    val a = right.eval(InternalRow.empty).asInstanceOf[ArrayData].toLongArray()
    require(a.length == 5,
      s"$prettyName: params must be [d, bi, cpBase, prime, biBase]")
    require(a(0) >= 2 && a(0) <= (1L << 30),
      s"$prettyName: d must be in [2, 2^30], got ${a(0)}")
    require(a(1) == 0L || a(1) == 1L,
      s"$prettyName: bi must be 0 or 1, got ${a(1)}")
    require(a(2) > 1 && a(2) < 1024 && a(3) > 1 && a(3) <= 1000000007L &&
        a(4) > 1 && a(4) < 1024,
      s"$prettyName: hash family out of the overflow-audited ranges " +
        "(cpBase/biBase < 1024, prime <= 1e9+7)")
    a
  }
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(u: Any): ArrayData = {
    val Array(d, bi, cpBase, prime, biBase) = params
    val toks = ws.split(u.toString)
    var nw = 0
    val whs = new Array[Long](toks.length)
    var t = 0
    while (t < toks.length) {
      val s = toks(t)
      if (!s.isEmpty) {
        var acc = 0L
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          acc = (acc * cpBase + cp) % prime
          i += Character.charCount(cp)
        }
        whs(nw) = acc
        nw += 1
      }
      t += 1
    }
    val nBi = if (bi == 1L && nw >= 2) nw - 1 else 0
    val out = new Array[Int](nw + nBi)
    var j = 0
    while (j < nw) { out(j) = (whs(j) % d).toInt; j += 1 }
    var k = 0
    while (k < nBi) {
      out(nw + k) = (((whs(k) * biBase + whs(k + 1)) % prime) % d).toInt
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftHashedBuckets", this,
      classOf[HashedBuckets].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ vals[idx[i]] over an array<int> of indices into a FOLDABLE
  * array<double> literal — the map-side linear-model dot product (the
  * weight vector ships as a literal, exactly the bytes the driver
  * trained; no join, no shuffle). Accumulates left-to-right in index
  * order, matching the HOF spec (KernelSpecs.gatherSumHof). An index
  * outside [0, |vals|) raises a named error (buckets from
  * HashedBuckets are always in range when d = |vals|). */
case class GatherSum(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_gather_sum"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    left.dataType match {
      case ArrayType(IntegerType, _) =>
        try { require(vals.nonEmpty, s"$prettyName: empty weights literal")
          TypeCheckSuccess }
        catch { case scala.util.control.NonFatal(e) =>
          TypeCheckFailure(s"$prettyName: ${e.getMessage}") }
      case _ => TypeCheckFailure(s"$prettyName expects array<int> indices")
    }
  }

  @transient private lazy val vals: Array[Double] = {
    require(right.foldable, s"$prettyName: weights must be a literal")
    val v = right.eval(InternalRow.empty)
    require(v != null, s"$prettyName: weights literal is null")
    v.asInstanceOf[ArrayData].toDoubleArray()
  }

  def compute(idx: ArrayData): Any = {
    val n = idx.numElements()
    var sum = 0.0
    var i = 0
    while (i < n) {
      // a null element would read as getInt = 0 and silently gather
      // vals(0) (r12 review) — named error, same contract as
      // out-of-range
      if (idx.isNullAt(i))
        throw new IllegalArgumentException(
          s"$prettyName: null index at position $i")
      val j = idx.getInt(i)
      if (j < 0 || j >= vals.length)
        throw new IllegalArgumentException(
          s"$prettyName: index $j outside [0, ${vals.length})")
      sum += vals(j)
      i += 1
    }
    sum
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftGatherSum", this,
      classOf[GatherSum].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = (Double) $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Sketches {
  /** Every binary-state sketch aggregate family's (name, class, builder):
    * GraftExtensions injects these. */
  def aggregateBuilders: Seq[(String, String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] =
    CountMin.builders ++ Bloom.builders ++ Theta.builders

  def simhash63(tokenHashes: Column): Column =
    call_function("graft_simhash63", tokenHashes)

  def portableSimhash30(text: Column, mult: Long): Column =
    call_function("graft_simhash30_portable", text,
      org.apache.spark.sql.functions.lit(mult))

  def cosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  def nearestCellsL2(vec: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column =
    call_function("graft_nearest_cells_l2", vec,
      org.apache.spark.sql.functions.typedlit(centroids),
      org.apache.spark.sql.functions.lit(nProbe))

  def nearestCellsCos(vec: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column =
    call_function("graft_nearest_cells_cos", vec,
      org.apache.spark.sql.functions.typedlit(centroids),
      org.apache.spark.sql.functions.lit(nProbe))

  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    call_function("graft_pq_codes", vec,
      org.apache.spark.sql.functions.typedlit(codebooks))

  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text,
      org.apache.spark.sql.functions.lit(n))

  def inSetCounts(words: Column, dicts: Seq[Seq[String]]): Column =
    call_function("graft_inset_counts", words,
      org.apache.spark.sql.functions.typedlit(dicts))

  def rollingFp(words: Column): Column =
    call_function("graft_rolling_fp", words)

  def rollingFpPortable(words: Column): Column =
    call_function("graft_rolling_fp_portable", words)

  def dupWindowHashes(text: Column, params: Seq[Long]): Column =
    call_function("graft_dup_window_hashes", text,
      org.apache.spark.sql.functions.typedlit(params))

  def hashedBuckets(text: Column, params: Seq[Long]): Column =
    call_function("graft_hashed_buckets", text,
      org.apache.spark.sql.functions.typedlit(params))

  def gatherSum(idx: Column, vals: Seq[Double]): Column =
    call_function("graft_gather_sum", idx,
      org.apache.spark.sql.functions.typedlit(vals))

  def hyperplaneSignature(vec: Column, matrix: Column): Column =
    call_function("graft_hyperplane_sig", vec, matrix)

  def minhash64(shingles: Column, k: Int): Column =
    call_function("graft_minhash64", shingles,
      org.apache.spark.sql.functions.lit(k))

  def portableMinhash(text: Column, params: Seq[Long]): Column =
    call_function("graft_minhash_portable", text,
      org.apache.spark.sql.functions.typedlit(params))

  /** Every scalar kernel's (name, class, builder): GraftExtensions
    * injects these. */
  val scalarBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash63", classOf[SimHash63].getName,
      exprs => SimHash63(exprs.head)),
    ("graft_simhash30_portable", classOf[PortableSimhash30].getName,
      exprs => PortableSimhash30(exprs(0), exprs(1))),
    ("graft_hyperplane_sig", classOf[HyperplaneSignature].getName,
      exprs => HyperplaneSignature(exprs(0), exprs(1))),
    ("graft_minhash64", classOf[MinHash64].getName,
      exprs => MinHash64(exprs(0), exprs(1))),
    ("graft_minhash_portable", classOf[PortableMinHash].getName,
      exprs => PortableMinHash(exprs(0), exprs(1))),
    ("graft_cosine", classOf[CosineSim].getName,
      exprs => CosineSim(exprs(0), exprs(1))),
    ("graft_nearest_cells_l2", classOf[NearestCells].getName,
      exprs => NearestCells(exprs(0), exprs(1), exprs(2), byL2 = true)),
    ("graft_nearest_cells_cos", classOf[NearestCells].getName,
      exprs => NearestCells(exprs(0), exprs(1), exprs(2), byL2 = false)),
    ("graft_pq_codes", classOf[PqCodes].getName,
      exprs => PqCodes(exprs(0), exprs(1))),
    ("graft_shingles", classOf[Shingles].getName,
      exprs => Shingles(exprs(0), exprs(1))),
    ("graft_inset_counts", classOf[InSetCounts].getName,
      exprs => InSetCounts(exprs(0), exprs(1))),
    ("graft_rolling_fp", classOf[RollingFpXx].getName,
      exprs => RollingFpXx(exprs.head)),
    ("graft_rolling_fp_portable", classOf[RollingFpPortable].getName,
      exprs => RollingFpPortable(exprs.head)),
    ("graft_dup_window_hashes", classOf[DupWindowHashes].getName,
      exprs => DupWindowHashes(exprs(0), exprs(1))),
    ("graft_hashed_buckets", classOf[HashedBuckets].getName,
      exprs => HashedBuckets(exprs(0), exprs(1))),
    ("graft_gather_sum", classOf[GatherSum].getName,
      exprs => GatherSum(exprs(0), exprs(1))),
    // table function (UDTF analogue): custom Generator
    ("graft_ngrams", classOf[NGramsGenerator].getName,
      exprs => NGramsGenerator(exprs(0), exprs(1))))
}
