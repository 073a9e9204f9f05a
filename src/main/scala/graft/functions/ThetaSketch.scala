package graft.functions

import java.util.{TreeSet => JTreeSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** KMV ("theta") distinct sketch — the set-operation member of the
  * sketch-aggregate tier (reference: the AggregateUDFImpl binary-state
  * shape of datafusion/expr/src/udaf.rs:317, the same accumulator
  * contract its approx_distinct HLL uses —
  * functions-aggregate/src/approx_distinct.rs). HLL (agg_hll_sketch)
  * answers |A| only; the KMV state additionally supports UNION and
  * INTERSECTION estimates over already-aggregated sketches, which is
  * what makes per-partition/per-day distinct partials composable into
  * arbitrary set algebra without re-scanning data.
  *
  * State: the k smallest DISTINCT xxhash64 values of the column, masked
  * to [0, 2^63). That set is a pure function of the input VALUE SET —
  * insertion order, partitioning, and merge order cannot change it, so
  * sketches are byte-deterministic and `sketch(A ∪ B) == union(sketch A,
  * sketch B)` holds exactly (k smallest of a union = k smallest of the
  * two k-smallest sets).
  *
  * Estimation: with fewer than k distinct values the sketch holds every
  * hash, and the estimate is the EXACT distinct count (modulo 2^-63
  * collisions). Saturated, the k-th smallest hash θ estimates density:
  * |A| ≈ (k-1) · 2^63 / θ, relative error ~1/√(k-2). Intersection uses
  * the standard theta rule: θ = min(θ_A, θ_B), est = |{h ∈ A∩B, h < θ}|
  * · 2^63 / θ.
  *
  * Scale: O(k·8) bytes of state per partial regardless of cardinality;
  * the distinct-count shuffle carries one sketch per partition instead
  * of an Expand of the raw keys.
  */
case class ThetaSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[JTreeSet[java.lang.Long]] {
  require(k >= 16 && k <= (1 << 20), "theta sketch k out of range")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_theta_sketch"

  override def createAggregationBuffer(): JTreeSet[java.lang.Long] =
    new JTreeSet[java.lang.Long]()

  private def insert(set: JTreeSet[java.lang.Long], h: Long): Unit =
    if (set.size < k) { set.add(h); () }
    else if (h < set.last()) { if (set.add(h)) { set.pollLast(); () } }

  override def update(
      set: JTreeSet[java.lang.Long], input: InternalRow): JTreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      insert(set,
        XxHash64Function.hash(v, child.dataType, ThetaOps.Seed) & Long.MaxValue)
    }
    set
  }

  override def merge(
      b1: JTreeSet[java.lang.Long],
      b2: JTreeSet[java.lang.Long]): JTreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(set: JTreeSet[java.lang.Long]): Any = serialize(set)

  override def serialize(set: JTreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + set.size * 8)
    bb.putInt(k).putInt(set.size)
    val it = set.iterator() // ascending — canonical byte form
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): JTreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val kk = bb.getInt(); val n = bb.getInt()
    require(kk == k, "theta sketch k mismatch")
    val set = new JTreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong()); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
}

/** Shared sketch-byte algebra for the scalar expressions. */
object ThetaOps {
  val Seed = 0x7e7aL
  private val Two63 = 9.223372036854776e18 // 2^63 as double

  /** (k, retained hashes ascending). */
  def parse(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val k = bb.getInt(); val n = bb.getInt()
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = bb.getLong(); i += 1 }
    (k, arr)
  }

  private def pack(k: Int, arr: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + arr.length * 8)
    bb.putInt(k).putInt(arr.length)
    arr.foreach(bb.putLong)
    bb.array()
  }

  def estimate(bytes: Array[Byte]): Long = {
    val (k, arr) = parse(bytes)
    if (arr.length < k || arr.isEmpty) arr.length.toLong
    else {
      val theta = arr(arr.length - 1)
      if (theta <= 0L) arr.length.toLong
      else Math.round((k - 1).toDouble * Two63 / theta.toDouble)
    }
  }

  /** k smallest distinct hashes of the two retained sets (same k). */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (ka, xs) = parse(a); val (kb, ys) = parse(b)
    require(ka == kb, s"theta union: k mismatch ($ka vs $kb)")
    val out = new Array[Long](math.min(ka, xs.length + ys.length))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < xs.length || j < ys.length)) {
      val v =
        if (j >= ys.length || (i < xs.length && xs(i) <= ys(j))) {
          if (j < ys.length && ys(j) == xs(i)) j += 1
          val r = xs(i); i += 1; r
        } else { val r = ys(j); j += 1; r }
      out(n) = v; n += 1
    }
    pack(ka, if (n == out.length) out else out.take(n))
  }

  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val (ka, xs) = parse(a); val (kb, ys) = parse(b)
    // θ_X = 2^63 (nothing discarded) while unsaturated, else the max
    // retained hash; entries ≥ θ carry no density information.
    def theta(k: Int, arr: Array[Long]): Long =
      if (arr.length < k || arr.isEmpty) Long.MaxValue else arr(arr.length - 1)
    val th = math.min(theta(ka, xs), theta(kb, ys))
    var i = 0; var j = 0; var common = 0L
    while (i < xs.length && j < ys.length && xs(i) < th && ys(j) < th) {
      if (xs(i) == ys(j)) { common += 1; i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1
      else j += 1
    }
    if (th == Long.MaxValue || th <= 0L) common
    else Math.round(common.toDouble * Two63 / th.toDouble)
  }
}

/** Distinct-count estimate from a serialized theta sketch. */
case class ThetaEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_estimate"
  def compute(bytes: Array[Byte]): Long = ThetaOps.estimate(bytes)
  override def nullSafeEval(sketch: Any): Any =
    compute(sketch.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftThetaEst", this,
      classOf[ThetaEstimate].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Union of two theta sketches (same k) — a sketch of the value union. */
case class ThetaUnion(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_theta_union"
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    ThetaOps.union(a, b)
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftThetaUnion", this,
      classOf[ThetaUnion].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection-cardinality estimate of two theta sketches. */
case class ThetaIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_theta_intersect"
  def compute(a: Array[Byte], b: Array[Byte]): Long =
    ThetaOps.intersectEstimate(a, b)
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftThetaInter", this,
      classOf[ThetaIntersect].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Theta {
  /** Aggregate a column into a serialized KMV theta sketch. */
  def sketch(c: Column, k: Int = 4096): Column =
    call_function("graft_theta_sketch", c, lit(k))
  /** Distinct-count estimate of a sketch. */
  def estimate(sk: Column): Column =
    call_function("graft_theta_estimate", sk)
  /** Sketch of the union of two sketches' value sets (same k). */
  def union(a: Column, b: Column): Column =
    call_function("graft_theta_union", a, b)
  /** Intersection-cardinality estimate of two sketches. */
  def intersect(a: Column, b: Column): Column =
    call_function("graft_theta_intersect", a, b)

  private[functions] def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name takes $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  /** (name, impl class, builder): GraftExtensions injects these. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_theta_sketch", classOf[ThetaSketchAgg].getName,
      arity("graft_theta_sketch", 2) { exprs =>
        val kExpr = exprs(1)
        val ok = kExpr.foldable &&
          kExpr.dataType == org.apache.spark.sql.types.IntegerType
        val v = if (ok) kExpr.eval(InternalRow.empty) else null
        if (v == null) throw new IllegalArgumentException(
          "graft_theta_sketch: k must be a non-null INT literal " +
            s"(got ${kExpr.dataType.simpleString})")
        ThetaSketchAgg(exprs(0), v.asInstanceOf[Int]).toAggregateExpression()
      }),
    ("graft_theta_estimate", classOf[ThetaEstimate].getName,
      arity("graft_theta_estimate", 1)(e => ThetaEstimate(e(0)))),
    ("graft_theta_union", classOf[ThetaUnion].getName,
      arity("graft_theta_union", 2)(e => ThetaUnion(e(0), e(1)))),
    ("graft_theta_intersect", classOf[ThetaIntersect].getName,
      arity("graft_theta_intersect", 2)(e => ThetaIntersect(e(0), e(1)))))
}
