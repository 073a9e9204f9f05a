package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Count-min sketch — the TypedImperativeAggregate tier of the UDAF
  * surface (reference: AggregateUDFImpl with binary Accumulator state,
  * datafusion/expr/src/udaf.rs:317; the same custom-aggregate shape its
  * approx_distinct / approx_percentile sketches use).
  *
  * State is a flat depth×width long matrix; update hashes the value
  * once per row (xxhash64 seeded by the row index), merge is
  * elementwise addition — commutative and associative, so estimates
  * are DETERMINISTIC regardless of partitioning or merge order (unlike
  * order-sensitive sketches). The aggregate emits the serialized
  * sketch; `CountMinEstimate` reads point estimates out of it
  * (min over rows — an overestimate only on hash collision).
  *
  * Scale: fixed O(depth·width·8) state per partial regardless of
  * cardinality; the shuffle carries one sketch per partition.
  */
case class CountMinSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(depth > 0 && depth <= 16 && width > 0, "bad sketch dims")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_count_min"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var d = 0
      while (d < depth) {
        val h = XxHash64Function.hash(v, child.dataType, d.toLong)
        buf(d * width + java.lang.Math.floorMod(h, width.toLong).toInt) += 1
        d += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.length * 8)
    bb.putInt(depth).putInt(width)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val d = bb.getInt(); val w = bb.getInt()
    require(d == depth && w == width, "sketch dims mismatch")
    Array.fill(d * w)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CountMinSketchAgg = copy(child = c.head)
}

/** Point estimate from a serialized count-min sketch: min over the
  * depth rows of the counter each hash lands on. The key is hashed by
  * its own data type — match the aggregated column's type. */
case class CountMinEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_min_estimate"

  def compute(bytes: Array[Byte], key: Any): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val depth = bb.getInt(); val width = bb.getInt()
    var est = Long.MaxValue
    var d = 0
    while (d < depth) {
      val h = XxHash64Function.hash(key, right.dataType, d.toLong)
      val idx = 8 + (d * width + java.lang.Math.floorMod(h, width.toLong).toInt) * 8
      val c = bb.getLong(idx)
      if (c < est) est = c
      d += 1
    }
    est
  }

  override def nullSafeEval(sketch: Any, key: Any): Any =
    compute(sketch.asInstanceOf[Array[Byte]], key)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftCmEst", this,
      classOf[CountMinEstimate].getName)
    nullSafeCodeGen(ctx, ev,
      (s, k) => s"${ev.value} = $ref.compute($s, $k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CountMin {
  /** Aggregate a column into a serialized count-min sketch. */
  def sketch(c: Column, depth: Int = 4, width: Int = 1024): Column =
    call_function("graft_count_min", c, lit(depth), lit(width))

  /** Estimated count of `key` in a sketch built over the same-typed
    * column. */
  def estimate(sketch: Column, key: Column): Column =
    call_function("graft_count_min_estimate", sketch, key)

  /** (name, impl class, builder): GraftExtensions injects these. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_count_min", classOf[CountMinSketchAgg].getName,
      Theta.arity("graft_count_min", 3) { exprs =>
        // depth/width must be non-null int literals — fail with a clear
        // message at resolution, not a task-side cast error
        def intLit(e: Expression, what: String): Int = {
          val ok = e.foldable && e.dataType ==
            org.apache.spark.sql.types.IntegerType
          val v = if (ok) e.eval(InternalRow.empty) else null
          if (v == null) throw new IllegalArgumentException(
            s"graft_count_min: $what must be a non-null int literal")
          v.asInstanceOf[Int]
        }
        CountMinSketchAgg(exprs(0), intLit(exprs(1), "depth"),
          intLit(exprs(2), "width")).toAggregateExpression()
      }),
    ("graft_count_min_estimate", classOf[CountMinEstimate].getName,
      Theta.arity("graft_count_min_estimate", 2)(
        exprs => CountMinEstimate(exprs(0), exprs(1)))))
}
