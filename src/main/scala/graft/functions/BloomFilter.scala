package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType,
  DataType, IntegerType, LongType, ShortType}

/** Bloom filter — a second TypedImperativeAggregate with binary state
  * (reference surface: AggregateUDFImpl, datafusion/expr/src/udaf.rs:317),
  * built for the broadcast-sketch semi-join pattern: aggregate the
  * build side's keys into a fixed-size bit set, ship the sketch (not
  * the keys) to every scan task, and drop non-matching fact rows
  * map-side BEFORE any shuffle. False positives are then killed by an
  * exact join over the pre-filtered remnant — results stay exact, but
  * the shuffle carries only rows that pass the sketch. At 100 TB this
  * is the difference between shuffling the fact table and shuffling a
  * selective slice of it (Spark's own runtime row-group bloom filtering
  * applies the same idea inside the parquet reader).
  *
  * State: numBits/64 longs. update sets numHashes bits via double
  * hashing h1 + i·h2 (two xxhash64 passes per row, any input type);
  * merge is bitwise OR — commutative, associative, idempotent, so the
  * sketch is byte-identical under any partitioning or merge order.
  */
case class BloomFilterAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(numBits > 0 && numBits % 64 == 0, "numBits must be a multiple of 64")
  require(numHashes > 0 && numHashes <= 16, "numHashes in 1..16")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h1 = Bloom.keyHash(v, child.dataType, 0L)
      val h2 = Bloom.keyHash(v, child.dataType, 1L) | 1L
      var i = 0
      while (i < numHashes) {
        val bit = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
        buf(bit >>> 6) |= (1L << (bit & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) |= b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.length * 8)
    bb.putInt(numBits).putInt(numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val nb = bb.getInt(); val nh = bb.getInt()
    require(nb == numBits && nh == numHashes, "bloom dims mismatch")
    Array.fill(nb / 64)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BloomFilterAgg = copy(child = c.head)
}

/** Membership probe against a serialized bloom sketch: true iff every
  * probed bit is set (no false negatives; false-positive rate set by
  * the build's bits-per-key). The key is hashed by its own data type —
  * match the aggregated column's type. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  def compute(bytes: Array[Byte], key: Any): Boolean = {
    // fail loudly on a truncated or non-sketch binary instead of
    // reading garbage membership answers out of it
    require(bytes.length >= 8,
      s"not a graft_bloom sketch: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt(); val numHashes = bb.getInt()
    require(numBits > 0 && bytes.length == 8 + numBits / 8,
      s"not a graft_bloom sketch: ${bytes.length} bytes, header $numBits bits")
    val h1 = Bloom.keyHash(key, right.dataType, 0L)
    val h2 = Bloom.keyHash(key, right.dataType, 1L) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      if ((bb.getLong(8 + (bit >>> 6) * 8) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  override def nullSafeEval(sketch: Any, key: Any): Any =
    compute(sketch.asInstanceOf[Array[Byte]], key)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", this,
      classOf[BloomContains].getName)
    nullSafeCodeGen(ctx, ev,
      (s, k) => s"${ev.value} = $ref.compute($s, $k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Bloom {
  /** Hash a key for the bloom bit positions, widening integral types
    * to long first — a sketch built over an INT column probed with a
    * BIGINT key (or vice versa) must agree, or every probe would be a
    * silent false negative (xxhash64 hashes 4- and 8-byte ints
    * differently). Non-integral types hash by their own layout. */
  private[functions] def keyHash(v: Any, dt: DataType, seed: Long): Long =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val widened = v match {
          case b: java.lang.Byte => b.longValue()
          case s: java.lang.Short => s.longValue()
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l
          case other => other
        }
        XxHash64Function.hash(widened, LongType, seed)
      case _ => XxHash64Function.hash(v, dt, seed)
    }

  /** Aggregate a column into a serialized bloom filter. Size for ~10
    * bits per expected distinct key (fp ≈ 1% at numHashes=5). */
  def sketch(c: Column, numBits: Int = 1 << 20, numHashes: Int = 5): Column =
    call_function("graft_bloom", c, lit(numBits), lit(numHashes))

  /** True iff `key` may be in the sketch (exact: never false for an
    * inserted key). */
  def contains(sketch: Column, key: Column): Column =
    call_function("graft_bloom_contains", sketch, key)

  /** (name, impl class, builder): GraftExtensions injects these. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_bloom", classOf[BloomFilterAgg].getName,
      Theta.arity("graft_bloom", 3) { exprs =>
        def intLit(e: Expression, what: String): Int = {
          val ok = e.foldable && e.dataType ==
            org.apache.spark.sql.types.IntegerType
          val v = if (ok) e.eval(InternalRow.empty) else null
          if (v == null) throw new IllegalArgumentException(
            s"graft_bloom: $what must be a non-null int literal")
          v.asInstanceOf[Int]
        }
        BloomFilterAgg(exprs(0), intLit(exprs(1), "numBits"),
          intLit(exprs(2), "numHashes")).toAggregateExpression()
      }),
    ("graft_bloom_contains", classOf[BloomContains].getName,
      Theta.arity("graft_bloom_contains", 2)(
        exprs => BloomContains(exprs(0), exprs(1)))))
}
