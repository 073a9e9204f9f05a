package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table function (UDTF) tier — the reference's `ctx.register_udtf`
  * (datafusion/core/src/datasource/function.rs) maps to a custom
  * Catalyst `Generator` in Spark: one input row → N output rows,
  * usable from SQL via `LATERAL VIEW graft_ngrams(text, n) t AS
  * pos, shingle`. Emits each distinct word n-gram of the text with its
  * first-occurrence position, reusing the Shingles tokenization so the
  * scalar and table forms agree exactly.
  *
  * Scale: generators stream — each input row's output rows are
  * produced lazily inside the task, so the 1→N fan-out never
  * materializes per-row arrays on the driver or in shuffle buffers
  * beyond the downstream operator's need.
  */
case class NGramsGenerator(text: Expression, nExpr: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, nExpr)
  override def prettyName: String = "graft_ngrams"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(text = newChildren(0), nExpr = newChildren(1))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (text.dataType == StringType && nExpr.dataType == IntegerType &&
        nExpr.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string, int literal)")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("shingle", StringType, nullable = false)))

  @transient private lazy val n: Int =
    nExpr.eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) Nil
    else {
      val seen = Shingles.shingleStrings(t.asInstanceOf[UTF8String], n)
      val out = new Array[InternalRow](seen.size())
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) {
        out(i) = InternalRow(i, UTF8String.fromString(it.next()))
        i += 1
      }
      out
    }
  }
}
