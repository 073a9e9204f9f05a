package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** gcd / lcm (reference: datafusion/functions/src/math/gcd.rs, lcm.rs) —
  * Spark has no built-in equivalents. Implemented as native Catalyst
  * binary expressions with `doGenCode` so they stay inside whole-stage
  * codegen (preference order per SURVEY.md §7: custom Expression beats any
  * UDF). Inputs are cast to LongType by the builder; GraftExtensions
  * injects both into the session FunctionRegistry, and the Column API
  * reaches them via `call_function` (Spark 4's Column no longer exposes
  * catalyst exprs).
  */
case class Gcd(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_gcd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    var x = math.abs(a.asInstanceOf[Long])
    var y = math.abs(b.asInstanceOf[Long])
    while (y != 0) { val t = x % y; x = y; y = t }
    x
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val t = ctx.freshName("t")
      s"""
         |long $x = Math.abs($a); long $y = Math.abs($b);
         |while ($y != 0L) { long $t = $x % $y; $x = $y; $y = $t; }
         |${ev.value} = $x;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class Lcm(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lcm"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = math.abs(a.asInstanceOf[Long])
    val y = math.abs(b.asInstanceOf[Long])
    if (x == 0 || y == 0) 0L
    else {
      var g0 = x; var g1 = y
      while (g1 != 0) { val t = g0 % g1; g0 = g1; g1 = t }
      x / g0 * y
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val g0 = ctx.freshName("g0")
      val g1 = ctx.freshName("g1")
      val t = ctx.freshName("t")
      s"""
         |long $x = Math.abs($a); long $y = Math.abs($b);
         |if ($x == 0L || $y == 0L) { ${ev.value} = 0L; } else {
         |  long $g0 = $x; long $g1 = $y;
         |  while ($g1 != 0L) { long $t = $g0 % $g1; $g0 = $g1; $g1 = $t; }
         |  ${ev.value} = $x / $g0 * $y;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NumberTheory {
  /** Resolve through GraftExtensions, which injects [[builders]]. */
  def gcd(a: Column, b: Column): Column = call_function("graft_gcd", a, b)
  def lcm(a: Column, b: Column): Column = call_function("graft_lcm", a, b)

  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_gcd", classOf[Gcd].getName,
      exprs => Gcd(Cast(exprs(0), LongType), Cast(exprs(1), LongType))),
    ("graft_lcm", classOf[Lcm].getName,
      exprs => Lcm(Cast(exprs(0), LongType), Cast(exprs(1), LongType))))
}
