package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd cosine similarity over two `array<double>` columns —
  * the SURVEY §2.11 promotion path: compose built-ins → Scala UDF →
  * **Catalyst Expression with doGenCode** (this). One fused loop computes
  * dot and both norms (the HOF/UDF forms fold three times or once +
  * boxing); whole-stage codegen inlines it into the join stage with no
  * lambda or serialization overhead.
  *
  * Arithmetic is the same ascending left fold as `Dedup.cosine` /
  * `Dedup.dotUdf`, so all three forms produce bit-identical doubles
  * (CosineSimilaritySpec asserts it).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = va.getDouble(i)
      val y = vb.getDouble(i)
      acc += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    acc / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $acc += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $acc / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column API: `cosine_sim($"a", $"b")`. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Builder with arity validation (the SQL registration in [[GraftExtensions]]). */
  def build(exprs: Seq[Expression]): CosineSimilarity = {
    require(exprs.length == 2,
      s"cosine_sim takes exactly 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs.head, exprs(1))
  }
}
