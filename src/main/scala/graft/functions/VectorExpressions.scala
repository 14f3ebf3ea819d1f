package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Native cosine similarity over two double arrays, with whole-stage
  * codegen (`doGenCode` emits a single fused loop — one pass computes
  * dot product and both norms, no intermediate arrays).
  *
  * The composed-builtin equivalent
  * (`aggregate(zip_with(a,b,_*_),0.0,_+_) / (sqrt(...)*sqrt(...))`)
  * allocates a zipped array per row and walks each vector three times;
  * per the charter's preference order a custom Expression is the right
  * tool for this hot scalar. Summation is the same left-to-right fold,
  * so results are bit-identical to the HOF form (FunctionsSpec pins
  * this). Nothing rewrites the HOF form into this node: callers build
  * it through [[Kernels.cosineSim]] (or `cosine_sim` in SQL).
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
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.getDouble($i);
         |  double $yv = $y.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 distance over two double arrays — the k-means
  * assignment kernel. Same motivation and contract as
  * [[CosineSimilarity]]: one fused codegen'd loop, no intermediate
  * arrays, and the accumulation is the identical left-to-right fold as
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)`, so
  * results are bit-equal to the HOF form (pinned in FunctionsSpec) and
  * to DuckDB's sequential `list_reduce`. The HOF form runs interpreted
  * (higher-order functions are CodegenFallback) — measured ~7s of the
  * sf0.1 k-means spent in interpreted lambda dispatch that this
  * expression removes. Built through [[Kernels.l2Sq]] (or `l2_sq`). */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $x.getDouble($i) - $y.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}

/** Hyperplane signature bits: for each plane (a row of the literal
  * planes matrix), 1 if the left-to-right dot product with the vector
  * is > 0 else 0. One fused codegen'd nested loop replaces `bits`
  * interpreted HOF folds per row — the hot kernel of both LSH paths
  * (annLsh / nearDupLsh), where the HOF form spent seconds in lambda
  * dispatch at sf0.1. Accumulation per plane is the same left-to-right
  * fold as `aggregate(zip_with(v, p, _*_), 0.0, _+_)`, so the sign
  * decisions (and every downstream band value and candidate set) are
  * bit-identical to the HOF form and to the DuckDB oracle's
  * `list_reduce`. */
case class PlaneSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<array<double>>), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "plane_sig"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val planes = b.asInstanceOf[ArrayData]
    val bits = new Array[Int](planes.numElements())
    var j = 0
    while (j < bits.length) {
      val p = planes.getArray(j)
      val n = math.min(v.numElements(), p.numElements())
      var acc = 0.0; var i = 0
      while (i < n) { acc += v.getDouble(i) * p.getDouble(i); i += 1 }
      bits(j) = if (acc > 0) 1 else 0
      j += 1
    }
    new GenericArrayData(bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, planes) => {
      val bits = ctx.freshName("bits")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int[] $bits = new int[$planes.numElements()];
         |for (int $j = 0; $j < $bits.length; $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $p = $planes.getArray($j);
         |  int $n = java.lang.Math.min($v.numElements(), $p.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $v.getDouble($i) * $p.getDouble($i);
         |  }
         |  $bits[$j] = $acc > 0 ? 1 : 0;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bits);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PlaneSignature =
    copy(left = newLeft, right = newRight)
}
