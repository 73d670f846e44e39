package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the similarity operators
  * (graft.operators.Similarity): dot product / norm / cosine over
  * ARRAY<FLOAT> / ARRAY<DOUBLE> columns in one JVM loop (mixed element
  * types allowed — each side converts by its own type).
  *
  * The `zip_with` + `aggregate` formulation allocates an intermediate
  * array and evaluates two lambda expressions per element per row —
  * fatal when cosine runs over millions of candidate pairs. These stay
  * inside whole-stage codegen via static calls. Summation is strict
  * index order, so results are bit-identical to the sequential oracle.
  */
object VectorImpl {

  def arrF(a: ArrayData): Array[Double] = {
    val f = a.toFloatArray(); val d = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { d(i) = f(i); i += 1 }
    d
  }

  def arrD(a: ArrayData): Array[Double] = a.toDoubleArray()

  def dot(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  def norm(x: Array[Double]): Double = math.sqrt(dot(x, x))

  def cosine(x: Array[Double], y: Array[Double]): Double = {
    val d = dot(x, y)
    val nx = norm(x)
    val ny = norm(y)
    if (nx == 0.0 || ny == 0.0) 0.0 else d / (nx * ny)
  }
}

private object VectorExprs {
  /** Name of the ArrayData→double[] converter for an array column. */
  def conv(dt: DataType): String = dt match {
    case ArrayType(FloatType, _) => "arrF"
    case _ => "arrD"
  }
  def toArr(dt: DataType, v: Any): Array[Double] = dt match {
    case ArrayType(FloatType, _) => VectorImpl.arrF(v.asInstanceOf[ArrayData])
    case _ => VectorImpl.arrD(v.asInstanceOf[ArrayData])
  }
}

/** `vec_dot(a, b)` → DOUBLE. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.dot(VectorExprs.toArr(left.dataType, a),
      VectorExprs.toArr(right.dataType, b))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorImpl.dot(" +
        s"graft.functions.VectorImpl.${VectorExprs.conv(left.dataType)}($a), " +
        s"graft.functions.VectorImpl.${VectorExprs.conv(right.dataType)}($b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "vec_dot"
}

/** `vec_cosine(a, b)` → DOUBLE in [-1, 1]; 0 for zero-norm inputs. */
case class VecCosine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorImpl.cosine(VectorExprs.toArr(left.dataType, a),
      VectorExprs.toArr(right.dataType, b))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorImpl.cosine(" +
        s"graft.functions.VectorImpl.${VectorExprs.conv(left.dataType)}($a), " +
        s"graft.functions.VectorImpl.${VectorExprs.conv(right.dataType)}($b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
  override def prettyName: String = "vec_cosine"
}

/** `vec_norm(a)` → DOUBLE L2 norm. */
case class VecNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any): Any =
    VectorImpl.norm(VectorExprs.toArr(child.dataType, a))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorImpl.norm(" +
        s"graft.functions.VectorImpl.${VectorExprs.conv(child.dataType)}($c))")
  override protected def withNewChildInternal(c: Expression): VecNorm = copy(c)
  override def prettyName: String = "vec_norm"
}
