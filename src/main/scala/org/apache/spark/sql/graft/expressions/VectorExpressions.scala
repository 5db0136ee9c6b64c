package org.apache.spark.sql.graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Codegen-friendly vector math over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>` columns.
 *
 * Semantics mirror the reference's `VectorOperations`
 * (reference: app/utils/embedding.py:69-113):
 *   - cosine_similarity: dot/(||a||*||b||); EITHER zero vector => 0.0
 *     (embedding.py:82-84); dimension mismatch raises (embedding.py:79-80).
 *   - euclidean_distance: L2 norm of (a-b) (embedding.py:87-96).
 *   - dot_product: sum a_i*b_i (embedding.py:98-104).
 *   - vector_norm: ||a||_2.
 *   - normalize_vector: a/||a||; zero vector returned unchanged
 *     (embedding.py:111-112).
 *
 * All binary ops compute in double precision with a single fused
 * sequential loop (same accumulation order as numpy's pairwise reduce is
 * NOT reproduced — we use plain sequential summation, which is also what
 * the DuckDB oracle does, making cross-engine comparison deterministic).
 * The hot expressions implement `doGenCode` so they stay inside
 * whole-stage codegen.
 */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes with Serializable {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)),
    TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @inline protected final def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    VectorBinaryExpression.get(a, i, isFloat)

  protected def checkDims(n1: Int, n2: Int): Unit = VectorBinaryExpression.checkDims(n1, n2)

  /** java source fragment reading element i of `v` as double. */
  protected def cget(v: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

object VectorBinaryExpression {
  @inline def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def checkDims(n1: Int, n2: Int): Unit =
    if (n1 != n2) throw new IllegalArgumentException(
      s"Vectors must have the same dimension: $n1 != $n2")
}

/** `cosine_sim(a, b)` — cosine similarity, zero-vector => 0.0. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSimilarity.eval(l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException("Vectors must have the same dimension: " +
         |    $n + " != " + $r.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${cget(l, i, elemIsFloat(left))};
         |  double $y = ${cget(r, i, elemIsFloat(right))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The interpreted scalar loop of [[CosineSimilarity]], callable on
  * its own (the driver-resident search path scores with it, so both
  * paths share one accumulation order; `doGenCode` mirrors it). */
object CosineSimilarity {
  def eval(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean): Double = {
    val n = a.numElements(); VectorBinaryExpression.checkDims(n, b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = VectorBinaryExpression.get(a, i, af); val y = VectorBinaryExpression.get(b, i, bf)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `euclidean_dist(a, b)` — L2 distance. */
case class EuclideanDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "euclidean_dist"

  override def nullSafeEval(l: Any, r: Any): Any =
    EuclideanDistance.eval(l.asInstanceOf[ArrayData], elemIsFloat(left),
      r.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException("Vectors must have the same dimension: " +
         |    $n + " != " + $r.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${cget(l, i, elemIsFloat(left))} - ${cget(r, i, elemIsFloat(right))};
         |  $acc += $d * $d;
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The interpreted scalar loop of [[EuclideanDistance]] (see
  * [[CosineSimilarity.eval]]). */
object EuclideanDistance {
  def eval(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean): Double = {
    val n = a.numElements(); VectorBinaryExpression.checkDims(n, b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = VectorBinaryExpression.get(a, i, af) - VectorBinaryExpression.get(b, i, bf)
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }
}

/** `dot_product(a, b)`. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val n = a.numElements(); checkDims(n, b.numElements())
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    var acc = 0.0; var i = 0
    while (i < n) { acc += get(a, i, af) * get(b, i, bf); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException("Vectors must have the same dimension: " +
         |    $n + " != " + $r.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (${cget(l, i, elemIsFloat(left))}) * (${cget(r, i, elemIsFloat(right))});
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vector_norm(a)` — L2 norm. */
case class VectorNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "vector_norm"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements(); var acc = 0.0; var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x; i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val x = ctx.freshName("x")
      val g = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $x = $g; $acc += $x * $x; }
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `normalize_vec(a)` — a/||a||, zero vector returned unchanged
 * (reference: app/utils/embedding.py:106-113). Returns ARRAY<DOUBLE>.
 * Not in the search hot path, so interpreted eval is fine (codegen
 * fallback).
 */
case class NormalizeVector(child: Expression)
    extends UnaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "normalize_vec"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Double](n)
    var acc = 0.0; var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x; acc += x * x; i += 1
    }
    val norm = math.sqrt(acc)
    if (norm == 0.0) new GenericArrayData(out)
    else {
      i = 0; while (i < n) { out(i) = out(i) / norm; i += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * `quantize_int8(a)` — symmetric per-vector INT8 quantization:
 * q_i = floor(x_i * (127/max|x|) + 0.5); all-zero vectors => all zeros.
 * Exact op order (`t = 127.0/mx`, then `x*t + 0.5`, floor) is part of
 * the contract: the DuckDB oracle replays it bit-for-bit (q73). One
 * tight loop per row — replaces the interpreted per-element lambda of
 * the `transform()` HOF form.
 */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def prettyName: String = "quantize_int8"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val x = new Array[Double](n)
    var mx = 0.0; var i = 0
    while (i < n) {
      val d = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      x(i) = d
      val ad = math.abs(d)
      if (ad > mx) mx = ad
      i += 1
    }
    val out = new Array[Int](n)
    if (mx != 0.0) {
      val t = 127.0 / mx
      i = 0; while (i < n) { out(i) = math.floor(x(i) * t + 0.5).toInt; i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `int8_scale(a)` — the 127/max|x| factor `quantize_int8` used (0.0
  * for zero vectors); `dequantize = q_i / scale`. */
case class Int8Scale(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "int8_scale"
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var mx = 0.0; var i = 0
    while (i < n) {
      val d = math.abs(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
      if (d > mx) mx = d
      i += 1
    }
    if (mx == 0.0) 0.0 else 127.0 / mx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val mx = ctx.freshName("mx"); val d = ctx.freshName("d")
      val g = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int $n = $v.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = Math.abs($g);
         |  if ($d > $mx) $mx = $d;
         |}
         |${ev.value} = ($mx == 0.0) ? 0.0 : 127.0 / $mx;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
