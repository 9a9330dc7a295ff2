package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd vector kernels for the similarity operators. Each
  * accumulates LEFT-TO-RIGHT — the exact IEEE op sequence of the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` folds they replace and of
  * the DuckDB oracles' `list_reduce` — so every hash-checked cosine
  * stays bit-identical while moving from the interpreted higher-order
  * evaluator into whole-stage codegen.
  */
object VecMath {
  /** Σ a(i)·b(i) over doubles, left to right. Callers (the Catalyst
    * expressions below) enforce the equal-length contract and yield
    * NULL on ragged inputs — matching the `aggregate(zip_with(…))`
    * spec, which zips to the shorter array and NULLs the fold when the
    * lengths differ, so corrupt embedding arrays surface as nulls
    * instead of plausible-but-wrong cosines. */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** √Σ x², same fold order as `sqrt(aggregate(transform(a, x*x), …))`. */
  def normL2(a: ArrayData): Double = {
    val x = a.toDoubleArray()
    var acc = 0.0
    var i = 0
    while (i < x.length) { acc += x(i) * x(i); i += 1 }
    math.sqrt(acc)
  }

  /** Integer dot product over int arrays accumulated in long — exact,
    * so int8-ANN candidate sets stay engine-reproducible. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val x = a.toIntArray()
    val y = b.toIntArray()
    val n = math.min(x.length, y.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += x(i).toLong * y(i); i += 1 }
    acc
  }

  /** |a ∩ b| for two SORTED-distinct long arrays via a merge scan —
    * O(m+n) with zero allocation, replacing `array_intersect`'s
    * per-pair hash set in the dedup verify stage. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    var i = 0
    var j = 0
    var n = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { n += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    n
  }

  /** Random-hyperplane component for (table, plane, dim): uniform in
    * [-1, 1] at exact 3-decimal steps, from the first 4 bytes of
    * md5("table:plane/dim") read as an unsigned int. Depends only on the
    * indices, so the oracle SQL can embed the same literals. */
  def lshPlaneValue(table: Int, p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$table:$p/$d".getBytes("UTF-8"))
    val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    ((u % 2001) - 1000).toDouble / 1000.0
  }

  // One hyperplane table per (numTables, numPlanes, maxDim), built once
  // per JVM: a constant of the indices, flattened as
  // planes((t * numPlanes + p) * maxDim + d).
  private val lshPlaneTables = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int), Array[Double]]()

  def lshPlanes(numTables: Int, numPlanes: Int, maxDim: Int): Array[Double] =
    lshPlaneTables.computeIfAbsent((numTables, numPlanes, maxDim), _ =>
      Array.tabulate(numTables * numPlanes * maxDim)(i => lshPlaneValue(
        i / (numPlanes * maxDim), (i / maxDim) % numPlanes, i % maxDim)))

  /** `(t, b)` for t in 0 until numTables: b folds one sign bit per plane,
    * `b * 2 + bit`, in plane order. A plane's dot is [[dotD]] of `vec`
    * and the plane truncated to `vec`'s length; bit 1 iff dot >= 0 in
    * Spark's ordering, where NaN sorts above every value. A null vector,
    * or one longer than `maxDim` (no plane to dot it with), has bit 0 on
    * every plane. */
  def lshTableBuckets(vec: ArrayData, planes: Array[Double], numTables: Int,
      numPlanes: Int, maxDim: Int): ArrayData = {
    val x = if (vec == null) null else vec.toDoubleArray()
    val usable = x != null && x.length <= maxDim
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      var b = 0L
      var p = 0
      while (usable && p < numPlanes) {
        val base = (t * numPlanes + p) * maxDim
        var acc = 0.0
        var i = 0
        while (i < x.length) { acc += x(i) * planes(base + i); i += 1 }
        b = b * 2 + (if (acc >= 0.0 || java.lang.Double.isNaN(acc)) 1 else 0)
        p += 1
      }
      out(t) = InternalRow(t, b)
      t += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------ Column forms
  def dotD(a: Column, b: Column): Column =
    GraftBridge.column(DotD(GraftBridge.expression(a), GraftBridge.expression(b)))
  def normL2(a: Column): Column =
    GraftBridge.column(NormL2(GraftBridge.expression(a)))
  def dotLong(a: Column, b: Column): Column =
    GraftBridge.column(DotLong(GraftBridge.expression(a), GraftBridge.expression(b)))
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectSize(GraftBridge.expression(a),
      GraftBridge.expression(b)))
  def lshTableBuckets(vec: Column, numTables: Int, numPlanes: Int,
      maxDim: Int): Column =
    GraftBridge.column(LshTableBuckets(GraftBridge.expression(vec),
      numTables, numPlanes, maxDim))
}

case class DotD(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_d"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else VecMath.dotD(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
      |else { ${ev.value} = graft.functions.VecMath.dotD($a, $b); }
    """.stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

case class NormL2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "norm_l2"
  override def nullSafeEval(input: Any): Any =
    VecMath.normL2(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input =>
      s"${ev.value} = graft.functions.VecMath.normL2($input);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_long"
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else VecMath.dotLong(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
      |else { ${ev.value} = graft.functions.VecMath.dotLong($a, $b); }
    """.stripMargin)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Inputs MUST be sorted-distinct long arrays (the
  * [[TextHash.hashedNgrams]] output contract). */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_size"
  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.sortedIntersectSize(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecMath.sortedIntersectSize($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Multi-table LSH sign buckets of a double vector as one call:
  * `array<struct<t:int, b:bigint>>`, one entry per table in table
  * order, never null ([[VecMath.lshTableBuckets]] gives a null vector
  * bucket 0). The hyperplanes ship as one reference object, so the plan
  * holds no plane literals. */
case class LshTableBuckets(child: Expression, numTables: Int, numPlanes: Int,
    maxDim: Int) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_table_buckets"

  @transient private lazy val planes =
    VecMath.lshPlanes(numTables, numPlanes, maxDim)

  override def eval(input: InternalRow): Any =
    VecMath.lshTableBuckets(child.eval(input).asInstanceOf[ArrayData],
      planes, numTables, numPlanes, maxDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val pl = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    ev.copy(code = code"""
      |${v.code}
      |ArrayData ${ev.value} = graft.functions.VecMath.lshTableBuckets(
      |  ${v.isNull} ? null : ${v.value}, $pl, $numTables, $numPlanes, $maxDim);
    """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
