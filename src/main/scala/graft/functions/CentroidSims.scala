package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_cent_sims(v, vnorm)` — the per-row array of
  * `(csim, -cent_id)` structs against a FIXED centroid set, fused into
  * one compiled pass.
  *
  * Replaces the literal formulation `array(struct(round(dot(v,
  * lit(cent))/…,6), lit(-id)) × nlist)`: that expands to nlist·dim
  * element-write statements at codegen, and past JIT method limits the
  * whole stage silently drops to the bytecode interpreter (profiled
  * 20-50 s of CPU per corpus pass on 2000 rows at nlist=45 inside
  * [[graft.pipeline.Similarity.ivfTopK]]). Here the centroid matrix
  * rides along as plain expression parameters, the loop is compiled
  * Scala invoked once per row from generated code, and nlist is no
  * longer bounded by codegen size — the documented "nlist ≈ 4k flat
  * argmax cap" disappears.
  *
  * Contract matches the literal form exactly:
  *  - entries ordered by ascending `cent_id` (as supplied);
  *  - `csim = round(dot(v, cent) / (vnorm · centnorm), 6)` with dot
  *    summed left-to-right and the rounding mirroring Spark's
  *    `round(_, 6)` on doubles (scala BigDecimal HALF_UP, NaN/Inf passed
  *    through) — pinned bit-for-bit in FunctionsSpec;
  *  - struct comparison is lexicographic, so `array_max` = best csim
  *    with ties to the LOWER cent_id, and ascending `array_sort` ends
  *    with the best entries.
  */
case class CentroidSimsExpr(
    left: Expression, right: Expression,
    ids: Seq[Long], cents: Seq[Double], norms: Seq[Double], dim: Int)
  extends BinaryExpression {

  require(ids.nonEmpty && cents.size == ids.size * dim && norms.size == ids.size,
    s"bad centroid geometry: ${ids.size} ids, ${cents.size} cells, " +
      s"${norms.size} norms, dim=$dim")

  override def prettyName: String = "graft_cent_sims"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("csim", DoubleType, nullable = false),
    StructField("negid", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(t, _), DoubleType) if t == FloatType || t == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, double), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  @transient private lazy val idArr = ids.toArray
  @transient private lazy val centArr = cents.toArray
  @transient private lazy val normArr = norms.toArray
  @transient private lazy val vIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Mirror of Spark's `round(x, 6)` on DoubleType (RoundBase): scala
    * BigDecimal, HALF_UP, NaN/±Inf unchanged. Pinned against the real
    * `round()` in FunctionsSpec. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One fused pass; invoked from both interpreted and generated code. */
  def compute(vRaw: ArrayData, vnorm: Double): ArrayData = {
    val n = math.min(dim, vRaw.numElements())
    val v = new Array[Double](n)
    var j = 0
    while (j < n) {
      v(j) = if (vIsFloat) vRaw.getFloat(j).toDouble else vRaw.getDouble(j)
      j += 1
    }
    val out = new Array[Any](idArr.length)
    var c = 0
    while (c < idArr.length) {
      val base = c * dim
      var s = 0.0
      var i = 0
      while (i < n) { s += v(i) * centArr(base + i); i += 1 }
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.update(0, round6(s / (vnorm * normArr(c))))
      row.update(1, -idArr(c))
      out(c) = row
      c += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any, vnorm: Any): Any =
    compute(v.asInstanceOf[ArrayData], vnorm.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("centSims", this, classOf[CentroidSimsExpr].getName)
    nullSafeCodeGen(ctx, ev, (v, vnorm) =>
      s"${ev.value} = $self.compute($v, $vnorm);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidSimsExpr =
    copy(left = newLeft, right = newRight)
}
