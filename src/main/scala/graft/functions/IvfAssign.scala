package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Top-`k` centroid positions by norm-corrected integer dot score — the
  * IVF spill-assignment hot path as ONE native loop (round 20). Replaces
  * the composed chain `scores = array(dot(qvd, c_i)/‖c_i‖ ×k)` + iterative
  * `array_position(s, array_max(s))` / `zip_with` masking, whose
  * higher-order functions are CodegenFallback and re-walk the k-score
  * array per row per assignment round (the rcorpus checkpoint measured
  * 16.6 s of task time at sf0.1 — mostly this chain).
  *
  * EXACTNESS: score_i = (Σ_j qv_j·c_ij as doubles, strict left-to-right —
  * [[DotProduct]]'s fold) / sqrt(Σ_j (c_ij·c_ij).toDouble, long squares
  * widened after the multiply, left-to-right, as the composed form);
  * selection = repeatedly take the FIRST position of the
  * maximum and mask it, i.e. order by (score desc, position asc) — the
  * composed argmax-and-mask rule. Positions are 1-based longs (what
  * `array_position` returned). Centroids whose length differs from qv
  * score NULL in the composed form and can never win — mirrored by
  * skipping them. Null qv/matrix → NULL.
  */
case class TopCentroids(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_centroids"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _))
        if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<array<bigint>>) and " +
          s"k >= 1, got (${left.dataType.catalogString}, " +
          s"${right.dataType.catalogString}), k=$k")
    }

  def compute(qv: ArrayData, cents: ArrayData): ArrayData = {
    val n = cents.numElements()
    val d = qv.numElements()
    val scores = new Array[Double](n)
    val usable = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val c = cents.getArray(i)
      if (c != null && c.numElements() == d) {
        var dotv = 0.0
        var nrm2 = 0.0
        var j = 0
        while (j < d) {
          val cj = c.getLong(j)
          dotv += qv.getLong(j).toDouble * cj.toDouble
          nrm2 += (cj * cj).toDouble
          j += 1
        }
        scores(i) = dotv / math.sqrt(nrm2)
        usable(i) = true
      }
      i += 1
    }
    val take = math.min(k, usable.count(identity))
    val out = new Array[Long](take)
    var t = 0
    while (t < take) {
      var best = -1
      var i2 = 0
      while (i2 < n) {
        // Double.compare: NaN sorts largest — Spark's double ordering
        // (unreachable here: zero centroids are filtered upstream, so
        // nrm2 > 0; kept for strict semantic mirroring)
        if (usable(i2) && (best < 0 ||
            java.lang.Double.compare(scores(i2), scores(best)) > 0)) best = i2
        i2 += 1
      }
      out(t) = best + 1L // array_position is 1-based
      usable(best) = false
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(qv: Any, cents: Any): Any =
    compute(qv.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCentroids", this,
      classOf[TopCentroids].getName)
    nullSafeCodeGen(ctx, ev, (q, c) => s"${ev.value} = $ref.compute($q, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TopCentroids {
  def apply(qv: Column, cents: Column, k: Int): Column =
    Bridge.column(TopCentroids(Bridge.expression(qv),
      Bridge.expression(cents), k))
}

/** Element-wise long-array add/subtract — `zip_with(a, b, _±_)` as one
  * native loop (round 20): zip_with is CodegenFallback and sits in the
  * PQ residual path evaluated once per (vector, assigned list) row.
  * EXACTNESS mirrors zip_with: result length = max(|a|,|b|); positions
  * past the shorter side (or null elements) yield NULL elements; null
  * inputs → NULL. */
case class VecAddSub(left: Expression, right: Expression, add: Boolean)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (add) "graft_vec_add" else "graft_vec_sub"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> inputs, got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = if (add) a.getLong(i) + b.getLong(i)
                 else a.getLong(i) - b.getLong(i)
      // else stays null — zip_with's padding
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecAddSub", this,
      classOf[VecAddSub].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecAddSub {
  def sub(a: Column, b: Column): Column =
    Bridge.column(VecAddSub(Bridge.expression(a), Bridge.expression(b),
      add = false))
  def add(a: Column, b: Column): Column =
    Bridge.column(VecAddSub(Bridge.expression(a), Bridge.expression(b),
      add = true))
}

/** Normalized int8 quantization of an embedding — the
  * `transform(emb, x => clamp(floor(x·127/‖emb‖ + 0.5)))` chain as one
  * native loop (round 20; the transform HOF is CodegenFallback in the
  * corpus scan). EXACTNESS: per element, floor((x·127.0)/nrm + 0.5) in
  * that association order, double→long cast truncation, then the
  * long-domain clamp greatest(-127, least(127, v)) — the composed
  * normQuant/normalizedQuantVecs arithmetic verbatim. `nrm` is the
  * caller's already-computed norm column (the composed form divides by
  * the same column). Zero/negative nrm is the caller's filtered-out or
  * when-guarded case — mirrored anyway (IEEE division, same result). */
case class NormQuantVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_norm_quant"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            org.apache.spark.sql.types.DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(emb: ArrayData, nrm: Double): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = math.floor(emb.getDouble(i) * 127.0 / nrm + 0.5).toLong
      out(i) = math.max(-127L, math.min(127L, v))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(emb: Any, nrm: Any): Any =
    compute(emb.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normQuant", this,
      classOf[NormQuantVec].getName)
    nullSafeCodeGen(ctx, ev, (e, s) => s"${ev.value} = $ref.compute($e, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NormQuantVec {
  def apply(emb: Column, nrm: Column): Column =
    Bridge.column(NormQuantVec(Bridge.expression(emb), Bridge.expression(nrm)))
}

/** Abs-max int8 quantization of an embedding — quantizedVecs' composed
  * `_scale = array_max(transform(emb, abs)) / 127.0` +
  * `when(_scale === 0.0, zeros).otherwise(transform(emb, x =>
  * clamp(floor(x / _scale + 0.5))))` chain as ONE native loop (round 21;
  * the r20 verdict's remaining-interpreted-hot-paths item: both
  * transform HOFs are CodegenFallback in the kmeans/semantic-dedup
  * corpus scans). EXACTNESS mirrors the composed spelling branch by
  * branch: the max skips null elements and orders NaN largest (Spark's
  * double ordering); scale is max/127.0 with THAT division (a subnormal
  * max can underflow it to 0.0 — then the when() branch yields all
  * zeros over every position, null elements included); a null/empty max
  * (⇒ null scale) null-divides every element, so the result is an array
  * of nulls — which the clamp then folds to 127, because Spark's
  * least/greatest SKIP null arguments (least(127, NULL) = 127,
  * greatest(-127, 127) = 127); otherwise per element
  * floor(x/scale + 0.5) in that association order, double→long cast
  * truncation (NaN → 0), then the same null-skipping clamp — so a null
  * element in the else branch also becomes 127, never null.
  * FunctionsSpec pins byte parity against the composed chain. */
case class AbsMaxQuantVec(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_absmax_quant"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.catalogString}")
  }

  def compute(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    var m = 0.0
    var has = false
    var i = 0
    while (i < n) {
      if (!emb.isNullAt(i)) {
        val a = math.abs(emb.getDouble(i))
        if (!has || java.lang.Double.compare(a, m) > 0) { m = a; has = true }
      }
      i += 1
    }
    if (!has) {
      // null scale: x / NULL is NULL at every position, and the
      // null-skipping clamp folds NULL to least(127, NULL) = 127
      new GenericArrayData(Array.fill[Any](n)(127L))
    } else if (m / 127.0 == 0.0) {
      // when(_scale === 0.0, transform(_, _ => 0L)): zeros at EVERY
      // position, null input elements included (transform's constant
      // lambda ignores the element)
      new GenericArrayData(Array.fill[Any](n)(0L))
    } else {
      val scale = m / 127.0
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        out(j) = if (emb.isNullAt(j)) 127L // null-skipping clamp, see above
        else {
          val v = math.floor(emb.getDouble(j) / scale + 0.5).toLong
          math.max(-127L, math.min(127L, v))
        }
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override def nullSafeEval(emb: Any): Any =
    compute(emb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("absMaxQuant", this,
      classOf[AbsMaxQuantVec].getName)
    nullSafeCodeGen(ctx, ev, e => s"${ev.value} = $ref.compute($e);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object AbsMaxQuantVec {
  def apply(emb: Column): Column =
    Bridge.column(AbsMaxQuantVec(Bridge.expression(emb)))
}
