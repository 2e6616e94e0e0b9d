package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Fused int8 scalar quantization — `graft_quant8(v)` for
  * `v ARRAY<DOUBLE>` returns `STRUCT<q: ARRAY<TINYINT>, scale: DOUBLE>`,
  * bit-identical to the composed q_v7 rule the index builds used
  * ([[graft.operators.NswIndex.withQuant]] /
  * [[graft.operators.IvfIndex.quantizeCells]]):
  * {{{
  *   absmax = aggregate(v, 0.0, (a, x) -> greatest(a, abs(x)))
  *   scale  = when(absmax > 0.0, absmax / 127.0).otherwise(1.0)
  *   q      = transform(v, x -> round(x / scale, 0).cast("tinyint"))
  * }}}
  *
  * Exists because the composed form costs ~3–4 s of the 1e5 × 768-d int8
  * index build (measured r19, NswProfile): three interpreted HOF array
  * passes with per-element lambda dispatch, and — the dominant term —
  * Spark's `round` on DOUBLE goes through
  * `BigDecimal.valueOf(x).setScale(0, HALF_UP)`, which stringifies every
  * element (`Double.toString` inside `valueOf`). This expression is one
  * primitive JVM pass per row, no BigDecimal, no per-element allocation.
  *
  * Bit-parity argument (pinned empirically by Quant8Spec over adversarial
  * inputs, and transitively by the oracled q_v6f/q_v8f/q_x recall
  * families):
  *  - absmax: same left fold; `greatest` on doubles compares with
  *    `Utils.nanSafeCompareDoubles` (NaN greatest), mirrored here.
  *  - the `> 0.0` guard also compares nanSafe (NaN > 0.0 is true).
  *  - `round(x, 0)` on DOUBLE returns x unchanged for NaN/±Inf, else
  *    `BigDecimal.valueOf(x).setScale(0, HALF_UP).toDouble`. For scale 0
  *    the decimal rounding boundaries (n.0 and n.5) are exactly
  *    representable doubles, and `BigDecimal.valueOf(x)` (the shortest
  *    decimal that round-trips to x) preserves order against any exactly
  *    representable boundary b: if D = valueOf(x) sat on the other side
  *    of b than x, the closest double to D would be on b's side, not x —
  *    contradicting the round-trip. So decimal HALF_UP at scale 0 equals
  *    binary half-up: r = floor(|x|), +1 iff |x| − r >= 0.5 (that
  *    subtraction is exact for any finite double), sign restored.
  *  - `.cast("tinyint")` is the JVM double→byte conversion (d2l + l2b),
  *    `x.toByte` here. For a NORMAL absmax, |x| ≤ 127·(1+ulp) by
  *    construction, so the rounded value always fits. For a SUBNORMAL
  *    absmax it need not: absmax/127 rounds to the subnormal grid
  *    (absmax = 190·MinPositiveValue gives scale = MinPositiveValue and
  *    x = 190), where the composed cast raised ANSI CAST_OVERFLOW. This
  *    form raises too — an ArithmeticException naming the element —
  *    instead of wrapping the byte. NON-finite elements also CRASHED the
  *    composed form — no persisted index ever contained them — while
  *    this form quantizes them through the same d2l→l2b conversion
  *    (Quant8Spec pins all three behaviors).
  *  - A null element raises (IllegalArgumentException): the composed
  *    form propagated a null q element, which the declared
  *    `q ARRAY<TINYINT NOT NULL>` output cannot hold.
  */
final case class Quant8(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = Quant8.OutType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_quant8 expects ARRAY<DOUBLE>, got ${other.catalogString}")
  }

  /** `Utils.nanSafeCompareDoubles(x, y) > 0` (NaN greatest, equal ⇒
    * false), restated locally — the Spark helper is private[spark]. */
  private def nanSafeGt(x: Double, y: Double): Boolean = {
    val xN = java.lang.Double.isNaN(x)
    val yN = java.lang.Double.isNaN(y)
    if ((xN && yN) || x == y) false
    else if (xN) true
    else if (yN) false
    else x > y
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // absmax: left fold from 0.0 with nanSafe greatest(acc, abs(x))
    var absmax = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(s"graft_quant8: null element at index $i")
      val a = math.abs(arr.getDouble(i))
      if (nanSafeGt(a, absmax)) absmax = a
      i += 1
    }
    val scale = if (nanSafeGt(absmax, 0.0)) absmax / 127.0 else 1.0
    val q = new Array[Byte](n)
    i = 0
    while (i < n) {
      val x = arr.getDouble(i) / scale
      val rounded =
        if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
        else {
          val ax = math.abs(x)
          val f = math.floor(ax)
          val r = if (ax - f >= 0.5) f + 1.0 else f
          if (r > 127.0)
            throw new ArithmeticException(s"graft_quant8: element $i quantizes " +
              s"to ${if (x < 0.0) -r else r}, outside TINYINT (scale $scale " +
              s"from the subnormal absmax $absmax)")
          if (x < 0.0) -r else r
        }
      q(i) = rounded.toByte
      i += 1
    }
    new GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(q), scale))
  }

  override protected def withNewChildInternal(newChild: Expression): Quant8 =
    copy(child = newChild)
}

object Quant8 {
  val OutType: StructType = StructType(Seq(
    StructField("q", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("scale", DoubleType, nullable = false)))
}
