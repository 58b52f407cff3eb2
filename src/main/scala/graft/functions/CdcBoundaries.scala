package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `cdc_boundaries(tk, window, divisor)`: content-defined-chunking
  * boundary positions over a token array — every 1-based position `i`
  * in `[window, n]` where the 60-bit md5 prefix hash of the space-joined
  * trailing `window` tokens divides `divisor`
  * ([[graft.operators.DedupOps.cdcSegmentDedup]]'s boundary rule) — in
  * ONE per-row loop. The HOF formulation
  * (`filter(sequence(w, n), i -> pmod(h60(array_join(slice(tk, ...),
  * ' ')), d) = 0)`) runs slice + join + CONV(SUBSTRING(MD5)) through
  * Catalyst's interpreted lambda evaluator per POSITION — the same trap
  * fixed natively for SimHash (~12→1.5 s), `poly_fingerprint` and
  * `lang_scores`; the round-6 bench measured it at 15.6 task-seconds,
  * the #2 query corpus-wide.
  *
  * Exact-replay contract (bit-identical to the HOF form and the DuckDB
  * oracle): the window string is the exact `array_join(..., ' ')` —
  * NULL tokens are SKIPPED without emitting their delimiter, matching
  * Spark's null-dropping `array_join` — hashed through the same
  * [[PolyFingerprint.h60]] md5-prefix path (no hex string round-trip);
  * h60 is non-negative so Java `%` ≡ `pmod`. `n < window` yields an
  * empty array, as the HOF's CASE guard does. */
case class CdcBoundaries(child: Expression, window: Int, divisor: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = CdcBoundaries.fnName

  override def nullSafeEval(input: Any): Any =
    CdcBoundaries.boundaries(input.asInstanceOf[ArrayData], window, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.CdcBoundaries.boundaries($c, $window, ${divisor}L);"
    })

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

object CdcBoundaries {
  val fnName = "cdc_boundaries"

  /** Java-callable whole-row scan: boundary positions of one document. */
  def boundaries(tk: ArrayData, window: Int, divisor: Long): ArrayData = {
    val n = tk.numElements()
    if (n < window) return new GenericArrayData(Array.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sb = new java.lang.StringBuilder
    var i = window // 1-based window END position
    while (i <= n) {
      sb.setLength(0)
      var j = i - window // 0-based window start
      var first = true
      while (j < i) {
        if (!tk.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(tk.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      val h = PolyFingerprint.h60(UTF8String.fromString(sb.toString))
      if (h % divisor == 0L) out += i.toLong
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tk, Literal(w: Int, IntegerType), Literal(d, LongType)) =>
      CdcBoundaries(tk, w, d.asInstanceOf[Long])
    case Seq(tk, Literal(w: Int, IntegerType), Literal(d: Int, IntegerType)) =>
      CdcBoundaries(tk, w, d.toLong)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>, int literal, long literal); got $other")
  }
}
