package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_fingerprints(tk, k, w)`: winnowed document fingerprints over a
  * token array — the local fingerprint-selection algorithm of Schleimer,
  * Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
  * Fingerprinting" (SIGMOD 2003), the overlap primitive behind MOSS.
  * Hash every token k-gram (the same trailing-window 60-bit md5-prefix
  * string hash as [[CdcBoundaries]]); slide a window of `w` consecutive
  * k-gram hashes; in each window select the MINIMUM hash, ties broken
  * toward the RIGHTMOST position (the paper's rule); the fingerprint set
  * is the distinct selected positions' hashes, returned in position
  * order. Guarantees: any shared substring of length ≥ k + w − 1 tokens
  * contributes at least one common fingerprint, and expected density is
  * 2/(w+1) — a position-robust sample where [[PolyFingerprint]] (whole
  * doc) and [[CdcBoundaries]] (chunk boundaries) answer different
  * questions.
  *
  * Fewer than `w` k-gram hashes (short doc) → EMPTY result (only full
  * winnow windows select; documented contract, spec-pinned). One
  * per-row loop — the per-position interpreted-HOF formulation is the
  * measured 15.6-task-second trap [[CdcBoundaries]] exists to avoid.
  *
  * Exact-replay contract: k-gram string = `array_join(slice(...), ' ')`
  * with Spark's null-skipping semantics, hashed via
  * [[PolyFingerprint.h60]] — the DuckDB oracle replays
  * `('0x' || substr(md5(...), 1, 15))::BIGINT` over the same slices with
  * a `ROW_NUMBER() OVER (ORDER BY h, pos DESC)` selection. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = WinnowFingerprints.fnName

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.winnow(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"${ev.value} = graft.functions.WinnowFingerprints.winnow($c, $k, $w);"
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  val fnName = "winnow_fingerprints"

  /** Java-callable whole-row scan: winnowed fingerprint hashes of one
    * document, in k-gram-position order. */
  def winnow(tk: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tk.numElements()
    val m = n - k + 1 // number of k-gram hashes
    if (m < w) return new GenericArrayData(Array.empty[Long])
    val hashes = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var i = 0 // 0-based k-gram start
    while (i < m) {
      sb.setLength(0)
      var j = i
      var first = true
      while (j < i + k) {
        if (!tk.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(tk.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      hashes(i) = PolyFingerprint.h60(UTF8String.fromString(sb.toString))
      i += 1
    }
    val selected = new Array[Boolean](m)
    var p = w - 1 // 0-based window END over hash positions
    while (p < m) {
      var best = p - w + 1
      var j = best + 1
      while (j <= p) {
        // <= prefers the later position: rightmost among equal minima
        if (hashes(j) <= hashes(best)) best = j
        j += 1
      }
      selected(best) = true
      p += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    i = 0
    while (i < m) {
      if (selected(i)) out += hashes(i)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tk, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
      WinnowFingerprints(tk, k, w)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>, int literal, int literal); got $other")
  }
}
