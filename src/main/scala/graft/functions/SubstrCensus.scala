package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `substr_census(src, 'p1', 'p2', …)`: the summed non-overlapping
  * occurrence count of every literal pattern in `src`, in ONE
  * allocation-free byte scan per pattern — the native form of the
  * orthography-census idiom
  * `Σ_p CAST((length(src) − length(replace(src, p, ''))) / length(p) AS BIGINT)`
  * that the DuckDB oracles keep verbatim
  * ([[graft.operators.TextOps.orthoCountSql]]).
  *
  * Round 14 (optimization guide §1.2 step 2, per-task work): the replace
  * chain ALLOCATES a full copy of the document text per pattern — ~90
  * copies per row across the 18 census columns of `langScoredOrtho` —
  * which is memory-bandwidth-bound; under 32 concurrent tasks the nine
  * ortho lang-ID queries measured 6–12 task-seconds on ~1.2 s of logical
  * work (allocation/cache stalls count as task CPU). Here each pattern is
  * a read-only scan of the UTF8String bytes: zero allocation, zero
  * writes, zero copies.
  *
  * Exact-replay contract (bit-identical to the replace-chain form):
  *  - `replace` removes non-overlapping occurrences scanning LEFT TO
  *    RIGHT, so the codepoint-length difference is exactly
  *    occurrences × length(p) and the division reconstructs the greedy
  *    left-to-right non-overlapping count. The byte scan advances one
  *    byte on mismatch and `numBytes(p)` past a match — the same greedy
  *    count. Byte-level matching cannot produce codepoint-misaligned
  *    false positives: UTF-8 is self-synchronizing (a pattern's lead
  *    byte never equals a continuation byte 10xxxxxx), and advancing
  *    past an aligned match stays aligned.
  *  - NULL src → NULL (the SQL chain's `length(NULL)` poisons the sum).
  *  - Empty patterns are rejected at construction (`replace(src, '')`
  *    is the identity no-op in both engines — an empty pattern is a
  *    caller bug, not a zero count).
  *
  * Patterns are plan-time string LITERALS (the MinHash-coefficient
  * discipline): the pattern byte arrays are built once per plan and ride
  * a codegen reference object, never a per-row expression. */
case class SubstrCensus(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  require(patterns.nonEmpty, s"${SubstrCensus.fnName} needs >= 1 pattern")
  require(patterns.forall(_.nonEmpty),
    s"${SubstrCensus.fnName}: empty pattern (replace('') is the identity)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = SubstrCensus.fnName

  @transient private lazy val pats: Array[UTF8String] =
    patterns.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    SubstrCensus.census(input.asInstanceOf[UTF8String], pats)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val patsRef = ctx.addReferenceObj("censusPats", pats,
        "org.apache.spark.unsafe.types.UTF8String[]")
      s"${ev.value} = graft.functions.SubstrCensus.census($c, $patsRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): SubstrCensus =
    copy(child = newChild)
}

object SubstrCensus {
  val fnName = "substr_census"

  /** Java-callable whole-row census: Σ over patterns of the greedy
    * left-to-right non-overlapping occurrence count. Read-only byte
    * scans over the UTF8String — no allocation. */
  def census(src: UTF8String, pats: Array[UTF8String]): Long = {
    var total = 0L
    val n = src.numBytes()
    var p = 0
    while (p < pats.length) {
      val pat = pats(p)
      val m = pat.numBytes()
      val first = pat.getByte(0)
      var i = 0
      val last = n - m
      while (i <= last) {
        if (src.getByte(i) == first) {
          var k = 1
          while (k < m && src.getByte(i + k) == pat.getByte(k)) k += 1
          if (k == m) { total += 1L; i += m } else i += 1
        } else i += 1
      }
      p += 1
    }
    total
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case src +: rest if rest.nonEmpty =>
      val pats = rest.map {
        case Literal(s: UTF8String, StringType) => s.toString
        case other => throw new IllegalArgumentException(
          s"$fnName: patterns must be string literals, got $other")
      }
      SubstrCensus(src, pats)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (string, 'p1' [, 'p2' …]); got ${other.size} args")
  }
}
