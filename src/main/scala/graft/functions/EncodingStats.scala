package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `encoding_stats(text)`: every counter of the q104 encoding-hygiene
  * pass — total chars, U+FFFD replacements, C0 controls, mojibake hits,
  * non-ASCII, digits, spaces — in ONE code-point walk.
  *
  * Replaces nine per-row passes (four `length(replace(...))` diffs and
  * three `regexp_count` runs of the Java regex engine over the full
  * text) that made q104 the worst wall ratio in the round-7 10× smoke
  * (3.46×) despite being per-row narrow.
  *
  * Exact-replay contract (bit-identical to the SQL formulation and the
  * DuckDB oracle, which keeps the regex form):
  *  - every count is per CODE POINT: Spark `length()` is
  *    `UTF8String.numChars` (code points) and single-char regex classes
  *    match per code point, so one walk over code points reproduces
  *    both the length-difference counts and the `regexp_count`s;
  *  - `ctrl` = [U+0001–U+0008, U+000B, U+000C, U+000E–U+001F]
  *    (HT/LF/CR excluded — TextOps.ctrlClass literally);
  *  - `non_ascii` = complement of [U+0001–U+007F] — NUL counts, as in
  *    the regex class;
  *  - `moji` = occurrences of 'Ã' (U+00C3) + occurrences of the
  *    adjacent pair 'â€' (U+00E2 U+20AC), non-overlapping left-to-right
  *    exactly as `replace` counts them (the SQL form's `/ 2` divides an
  *    always-even code-point delta — same integer).
  * NULL text → NULL struct, matching `length(NULL)` poisoning. */
case class EncodingStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("repl", LongType, nullable = false),
    StructField("ctrl", LongType, nullable = false),
    StructField("moji", LongType, nullable = false),
    StructField("non_ascii", LongType, nullable = false),
    StructField("digits", LongType, nullable = false),
    StructField("spaces", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = EncodingStats.fnName

  override def nullSafeEval(input: Any): Any =
    EncodingStats.walk(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EncodingStats.walk($c)")

  override protected def withNewChildInternal(newChild: Expression): EncodingStats =
    copy(child = newChild)
}

object EncodingStats {
  val fnName = "encoding_stats"

  /** One pass over the code points; see the class scaladoc for the
    * per-counter contract. Java-callable for codegen. */
  def walk(t: UTF8String): InternalRow = {
    val s = t.toString
    val len = s.length
    var n, repl, ctrl, moji, nonAscii, digits, spaces = 0L
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      n += 1
      if (cp == 0xFFFD) repl += 1
      if ((cp >= 0x01 && cp <= 0x08) || cp == 0x0B || cp == 0x0C ||
        (cp >= 0x0E && cp <= 0x1F)) ctrl += 1
      if (cp < 0x01 || cp > 0x7F) nonAscii += 1
      if (cp >= '0' && cp <= '9') digits += 1
      if (cp == ' ') spaces += 1
      if (cp == 0xC3) moji += 1
      if (cp == 0xE2 && i + 1 < len && s.charAt(i + 1) == 0x20AC) {
        // the 'â€' pair consumes both code points, like replace()
        moji += 1
        n += 1
        nonAscii += 1 // '€' is non-ASCII and would be counted next turn
        i += 1
      }
      i += Character.charCount(cp)
    }
    new GenericInternalRow(Array[Any](n, repl, ctrl, moji, nonAscii, digits, spaces))
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s) => EncodingStats(s)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (string); got ${other.size} args")
  }
}
