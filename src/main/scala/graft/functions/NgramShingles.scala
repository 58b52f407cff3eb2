package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: token array → array of n-gram shingles
  * (space-joined windows of n consecutive tokens; fewer than n tokens →
  * empty array).
  *
  * Why a custom Expression (SURVEY §7.1 preference order (b)): the two
  * built-in formulations both lose at scale —
  *   - `transform(sequence(1, size-n+1), i -> concat_ws(...))` is a
  *     higher-order function, which Catalyst evaluates interpreted
  *     (measured ~15× slower than codegen on this data);
  *   - posexplode + window `lead` is codegen'd but buys the speed with a
  *     full shuffle+sort of every token in the corpus.
  * This expression is a tight per-row loop with `doGenCode`, so shingling
  * is shuffle-free AND codegen'd — it runs inside the same
  * WholeStageCodegen span as the scan above it.
  *
  * Reference analog: the page/n-gram windowing the pipeline applies to
  * sorted listings (`bin/main.py:268-281`), generalized to token streams
  * for the dedup surface.
  */
case class NgramShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_shingles"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m - n + 1)
      val sep = UTF8String.fromString(" ")
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arrCls = classOf[GenericArrayData].getName
      val utf8 = classOf[UTF8String].getName
      val m = ctx.freshName("numTokens")
      val out = ctx.freshName("shingles")
      val parts = ctx.freshName("parts")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      s"""
         |final int $m = $c.numElements();
         |if ($m < $n) {
         |  ${ev.value} = new $arrCls(new Object[0]);
         |} else {
         |  final Object[] $out = new Object[$m - $n + 1];
         |  for (int $i = 0; $i <= $m - $n; $i++) {
         |    final $utf8[] $parts = new $utf8[$n];
         |    for (int $k = 0; $k < $n; $k++) {
         |      $parts[$k] = $c.getUTF8String($i + $k);
         |    }
         |    $out[$i] = $utf8.concatWs($utf8.fromString(" "), $parts);
         |  }
         |  ${ev.value} = new $arrCls($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NgramShingles =
    copy(child = newChild)
}

object NgramShingles {

  val fnName = "ngram_shingles"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tokens) => NgramShingles(tokens, 3)
    case Seq(tokens, Literal(n: Int, IntegerType)) => NgramShingles(tokens, n)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>[, n]); got ${other.size} args")
  }
}
