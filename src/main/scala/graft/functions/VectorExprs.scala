package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd vector expressions for the similarity/dedup hot paths.
  *
  * Why (SURVEY §7.1 preference order (b), same rationale as
  * [[NgramShingles]]): Catalyst evaluates higher-order-function lambdas
  * interpreted, per element. The round-1 formulations —
  * `aggregate(zip_with(a, b, ...))` per candidate pair (cosine/ANN,
  * measured ~15× slower than codegen) and a 32-bit nested
  * `aggregate(transform(sequence(0,31), ...))` vote (SimHash, where
  * CollapseProject additionally re-inlines the md5 hash column into every
  * bit lambda) — dominated the bench once projections were honestly
  * timed. Both expressions here are tight per-row loops with `doGenCode`,
  * fused into the surrounding WholeStageCodegen span: shuffle-free and
  * codegen'd.
  *
  * Determinism contract: each expression replays its HOF formulation's
  * exact arithmetic order, so results are bit-identical to round 1 and to
  * the DuckDB oracles (which keep the list_reduce formulations).
  */

/** `dot_product(a, b)`: sequential double dot-product of two equal-length
  * float/double array columns. Fold order is exactly
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)`:
  * products accumulate left-to-right from 0.0, each operand cast to
  * DOUBLE first (float→double widening is exact). Mismatched lengths or
  * a null element yield NULL, mirroring zip_with's null padding poisoning
  * the fold. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType) = t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if elemOk(lt) && elemOk(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float|double> args, " +
          s"got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, t: DataType, idx: String): String = t match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case _ => s"$arr.getDouble($idx)"
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${get(a, elemType(left), i)} * ${get(b, elemType(right), i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  val fnName = "dot_product"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a, b) => DotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array, array); got ${other.size} args")
  }
}

/** `simhash_bits(hs[, nBits])`: SimHash of a pre-hashed token array.
  * For each bit b in [0, nBits): every hash votes +1 if its bit b is set
  * else −1; the output sets bit b iff the vote sum is ≥ 0.
  *
  * Arithmetic replays the HOF formulation exactly —
  * `((h div 2^b) % 2) * 2 - 1` with div/% truncating toward zero (Java
  * semantics = Spark `div`/`%`), summed per bit; bit weights 2^b added
  * up — so results are bit-identical for any input sign. Null elements
  * poison the fold → NULL. */
case class SimHashBits(child: Expression, nBits: Int)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63, s"nBits must be in [1,63], got $nBits")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) return null
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < nBits) {
      val pow = 1L << b
      var vote = 0L
      var j = 0
      while (j < n) {
        vote += ((hs.getLong(j) / pow) % 2L) * 2L - 1L
        j += 1
      }
      if (vote >= 0L) out += pow
      b += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val pow = ctx.freshName("pow")
      val vote = ctx.freshName("vote")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  long $out = 0L;
         |  for (int $b = 0; $b < $nBits; $b++) {
         |    final long $pow = 1L << $b;
         |    long $vote = 0L;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $vote += (($c.getLong($j) / $pow) % 2L) * 2L - 1L;
         |    }
         |    if ($vote >= 0L) $out += $pow;
         |  }
         |  ${ev.value} = $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** `int8_quant(vec)`: fused symmetric int8 quantization of a
  * float/double vector — `struct<qscale double, qvec array<bigint>,
  * sum_q_abs bigint, mse double>` in ONE codegen'd per-row loop.
  *
  * Replaces the four-HOF formulation (max-abs `aggregate`, two
  * `transform`s, an mse `aggregate(zip_with(...))`) that Catalyst
  * evaluates interpreted per element — the same ~15× trap measured on
  * SimHash (round-4 verdict item 3). Arithmetic replays the HOF version
  * exactly, so results stay bit-identical to the DuckDB oracle:
  *
  *  - qscale: left fold `m = max(m, abs(x))` from 0.0, then / 127.0
  *    (order-independent; float→double widening exact);
  *  - codes: `clamp(floor(x/qscale + 0.5), ±127)` written out (engine
  *    `round()` tie semantics differ; the clamped double is
  *    integer-valued so the BIGINT cast is exact), all-zeros when
  *    qscale = 0 (zero/empty vector — no divide-by-zero);
  *  - sum_q_abs: long sum of |code|;
  *  - mse: sequential left-to-right double fold of
  *    `(x − code·qscale)²`, / n; NULL for the empty vector.
  *
  * Divergence from the HOF form on inputs the embeddings contract
  * forbids: a NULL element poisons the whole struct to NULL (the
  * [[DotProduct]] convention), where the HOF `greatest` would have
  * skipped it for qscale while NULL-poisoning every other field. */
case class Int8QuantStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double>, got ${other.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("qscale", DoubleType, nullable = false),
    StructField("qvec", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sum_q_abs", LongType, nullable = false),
    StructField("mse", DoubleType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "int8_quant"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    var m = 0.0
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      m = Math.max(m, Math.abs(x))
      i += 1
    }
    val qscale = m / 127.0
    val qs = new Array[Long](n)
    var sumAbs = 0L
    var err = 0.0
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val q =
        if (qscale == 0.0) 0L
        else Math.max(-127.0, Math.min(127.0, Math.floor(x / qscale + 0.5))).toLong
      qs(i) = q
      sumAbs += Math.abs(q)
      val d = x - q * qscale
      err += d * d
      i += 1
    }
    new GenericInternalRow(Array[Any](
      qscale, new org.apache.spark.sql.catalyst.util.GenericArrayData(qs),
      sumAbs, if (n == 0) null else err / n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val get = (idx: String) =>
        if (isFloat) s"(double) $c.getFloat($idx)" else s"$c.getDouble($idx)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("maxAbs")
      val scale = ctx.freshName("qscale")
      val qs = ctx.freshName("codes")
      val sumAbs = ctx.freshName("sumAbs")
      val err = ctx.freshName("err")
      val x = ctx.freshName("x")
      val q = ctx.freshName("q")
      val d = ctx.freshName("d")
      val mse = ctx.freshName("mse")
      s"""
         |final int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  double $m = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $m = java.lang.Math.max($m, java.lang.Math.abs(${get(i)}));
         |  }
         |  final double $scale = $m / 127.0;
         |  final long[] $qs = new long[$n];
         |  long $sumAbs = 0L;
         |  double $err = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = ${get(i)};
         |    final long $q = ($scale == 0.0) ? 0L :
         |      (long) java.lang.Math.max(-127.0,
         |        java.lang.Math.min(127.0, java.lang.Math.floor($x / $scale + 0.5)));
         |    $qs[$i] = $q;
         |    $sumAbs += java.lang.Math.abs($q);
         |    final double $d = $x - $q * $scale;
         |    $err += $d * $d;
         |  }
         |  final Object $mse = ($n == 0) ? null : (Object) java.lang.Double.valueOf($err / $n);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] {
         |      java.lang.Double.valueOf($scale),
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($qs),
         |      java.lang.Long.valueOf($sumAbs), $mse });
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8QuantStats =
    copy(child = newChild)
}

object Int8QuantStats {
  val fnName = "int8_quant"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(v) => Int8QuantStats(v)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<float|double>); got ${other.size} args")
  }
}

/** `l2_sq(a, b)`: exact squared L2 distance of two equal-length
  * `array<bigint>` columns (the micro-unit fixed-point vectors of the
  * JL/k-means family) — `Σ (a_i − b_i)²` as a tight codegen'd long loop.
  *
  * Replaces the 64-term unrolled `element_at` difference chain in
  * [[graft.operators.SimOps.jlRecallAtK]], which was PLAN-bound: Catalyst
  * analysis + codegen of a 128-`element_at` tree per projection dwarfed
  * the actual per-row work (round-6 verdict item 6, 7.3 s wall vs 2.9
  * task-seconds). Integer arithmetic is exact and order-independent, so
  * results are bit-identical to the unrolled form and the DuckDB oracle.
  *
  * Null conventions mirror the unrolled `element_at` sum it replaces:
  * mismatched lengths or a null element → NULL (out-of-range
  * `element_at` is NULL in non-ANSI mode and poisons the sum). */
case class L2SqLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> args, " +
          s"got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      val d = ctx.freshName("diff")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqLong =
    copy(left = newLeft, right = newRight)
}

object L2SqLong {
  val fnName = "l2_sq"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a, b) => L2SqLong(a, b)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<bigint>, array<bigint>); got ${other.size} args")
  }
}

/** `jl_project(mvec, dim, outDim)`: Johnson–Lindenstrauss ±1 sign
  * projection of a micro-unit `array<bigint>` vector to `outDim`
  * coordinates — `out[j] = Σ_i sign(i,j)·mvec[i]`, the sign matrix
  * h60-derived at expression-build time exactly as
  * [[graft.operators.SimOps.jlSigns]] derives its plan literals.
  *
  * Replaces the `outDim × dim`-term unrolled literal sums of
  * `randomProjection` (512 `element_at` nodes at the defaults), whose
  * Catalyst analysis/codegen cost dominated q106/q107 wall time
  * (round-6 scale-killer (b)). All-integer arithmetic on ≤ 2·10⁶-scale
  * micro-units: exact, overflow-free, bit-identical to the unrolled form
  * and to the oracle's embedded constants.
  *
  * NULL if the input length ≠ `dim` (the unrolled form's out-of-range
  * `element_at` poisoning) or any element is null. */
case class JlProject(child: Expression, dim: Int, outDim: Int)
    extends UnaryExpression {
  require(dim >= 1 && outDim >= 1 && outDim <= dim,
    s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "jl_project"

  /** sign(i, j) = 1 − 2·(h60("p_i_j") mod 2), i 1-based input dim, j
    * 0-based output dim — row-major [j][i-1], same derivation as
    * [[graft.operators.SimOps.jlSigns]]. */
  @transient private lazy val signs: Array[Array[Long]] =
    Array.tabulate(outDim, dim) { (j, i) =>
      if (Scalars.h60Jvm(s"p_${i + 1}_$j") % 2 == 0L) 1L else -1L
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      val row = signs(j)
      var s = 0L
      i = 0
      while (i < dim) {
        s += row(i) * a.getLong(i)
        i += 1
      }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val signsRef = ctx.addReferenceObj("jlSigns", signs, "long[][]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("sum")
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      s"""
         |if ($c.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  }
         |  if (!${ev.isNull}) {
         |    final long[] $out = new long[$outDim];
         |    for (int $j = 0; $j < $outDim; $j++) {
         |      final long[] $row = $signsRef[$j];
         |      long $s = 0L;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $s += $row[$i] * $c.getLong($i);
         |      }
         |      $out[$j] = $s;
         |    }
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {
  val fnName = "jl_project"

  private def foldedInt(e: Expression, what: String): Int = {
    require(e.foldable && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }), s"$fnName $what must be a foldable integer expression; got ${e.sql}")
    e.eval() match {
      case null => throw new IllegalArgumentException(s"$fnName $what must not be NULL")
      case v: Number =>
        val n = v.longValue()
        require(n >= 1L && n <= 4096L, s"$fnName $what must be in [1, 4096], got $n")
        n.toInt
    }
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(v, d, od) => JlProject(v, foldedInt(d, "dim"), foldedInt(od, "outDim"))
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<bigint>, dim, outDim); got ${other.size} args")
  }
}

object SimHashBits {
  val fnName = "simhash_bits"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(hs) => SimHashBits(hs, 32)
    // any foldable integral works (1+1, CAST(16 AS BIGINT), …) — eval it
    // at build time; a non-foldable or non-integer second arg gets its
    // own message instead of the misleading arity error
    case Seq(hs, nb) if nb.foldable && (nb.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }) =>
      nb.eval() match {
        case null => throw new IllegalArgumentException(
          s"$fnName nBits must not be NULL")
        case v: Number =>
          // bound-check the LONG value first — intValue() would silently
          // wrap 2^32+32 to 32 and compute the wrong hash width
          val n = v.longValue()
          if (n < 1L || n > 63L) throw new IllegalArgumentException(
            s"$fnName nBits must be in [1,63], got $n")
          SimHashBits(hs, n.toInt)
      }
    case Seq(_, nb) => throw new IllegalArgumentException(
      s"$fnName nBits must be a foldable integer expression; got ${nb.sql}")
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<bigint>[, nBits]); got ${other.size} args")
  }
}
