package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `poly_fingerprint(tk)`: rolling polynomial fingerprint of a token
  * array — `fold((acc, t) -> (acc·31 + h60(t) % 1000003) % 1000000007)`
  * from 7, where h60 is the 60-bit md5 prefix hash
  * ([[graft.functions.Scalars]] h60 / `TextOps.h60x`) — in ONE per-row
  * loop with no interpreted lambdas (round-4 verdict item 3: the
  * `aggregate(transform(...))` formulation ran md5 per token through
  * Catalyst's interpreted HOF evaluator, the same trap measured at ~15×
  * on SimHash).
  *
  * Exact-replay contract (bit-identical to the HOF form and the DuckDB
  * oracle): `CONV(SUBSTRING(MD5(t),1,15),16,10)` is the first 60 bits of
  * the md5 digest read big-endian — computed here as
  * `bigEndianLong(digest[0..8]) >>> 4` with no string round-trip; both
  * moduli operate on non-negative operands so Java `%` ≡ Spark `%`;
  * `acc·31 + x` peaks below 2⁶³ so the arithmetic never overflows. An
  * empty array returns the init 7; a NULL element poisons the result to
  * NULL (in the HOF form the NULL hash nulls the fold accumulator).
  */
case class PolyFingerprint(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = PolyFingerprint.fnName

  override def nullSafeEval(input: Any): Any =
    PolyFingerprint.fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("fp")
      // the md5+fold loop lives in one static method (one call per row,
      // no per-element interpreted dispatch); a null return means a NULL
      // token poisoned the fold
      s"""
         |final java.lang.Long $r = graft.functions.PolyFingerprint.fold($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

object PolyFingerprint {
  val fnName = "poly_fingerprint"

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** 60-bit md5 prefix of a UTF-8 string: the value of the digest's
    * first 15 hex characters, i.e. its first 8 bytes read as a
    * big-endian long, unsigned-shifted past the 61st bit. */
  def h60(t: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(t.getBytes)
    var l = 0L
    var i = 0
    while (i < 8) {
      l = (l << 8) | (dig(i) & 0xffL)
      i += 1
    }
    l >>> 4
  }

  /** Java-callable whole-row fold; null iff the array has a NULL token. */
  def fold(tk: ArrayData): java.lang.Long = {
    val n = tk.numElements()
    var acc = 7L
    var i = 0
    while (i < n) {
      if (tk.isNullAt(i)) return null
      acc = (acc * 31L + h60(tk.getUTF8String(i)) % 1000003L) % 1000000007L
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tk) => PolyFingerprint(tk)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>); got ${other.size} args")
  }
}

/** `h60(s)`: the engine's universal 60-bit md5 hash as ONE native
  * expression — bit-identical to the composed
  * `CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)` chain
  * (`Scalars.h60` / `TextOps.h60x`) and to the DuckDB oracle's
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`: the first 15 hex digits
  * of a digest ARE its first 60 bits, so the value is
  * `bigEndianLong(digest[0..8]) >>> 4` with no hex-string round-trip.
  *
  * Why it matters: the conv chain materializes three intermediate
  * strings (32-char hex, 15-char substring, decimal string) and
  * string-parses twice PER HASH, and the hash runs per shingle /
  * token / window occurrence in the MinHash, fingerprint-census,
  * doc-vector and target-affinity hot paths — the single most
  * executed scalar in the engine. Shares [[PolyFingerprint.h60]]'s
  * ThreadLocal digest (one static call per value, codegen-friendly,
  * works identically inside interpreted HOF lambdas). */
case class H60Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = H60Hash.fnName

  override def nullSafeEval(input: Any): Any =
    PolyFingerprint.h60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyFingerprint.h60($c)")

  override protected def withNewChildInternal(newChild: Expression): H60Hash =
    copy(child = newChild)
}

/** `h60_array(array<string>)` → `array<bigint>`: [[H60Hash]] mapped
  * over an array in ONE per-row native loop (round 9, for q131's
  * per-doc hashed shingle arrays). The obvious spelling
  * `transform(sh, g -> h60(g))` evaluates the lambda through
  * Catalyst's interpreted HOF evaluator per ELEMENT — the trap
  * measured at ~15× on SimHash (round-4 item 3) — and a corpus-scale
  * verify pass hashes tens of millions of shingles. Element semantics
  * match the transform form exactly: NULL element → NULL element,
  * NULL array → NULL. */
case class H60Array(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = H60Array.fnName

  override def nullSafeEval(input: Any): Any =
    H60Array.hashAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.H60Array.hashAll($c)")

  override protected def withNewChildInternal(newChild: Expression): H60Array =
    copy(child = newChild)
}

object H60Array {
  val fnName = "h60_array"

  /** Java-callable whole-array hasher (one thread-local digest). */
  def hashAll(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) null
        else java.lang.Long.valueOf(PolyFingerprint.h60(arr.getUTF8String(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s) => H60Array(s)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>); got ${other.size} args")
  }
}

object H60Hash {
  val fnName = "h60"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s) => H60Hash(s)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (string); got ${other.size} args")
  }
}

/** `nfc_normalize(s)`: Unicode NFC normalization — the ftfy-class
  * encoding-hygiene step every web-corpus ingest runs before hashing
  * or deduplicating text (a decomposed `e + U+0301` and a composed
  * `é` are DIFFERENT strings to every hash in this engine). Named
  * after DuckDB's built-in `nfc_normalize` deliberately: the oracle
  * SQL reads identically, and both implement the same Unicode
  * normalization standard — verified byte-identical on composed,
  * decomposed, and non-composable (o + U+030A) fixtures. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${other.catalogString}")
    }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = NfcNormalize.fnName

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  val fnName = "nfc_normalize"

  /** Java-callable normalizer; the fast path skips the String
    * round-trip entirely for pure-ASCII input (NFC is the identity
    * there), which is most of a web corpus. */
  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    val base = s.getBaseObject
    val off = s.getBaseOffset
    while (ascii && i < n) {
      if ((org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0x80) != 0)
        ascii = false
      i += 1
    }
    if (ascii) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s) => NfcNormalize(s)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (string); got ${other.size} args")
  }
}

/** `minhash_sig(sh, k)`: the k-hash MinHash signature of a shingle
  * array in ONE per-row loop — the PER-ROW form of
  * [[graft.operators.DedupOps.minhashSigned]]'s explode→k-min
  * aggregation, for contexts where aggregation is unavailable (a
  * streaming ingest row must carry its own signature before any
  * stateful operator). Identical
  * values by construction: the same md5-h60 element hash mod p and the
  * same [[MinhashSig.coefficients]] affine families (both replayed by
  * the DuckDB oracle's SIG CTE); an empty or all-NULL array returns
  * the k-length −1 sentinel, matching `minhashSigned`'s coalesce.
  * NULL elements are skipped (an exploded NULL never reaches the agg
  * min either). */
case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k >= 1, got $k")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = MinhashSig.fnName

  override def nullSafeEval(input: Any): Any =
    MinhashSig.sig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashSig.sig($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  val fnName = "minhash_sig"

  private val P = 1000000007L

  /** The k affine family coefficients h_j(x) = (a_j·x + b_j) mod p,
    * md5-h60-derived so Spark, the driver, and the DuckDB oracle all
    * see the identical families — the single canonical derivation
    * (`DedupOps.minhashCoefficients` delegates here). All operands stay
    * < 1e9 so a_j·x < 1e18 never overflows int64. */
  def coefficients(k: Int): Array[(Long, Long)] =
    (0 until k).map(j =>
      (Scalars.h60Jvm(s"a:$j") % (P - 1L) + 1L,
        Scalars.h60Jvm(s"b:$j") % P)).toArray

  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[(Long, Long)]]()

  /** Java-callable signature loop: one h60 per element, k affine mins. */
  def sig(arr: ArrayData, k: Int): ArrayData = {
    val coefs = coefCache.computeIfAbsent(k, coefficients(_))
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = PolyFingerprint.h60(arr.getUTF8String(i)) % P
        var j = 0
        while (j < k) {
          val v = (coefs(j)._1 * h + coefs(j)._2) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      out(j) = java.lang.Long.valueOf(if (seen) mins(j) else -1L)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s, Literal(k: Int, IntegerType)) => MinhashSig(s, k)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (array<string>, int literal); got ${other.size} args")
  }
}
