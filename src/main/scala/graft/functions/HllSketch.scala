package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `hll_sketch(string)`: HyperLogLog register state as a custom
  * `TypedImperativeAggregate` — the sketch-aggregate showcase SURVEY §4
  * defers to the north-star scale work. `approx_count_distinct` already
  * exists; this one earns its keep two ways:
  *
  *   1. **Mergeable state as a first-class value.** The buffer is the
  *      raw 64-register array; `merge` is a per-register max. At 100 TB
  *      that means partial sketches stream out of every partition and
  *      combine associatively — one narrow byte-array per group crosses
  *      the shuffle, never the values.
  *   2. **Cross-engine determinism.** Registers derive from the shared
  *      md5 h60 hash ([[Scalars.h60Jvm]]), so the full register summary
  *      — not just an estimate — is replayable in plain SQL and the
  *      driver's DuckDB oracle hash-checks it. (Spark's built-in uses
  *      xxhash64 + HLL++ bias tables; DuckDB's uses its own sketch —
  *      neither is checkable against anything.)
  *
  * Layout: m = 64 registers (6 index bits). For h = h60(value):
  * register = h mod 64; the remaining 54 bits w rank as
  * rho = 55 − bitlength(w) (w = 0 → 55), register keeps max rho.
  *
  * Eval emits the register SUMMARY as exact integers
  * (v_zero, mmax, num = Σ_j 2^(mmax − M[j])), in fixed register order —
  * deterministic regardless of merge order. The raw estimate
  * α·m²/Z follows as one double expression over them
  * (Z = num / 2^mmax), computed identically by both engines from the
  * same literals. The small-range (linear-counting) correction is
  * emitted alongside via [[HllSketch.correctedSql]] — ln-free and
  * bit-exact, because ln(m/V) over integer V has only m possible values
  * and ships as precomputed literals. Read `hll_corrected` for a usable
  * cardinality at ANY range; `estimate` is the raw α·m²/Z form. The
  * exact distinct count also sits alongside for gate purposes.
  */
case class HllSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  import HllSketch.M

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("v_zero", LongType, nullable = false),
    StructField("mmax", LongType, nullable = false),
    StructField("num", LongType, nullable = false),
    StructField("registers", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = Scalars.h60Jvm(v.toString)
      val idx = (h % M).toInt
      val w = h / M
      val rho = if (w == 0L) 55 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(idx)) buf(idx) = rho.toByte
    }
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) {
      if (b2(i) > b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Byte]): Any = {
    var vZero = 0L
    var mmax = 0L
    var i = 0
    while (i < M) {
      if (buf(i) == 0) vZero += 1L
      if (buf(i) > mmax) mmax = buf(i).toLong
      i += 1
    }
    var num = 0L
    i = 0
    while (i < M) {
      num += 1L << (mmax - buf(i))
      i += 1
    }
    InternalRow(vZero, mmax, num,
      new GenericArrayData(buf.map(_.toLong)))
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketch =
    copy(child = newChildren.head)
}

object HllSketch {

  /** Register count (6 index bits). Standard error ≈ 1.04/√64 ≈ 13%. */
  val M = 64

  /** The α·m²·2^mmax / num estimate as a SQL fragment over the sketch
    * summary columns — same literal text for Spark and DuckDB so both
    * engines execute the identical IEEE operation sequence. Every
    * literal is cast to DOUBLE: bare decimal literals parse as DECIMAL
    * in both engines, whose division scale rules differ (measured: a
    * 2^-25 relative drift in the estimate). */
  def estimateSql(mmax: String, num: String): String =
    s"""CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
       | + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE))
       | * CAST(4096.0 AS DOUBLE) * power(CAST(2.0 AS DOUBLE), $mmax)
       | / $num""".stripMargin.replace("\n", "")

  /** Small-range-corrected estimate (round-4 verdict item 7). The
    * standard HLL correction switches to linear counting `m·ln(m/V)`
    * when the raw estimate is ≤ 2.5m and V (empty registers) > 0
    * (Flajolet et al. 2007, §4). A runtime `ln()` is not cross-engine
    * bit-stable — but V is an INTEGER in [1, m], so `ln(m/V)` has
    * exactly [[M]] possible values: they are precomputed here as
    * round-trip double literals (Double.toString emits exactly the
    * digits needed to reparse to the same bits, and both engines parse
    * decimal literals correctly-rounded) and selected by a simple-CASE
    * ladder whose text is identical in the Spark plan and the DuckDB
    * oracle. The switch compares the raw estimate — itself bit-exact
    * from [[estimateSql]] — against the literal threshold, so the whole
    * corrected value is deterministic across engines with no
    * transcendental call at query time. */
  def correctedSql(vZero: String, est: String): String = {
    val ladder = (1 to M).map { v =>
      // exponent form, NOT a bare literal: `CAST(2.5494451709255714 AS
      // DOUBLE)` routes through DECIMAL(17,16) in DuckDB and DROPS the
      // 17th significant digit (measured: 1-ulp drift in q53); `...e0`
      // parses directly as DOUBLE in both engines
      val lit = java.lang.Double.toString(math.log(M.toDouble / v))
      val e0 = if (lit.contains('e') || lit.contains('E')) lit else s"${lit}e0"
      s"WHEN $v THEN $e0"
    }.mkString(" ")
    s"""CASE WHEN $est <= CAST(${2.5 * M} AS DOUBLE) AND $vZero > 0
       | THEN CAST($M.0 AS DOUBLE) * (CASE $vZero $ladder END)
       | ELSE $est END""".stripMargin.replace("\n", "")
  }

  val fnName = "hll_sketch"

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => HllSketch(c)
    case other => throw new IllegalArgumentException(
      s"$fnName expects exactly one string argument; got ${other.size}")
  }
}
