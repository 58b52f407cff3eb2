package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `cms_sketch(string)`: Count-Min sketch counts as a custom
  * `TypedImperativeAggregate` — the frequency-sketch sibling of
  * [[HllSketch]] (cardinality). Cormode & Muthukrishnan 2005: D
  * independent hash rows of W counters; point estimate for item x is
  * `min_d counts[d][h_d(x) mod W]` — an overestimate by construction
  * (collisions only ever add), with error ≤ 2N/W at probability
  * 1 − 2^−D over the hash draws.
  *
  * Why it earns its keep next to an exact `groupBy(token).count`:
  *
  *   1. **Fixed-size mergeable state.** The buffer is D×W longs (8 KiB
  *      at the defaults) regardless of how many distinct tokens flow
  *      in; `merge` is elementwise sum, so partial sketches combine
  *      associatively map-side and ONE 8 KiB array per group crosses
  *      the shuffle. An exact token count at 100 TB shuffles the whole
  *      vocabulary; the sketch shuffles a constant. The census query
  *      (q103) runs both and reports the overcount — the calibration a
  *      pipeline needs before trusting the sketch as its frequency
  *      oracle (df-cap pruning, stop-word discovery, heavy-hitter
  *      gates all read it).
  *   2. **Cross-engine determinism.** Row d hashes with the seeded
  *      md5-h60 family ([[Scalars.h60Seeded]], seed = d), so the full
  *      counter table AND every point estimate replay in plain SQL:
  *      DuckDB computes `('0x' || substr(md5(d || ':' || t), 1, 15))
  *      ::BIGINT % W` bucket counts with a GROUP BY and takes the same
  *      min. The driver hash-checks estimates, not just row counts.
  *
  * Eval emits the full counter table as ONE `array<long>` of length
  * D×W in row-major order (row d at offset d·W) — deterministic
  * regardless of merge order, and point estimates follow as plain
  * `element_at`/`least` expressions over it ([[CmsSketch.estimateCol]]).
  *
  * Reference analog: the reference's pipelines gate on exact counts
  * only (tiny corpora, `bin/main.py` scale); the sketch is the
  * north-star scale path this engine adds.
  */
case class CmsSketch(
    child: Expression,
    weight: Expression = org.apache.spark.sql.catalyst.expressions.Literal(1L),
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  import CmsSketch.{D, W}

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, weight.dataType) match {
      case (StringType, LongType | IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (StringType, other) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName weight must be integral, got ${other.catalogString}")
      case (other, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string input, got ${other.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = false
  override def prettyName: String = CmsSketch.fnName
  override def children: Seq[Expression] = Seq(child, weight)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](D * W)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      val s = v.toString
      // count-weighted update: adding `w` for one (token, count) row is
      // EXACTLY the sum of w unit updates (the buckets depend only on
      // the token), so a sketch built from a grouped count table equals
      // the sketch built from the raw token stream — the single-scan
      // q103 path relies on this identity
      val inc = w match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      var d = 0
      while (d < D) {
        // identical bytes to Scalars.h60Seeded(lit(d), col): "d:token"
        val h = Scalars.h60Jvm(s"$d:$s")
        buf(d * W + (h % W).toInt) += inc
        d += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < D * W) {
      b1(i) += b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketch =
    copy(child = newChildren(0), weight = newChildren(1))
}

object CmsSketch {

  /** Hash rows. P(all rows collide) = 2^−D per Cormode–Muthukrishnan. */
  val D = 4

  /** Counters per row. Overestimate ≤ 2N/W w.h.p. — at W = 256 and the
    * sf0.01 corpus (~1.5M tokens) that is a loose bound; the census
    * reports the measured overcount instead of trusting it. */
  val W = 256

  val fnName = "cms_sketch"

  /** Point estimate as a Column — `min_d` of the D 1-based bucket
    * reads over the counter array. `h60` is nonnegative (60 bits), so
    * `%` is a plain nonnegative remainder in both engines. */
  def estimateCol(cms: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{element_at, least, lit}
    val reads = (0 until D).map { d =>
      element_at(cms,
        (Scalars.h60Seeded(lit(d), t) % W).cast(IntegerType) + d * W + 1)
    }
    least(reads: _*)
  }

  /** The same point estimate as a DuckDB fragment (oracle side) —
    * `list_extract` is DuckDB's 1-based array read (its `element_at`
    * is map-only). */
  def estimateSql(cms: String, t: String): String =
    (0 until D).map { d =>
      s"list_extract($cms, $d * $W + (${Scalars.h60SeededSql(d.toString, t)}) % $W + 1)"
    }.mkString("least(", ", ", ")")

  private[graft] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => CmsSketch(c)
    case Seq(c, w) => CmsSketch(c, w)
    case other => throw new IllegalArgumentException(
      s"$fnName expects (string[, weight]); got ${other.size} args")
  }
}
