package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `sorted_multi_concat(key [, v1, v2, ...])`: order-by-key string
  * concatenation as ONE incremental aggregate — DuckDB's
  * `string_agg(v, '' ORDER BY key)` for N parallel value columns sharing
  * a single sort key, evaluated with a single sort and zero intermediate
  * arrays.
  *
  * Motivation (round-8 verdict item 1): the doc-assembly queries
  * (q42/q43/q52, `lib/folder2mets.xsl:13-106` surface) previously built
  * each folder's XML via `collect_list(struct(...)) → sort_array →
  * N × getField → N × array_join`. That chain materializes, per group:
  * the UnsafeRow struct copies, a second fully-sorted array (sort_array
  * copies, then sorts structs through interpreted ordering), one
  * extracted array per field, and per-element growing string builders —
  * GB-scale short-lived garbage at sf0.1, which made the render stage's
  * cost a function of collector state rather than of the plan (the
  * three-round q52 bimodality). This aggregate cuts the garbage at the
  * source: `update` clones exactly the input strings (they must outlive
  * the reused input row buffer), `eval` sorts the entry array in place by
  * the key and writes each output column once into a single exactly-sized
  * byte buffer. Nothing else is allocated.
  *
  * Semantics: rows with a NULL key are skipped (string_agg discards
  * nulls); NULL values contribute the empty string. With only the key
  * argument, the key itself is the concatenated value. Output is a
  * struct<c0: string, ..., cN-1: string> so one aggregate carries all
  * fragment columns of a doc-assembly level through the shuffle as one
  * buffer.
  *
  * Scale shape: the buffer is a flat entry list — partial aggregation
  * serializes it length-prefixed, `merge` appends (order restored by the
  * final sort), so map-side partials stream and combine associatively
  * like any TypedImperativeAggregate ([[HllSketch]] playbook). Sort order
  * is UTF8String binary order — identical to `sort_array` and to
  * DuckDB's default binary collation, so oracle SQL replays byte-exact.
  */
case class SortedMultiConcat(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Array[UTF8String]]] {

  /** Number of output columns (the key doubles as the value when alone). */
  private def nOut: Int = math.max(children.size - 1, 1)
  /** Entry index feeding output column j. */
  private def srcIdx(j: Int): Int = if (children.size == 1) 0 else j + 1

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != StringType) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string arguments, got ${bad.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = StructType(
    (0 until nOut).map(j => StructField(s"c$j", StringType, nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "sorted_multi_concat"

  override def createAggregationBuffer(): ArrayBuffer[Array[UTF8String]] =
    new ArrayBuffer[Array[UTF8String]]

  override def update(
      buf: ArrayBuffer[Array[UTF8String]],
      input: InternalRow): ArrayBuffer[Array[UTF8String]] = {
    val key = children.head.eval(input).asInstanceOf[UTF8String]
    if (key != null) {
      val entry = new Array[UTF8String](children.size)
      // clone: eval results point into the operator's reused row buffer
      entry(0) = key.clone()
      var i = 1
      while (i < children.size) {
        val v = children(i).eval(input).asInstanceOf[UTF8String]
        entry(i) = if (v == null) UTF8String.EMPTY_UTF8 else v.clone()
        i += 1
      }
      buf += entry
    }
    buf
  }

  override def merge(
      b1: ArrayBuffer[Array[UTF8String]],
      b2: ArrayBuffer[Array[UTF8String]]): ArrayBuffer[Array[UTF8String]] = {
    b1 ++= b2
    b1
  }

  override def eval(buf: ArrayBuffer[Array[UTF8String]]): Any = {
    val arr = buf.toArray
    // Key ties break on the remaining columns (full-entry lexicographic
    // compare): entries arrive in partial-merge order, which varies with
    // partitioning, so a key-only sort would make duplicate-key output
    // nondeterministic. Full-entry order matches the replaced
    // sort_array(struct(key, v1, ..)) chain, which ordered whole structs.
    java.util.Arrays.sort(arr,
      new java.util.Comparator[Array[UTF8String]] {
        override def compare(a: Array[UTF8String], b: Array[UTF8String]): Int = {
          var i = 0
          while (i < a.length) {
            val c = a(i).compareTo(b(i))
            if (c != 0) return c
            i += 1
          }
          0
        }
      })
    val out = new Array[Any](nOut)
    var j = 0
    while (j < nOut) {
      val src = srcIdx(j)
      var total = 0
      var i = 0
      while (i < arr.length) { total += arr(i)(src).numBytes; i += 1 }
      val bytes = new Array[Byte](total)
      var off = 0
      i = 0
      while (i < arr.length) {
        val v = arr(i)(src)
        v.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + off)
        off += v.numBytes
        i += 1
      }
      out(j) = UTF8String.fromBytes(bytes)
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override def serialize(buf: ArrayBuffer[Array[UTF8String]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { entry =>
      var i = 0
      while (i < entry.length) {
        val b = entry(i).getBytes
        out.writeInt(b.length)
        out.write(b)
        i += 1
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Array[UTF8String]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[Array[UTF8String]](n)
    var e = 0
    while (e < n) {
      val entry = new Array[UTF8String](children.size)
      var i = 0
      while (i < children.size) {
        val len = in.readInt()
        val b = new Array[Byte](len)
        in.readFully(b)
        entry(i) = UTF8String.fromBytes(b)
        i += 1
      }
      buf += entry
      e += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedMultiConcat =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SortedMultiConcat =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SortedMultiConcat =
    copy(children = newChildren)
}

object SortedMultiConcat {

  val fnName = "sorted_multi_concat"

  private[graft] def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty, s"$fnName expects at least the sort-key argument")
    SortedMultiConcat(exprs)
  }
}
