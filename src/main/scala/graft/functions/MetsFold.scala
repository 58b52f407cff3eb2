package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `mets_fold(abs_name, wholepart, abs_esc, cannonical, file_xml,
  * tech_xml)`: the whole two-level METS document fold as ONE aggregate —
  * per folder, group representations by (wholepart, abs_name), join each
  * group's `file_xml`/`tech_xml` in cannonical order, wrap part groups in
  * their `<mets:fileGrp>`/`<mets:div ORDER=n>` envelopes, and join the
  * groups in abs_name order. Output struct:
  * `c0` = concatenated tech sections (amdSec inner), `c1` = whole-group
  * files, `c2` = member fileGrps, `c3` = member structMap divs.
  *
  * Motivation (round 15, measured): q52's render stage spent ~8.8 of its
  * ~15 task-seconds in the three-operator chain this replaces — the L1
  * ObjectHashAggregate (75k near-singleton groups keyed by seven string
  * columns, each buffer serialize/deserialize-round-tripped between the
  * partial and final modes), the ORDER-label window sort, and the L2
  * ObjectHashAggregate. One fold does the same work with one hash table
  * keyed by the four folder columns and one in-memory sort per folder.
  *
  * Exact-equivalence contract with the replaced chain (spec-pinned by
  * `MetsFoldSpec`'s differential test):
  *   - member order within a (wholepart, abs_name) group is the
  *     full-entry (cannonical, file_xml, tech_xml) binary sort — what
  *     `sorted_multi_concat(cannonical, file_xml, tech_xml)` produced;
  *   - a member row with NULL cannonical is skipped from the concats
  *     (string_agg null-key rule) but keeps its group alive — a group of
  *     only-null cannonicals still wraps an empty envelope; NULL
  *     file_xml/tech_xml contribute '';
  *   - a group with NULL abs_name is dropped from the OUTPUT (L2's
  *     null-key skip) but still consumes an ORDER rank (the old window
  *     ranked it nulls-first before L2 dropped it);
  *   - `ord` is the 1-based rank of the group's abs_name among the
  *     folder's `wholepart = 'part'` groups in abs_name order (the old
  *     row_number window partitioned by (objid, wholepart)); whole
  *     groups carry no envelope, exactly the old CASE;
  *   - group output order is the full L2-entry binary sort
  *     (abs_name, techs, whole_files, grp_xml, div_xml) — so even the
  *     pathological whole/part same-abs_name tie orders as before.
  *
  * Scale shape: identical to [[SortedMultiConcat]] — a flat entry buffer,
  * length-prefixed partial serialization, associative merge, one final
  * sort + fold per folder; folders are bounded by construction. */
case class MetsFold(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Array[UTF8String]]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size != 6)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires exactly 6 arguments, got ${children.size}")
    else children.find(_.dataType != StringType) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string arguments, got ${bad.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = StructType(
    (0 until 4).map(j => StructField(s"c$j", StringType, nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "mets_fold"

  override def createAggregationBuffer(): ArrayBuffer[Array[UTF8String]] =
    new ArrayBuffer[Array[UTF8String]]

  // entry layout: 0=abs_name, 1=wholepart, 2=abs_esc, 3=cannonical,
  // 4=file_xml, 5=tech_xml
  override def update(
      buf: ArrayBuffer[Array[UTF8String]],
      input: InternalRow): ArrayBuffer[Array[UTF8String]] = {
    // EVERY row buffers — even null-cannonical / null-abs_name ones. The
    // old chain's null behavior is positional, so it must replay in
    // eval(), not here: a group whose every cannonical is null still
    // existed at L1 (empty concat, envelope still wrapped), and a
    // null-abs_name group was counted by the ORDER window (nulls first)
    // before L2's null-key skip dropped its output.
    val entry = new Array[UTF8String](6)
    var i = 0
    while (i < 6) {
      val v = children(i).eval(input).asInstanceOf[UTF8String]
      entry(i) = if (v == null) null else v.clone()
      i += 1
    }
    buf += entry
    buf
  }

  override def merge(
      b1: ArrayBuffer[Array[UTF8String]],
      b2: ArrayBuffer[Array[UTF8String]]): ArrayBuffer[Array[UTF8String]] = {
    b1 ++= b2
    b1
  }

  private val WHOLE = UTF8String.fromString("whole")
  private val PART = UTF8String.fromString("part")

  private def cmpNullFirst(a: UTF8String, b: UTF8String): Int =
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else a.compareTo(b)

  override def eval(buf: ArrayBuffer[Array[UTF8String]]): Any = {
    val arr = buf.toArray
    // one sort: groups contiguous by (abs_name NULLS FIRST, wholepart
    // NULLS FIRST) — null abs_name first matches the old window's
    // default asc-nulls-first ORDER ranking — members within a group in
    // the old L1 (cannonical, file_xml, tech_xml) full-entry order
    // (null-cannonical members sort first; they are skipped from the
    // concat below, so only their group membership matters)
    java.util.Arrays.sort(arr,
      new java.util.Comparator[Array[UTF8String]] {
        override def compare(a: Array[UTF8String], b: Array[UTF8String]): Int = {
          var c = cmpNullFirst(a(0), b(0))
          if (c != 0) return c
          c = cmpNullFirst(a(1), b(1))
          if (c != 0) return c
          c = cmpNullFirst(a(3), b(3))
          if (c != 0) return c
          c = cmpNullFirst(a(4), b(4))
          if (c != 0) return c
          cmpNullFirst(a(5), b(5))
        }
      })
    // fold contiguous (abs_name, wholepart) runs into groups; a
    // null-cannonical member is skipped from the concats (string_agg
    // null-key rule) but keeps its group alive, exactly like old L1
    final case class Group(absName: UTF8String, wholepart: UTF8String,
      absEsc: UTF8String, files: String, techs: String) {
      var ord: Int = 0
      def isPart: Boolean = wholepart != null && wholepart.equals(PART)
      def isWhole: Boolean = wholepart != null && wholepart.equals(WHOLE)
      lazy val wholeFiles: String = if (isWhole) files else ""
      lazy val grpXml: String =
        if (isPart) "<mets:fileGrp ID=\"fg" + absEsc + "\">" + files +
          "</mets:fileGrp>"
        else ""
      lazy val divXml: String =
        if (isPart) "<mets:div LABEL=\"[" + ord + "]\" ORDER=\"" + ord +
          "\" TYPE=\"FolderMember\"><mets:fptr FILEID=\"fg" + absEsc +
          "\"/></mets:div>"
        else ""
    }
    val groups = new ArrayBuffer[Group]
    var i = 0
    while (i < arr.length) {
      val abs = arr(i)(0); val wp = arr(i)(1)
      val fb = new java.lang.StringBuilder
      val tb = new java.lang.StringBuilder
      val esc = if (arr(i)(2) == null) UTF8String.EMPTY_UTF8 else arr(i)(2)
      while (i < arr.length && cmpNullFirst(arr(i)(0), abs) == 0 &&
          cmpNullFirst(arr(i)(1), wp) == 0) {
        if (arr(i)(3) != null) { // string_agg skips null-key rows
          if (arr(i)(4) != null) fb.append(arr(i)(4).toString)
          if (arr(i)(5) != null) tb.append(arr(i)(5).toString)
        }
        i += 1
      }
      groups += Group(abs, wp, esc, fb.toString, tb.toString)
    }
    // ord: 1-based rank among the folder's PART groups in abs_name order
    // nulls first (groups is already in that order, and abs_name is
    // unique within a wholepart by grouping, so this walk IS the old
    // row_number window order — null-abs_name part groups consume a rank
    // even though their output is dropped below)
    var partIdx = 0
    groups.foreach { g => if (g.isPart) { partIdx += 1; g.ord = partIdx } }
    // the old L2 sorted its entries by the FULL
    // (abs_name, techs, whole_files, grp_xml, div_xml) binary order and
    // SKIPPED null-key (null abs_name) entries — re-sort the survivors
    // so even same-abs_name whole/part ties order identically
    val gArr = groups.filter(_.absName != null).toArray
    java.util.Arrays.sort(gArr,
      new java.util.Comparator[Group] {
        override def compare(a: Group, b: Group): Int = {
          var c = a.absName.compareTo(b.absName)
          if (c != 0) return c
          c = a.techs.compareTo(b.techs)
          if (c != 0) return c
          c = a.wholeFiles.compareTo(b.wholeFiles)
          if (c != 0) return c
          c = a.grpXml.compareTo(b.grpXml)
          if (c != 0) return c
          a.divXml.compareTo(b.divXml)
        }
      })
    val techs = new java.lang.StringBuilder
    val wholeFiles = new java.lang.StringBuilder
    val grps = new java.lang.StringBuilder
    val divs = new java.lang.StringBuilder
    gArr.foreach { g =>
      techs.append(g.techs)
      wholeFiles.append(g.wholeFiles)
      grps.append(g.grpXml)
      divs.append(g.divXml)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        UTF8String.fromString(techs.toString),
        UTF8String.fromString(wholeFiles.toString),
        UTF8String.fromString(grps.toString),
        UTF8String.fromString(divs.toString)))
  }

  override def serialize(buf: ArrayBuffer[Array[UTF8String]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { entry =>
      var i = 0
      while (i < entry.length) {
        if (entry(i) == null) out.writeInt(-1)
        else {
          val b = entry(i).getBytes
          out.writeInt(b.length)
          out.write(b)
        }
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
      val entry = new Array[UTF8String](6)
      var i = 0
      while (i < 6) {
        val len = in.readInt()
        if (len < 0) entry(i) = null
        else {
          val b = new Array[Byte](len)
          in.readFully(b)
          entry(i) = UTF8String.fromBytes(b)
        }
        i += 1
      }
      buf += entry
      e += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MetsFold =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MetsFold =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MetsFold =
    copy(children = newChildren)
}

object MetsFold {

  val fnName = "mets_fold"

  private[graft] def builder(exprs: Seq[Expression]): Expression =
    MetsFold(exprs)
}
