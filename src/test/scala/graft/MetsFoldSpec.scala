package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential proof for [[graft.functions.MetsFold]] (round 15): the
  * one-aggregate fold must reproduce the replaced
  * `sorted_multi_concat → ORDER window → sorted_multi_concat` chain
  * byte-for-byte on every adversarial shape — multi-rep member groups,
  * markup characters, NULL cannonical (skipped row), NULL abs_name
  * (dropped group), NULL fragment columns, and the pathological
  * whole/part same-abs_name tie the old L2 full-entry sort ordered. */
class MetsFoldSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-round-15 chain, verbatim (L1 agg → ord window → L2 agg),
    * over the same pre-rendered columns the fold consumes. */
  private def oldChain(rendered: DataFrame): DataFrame = {
    val groups = rendered
      .groupBy("objid", "wholepart", "abs_name", "abs_esc")
      .agg(expr("sorted_multi_concat(cannonical, file_xml, tech_xml)").as("joined"))
      .withColumn("files_xml", col("joined").getField("c0"))
      .withColumn("techs_xml", col("joined").getField("c1"))
      .drop("joined")
    val ordW = Window.partitionBy("objid", "wholepart").orderBy("abs_name")
    val frags = groups
      .withColumn("ord", row_number().over(ordW).cast("string"))
      .withColumn("whole_files",
        expr("CASE WHEN wholepart = 'whole' THEN files_xml ELSE '' END"))
      .withColumn("grp_xml", expr(
        """CASE WHEN wholepart = 'part' THEN
          |  concat('<mets:fileGrp ID="fg', abs_esc, '">', files_xml,
          |         '</mets:fileGrp>')
          |ELSE '' END""".stripMargin))
      .withColumn("div_xml", expr(
        """CASE WHEN wholepart = 'part' THEN
          |  concat('<mets:div LABEL="[', ord, ']" ORDER="', ord,
          |    '" TYPE="FolderMember"><mets:fptr FILEID="fg', abs_esc,
          |    '"/></mets:div>')
          |ELSE '' END""".stripMargin))
    frags
      .groupBy("objid")
      .agg(expr(
        "sorted_multi_concat(abs_name, techs_xml, whole_files, grp_xml, div_xml)")
        .as("joined"))
      .select(col("objid"),
        col("joined").getField("c0").as("c0"),
        col("joined").getField("c1").as("c1"),
        col("joined").getField("c2").as("c2"),
        col("joined").getField("c3").as("c3"))
  }

  private def newFold(rendered: DataFrame): DataFrame =
    rendered
      .groupBy("objid")
      .agg(expr(
        "mets_fold(abs_name, wholepart, abs_esc, cannonical, file_xml, tech_xml)")
        .as("joined"))
      .select(col("objid"),
        col("joined").getField("c0").as("c0"),
        col("joined").getField("c1").as("c1"),
        col("joined").getField("c2").as("c2"),
        col("joined").getField("c3").as("c3"))

  private def check(rows: Seq[(String, String, String, String, String, String)]): Unit = {
    val rendered = rows
      .toDF("objid", "abs_name", "wholepart", "cannonical", "file_xml", "tech_xml")
      .withColumn("abs_esc", expr(
        """replace(replace(replace(replace(abs_name,
          |  '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;')""".stripMargin))
    val want = oldChain(rendered).orderBy("objid").collect().toSeq
    val got = newFold(rendered).orderBy("objid").collect().toSeq
    assert(got === want)
  }

  test("normal folder: whole + multi-rep parts, ORDER labels, envelopes") {
    check(Seq(
      ("F1", "F1", "whole", "F1.pdf", "<f:F1.pdf/>", ""),
      ("F1", "F1/0002", "part", "F1/0002.tif", "<f:0002t/>", "<t:0002t/>"),
      ("F1", "F1/0001", "part", "F1/0001.tif", "<f:0001t/>", "<t:0001t/>"),
      ("F1", "F1/0001", "part", "F1/0001.jp2", "<f:0001j/>", "<t:0001j/>"),
      ("F2", "F2/0001", "part", "F2/0001.tif", "<f:F2/>", "<t:F2/>")))
  }

  test("markup characters ride the pre-escaped abs_esc identically") {
    check(Seq(
      ("F<&>", "F<&>", "whole", "F.pdf", "<w/>", ""),
      ("F<&>", "F<&>/a\"b", "part", "F/a.tif", "<p/>", "<tp/>")))
  }

  test("NULL cannonical row is skipped; NULL fragments contribute ''") {
    check(Seq(
      ("F1", "F1/0001", "part", null, "<dropped/>", "<dropped/>"),
      ("F1", "F1/0001", "part", "F1/0001.tif", null, null),
      ("F1", "F1/0002", "part", "F1/0002.tif", "<kept/>", "<tk/>")))
  }

  test("NULL abs_name group is dropped (old L2 null-key skip)") {
    check(Seq(
      ("F1", null, "part", "F1/x.tif", "<x/>", "<tx/>"),
      ("F1", "F1/0001", "part", "F1/0001.tif", "<kept/>", "<tk/>")))
  }

  test("group of only-null cannonicals still wraps an empty envelope") {
    check(Seq(
      ("F1", "F1/0001", "part", null, "<x/>", "<tx/>"),
      ("F1", "F1/0002", "part", "F1/0002.tif", "<kept/>", "<tk/>")))
  }

  test("pathological whole/part same-abs_name tie keeps the old L2 order") {
    check(Seq(
      ("F1", "F1/shared", "whole", "F1/shared.pdf", "<w/>", ""),
      ("F1", "F1/shared", "part", "F1/shared.tif", "<p/>", "<tp/>"),
      ("F1", "F1/zz", "part", "F1/zz.tif", "<z/>", "<tz/>")))
  }

  test("non-standard wholepart values envelope to nothing, techs still fold") {
    check(Seq(
      ("F1", "F1/0001", "other", "F1/0001.tif", "<o/>", "<to/>"),
      ("F1", "F1/0002", "part", "F1/0002.tif", "<p/>", "<tp/>")))
  }

  test("many parts: ORDER labels count part groups only, in abs_name order") {
    val parts = (1 to 12).map(i =>
      ("F1", f"F1/$i%04d", "part", f"F1/$i%04d.tif", s"<f$i/>", s"<t$i/>"))
    check(parts :+ (("F1", "F1", "whole", "F1.pdf", "<w/>", "")))
  }
}
