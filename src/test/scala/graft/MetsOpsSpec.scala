package graft

import graft.operators.MetsOps

/** S15 full fidelity: the `lib/folder2mets.xsl:13-106` surface as a
  * golden-file test (SURVEY §5.3). The golden document was reviewed
  * element-by-element against the XSL templates; ids are the
  * deterministic canonical-name scheme documented on [[MetsOps]]
  * (XSLT `generate-id()` is run-dependent). */
class MetsOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = Seq(
    // whole: folder-level pdf (abs_name == objid)
    ("MC001_c0001", "MC001_c0001.mets", "2026-01-01T00:00:00Z", "Folder 1",
      "MC001_c0001", "whole", "MC001_c0001.pdf", "deliverable", "aaa111",
      "SHA-1", "1024", "application/pdf", null, null,
      "urn:pudl:images:deliverable:MC001_c0001.pdf"),
    // member 1: master tif + deliverable jp2
    ("MC001_c0001", "MC001_c0001.mets", "2026-01-01T00:00:00Z", "Folder 1",
      "MC001_c0001/00000001", "part", "MC001_c0001/00000001.tif", "master",
      "bbb222", "SHA-1", "2048", "image/tiff", "100", "200",
      "urn:pudl:images:master:MC001_c0001/00000001.tif"),
    ("MC001_c0001", "MC001_c0001.mets", "2026-01-01T00:00:00Z", "Folder 1",
      "MC001_c0001/00000001", "part", "MC001_c0001/00000001.jp2", "deliverable",
      "ccc333", "SHA-1", "512", "image/jp2", "100", "200",
      "urn:pudl:images:deliverable:MC001_c0001/00000001.jp2"),
    // member 2
    ("MC001_c0001", "MC001_c0001.mets", "2026-01-01T00:00:00Z", "Folder 1",
      "MC001_c0001/00000002", "part", "MC001_c0001/00000002.tif", "master",
      "ddd444", "SHA-1", "4096", "image/tiff", "300", "400",
      "urn:pudl:images:master:MC001_c0001/00000002.tif"))
    .toDF("objid", "docid", "created", "title", "abs_name", "wholepart",
      "cannonical", "use", "checksum", "checksumtype", "size", "mimetype",
      "width", "height", "urn")

  private def golden: String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_mets.xml"), "UTF-8")
    try src.mkString.trim finally src.close()
  }

  test("METS render matches the golden XSL-equivalent document byte-for-byte") {
    val out = MetsOps.renderMets(fixture()).select("mets_xml").head.getString(0)
    assert(out === golden)
  }

  test("render is insensitive to input row order (sorted-group discipline)") {
    import org.apache.spark.sql.functions.rand
    val shuffled = fixture().orderBy(rand(42)).repartition(3)
    val out = MetsOps.renderMets(shuffled).select("mets_xml").head.getString(0)
    assert(out === golden)
  }

  test("structural invariants: whole-before-part, ORDER labels, ADMID only non-pdf") {
    val out = MetsOps.renderMets(fixture()).select("mets_xml").head.getString(0)
    // folder fileGrp (whole) precedes both member fileGrps
    val fgFolder = out.indexOf("""<mets:fileGrp ID="fgMC001_c0001">""")
    val fgM1 = out.indexOf("""<mets:fileGrp ID="fgMC001_c0001/00000001">""")
    val fgM2 = out.indexOf("""<mets:fileGrp ID="fgMC001_c0001/00000002">""")
    assert(fgFolder >= 0 && fgFolder < fgM1 && fgM1 < fgM2)
    // 1-based member ORDER labels in position order
    assert(out.contains("""LABEL="[1]" ORDER="1" TYPE="FolderMember""""))
    assert(out.contains("""LABEL="[2]" ORDER="2" TYPE="FolderMember""""))
    // the pdf file has no ADMID; every image file links its techMD
    assert(!out.contains("""SIZE="1024" ADMID"""))
    assert(out.contains("""ADMID="tMC001_c0001/00000001.tif""""))
    // rights enum present exactly once each
    assert(out.sliding("WORLD".length).count(_ == "WORLD") === 1)
    assert(out.sliding("PRINCETON_ONLY".length).count(_ == "PRINCETON_ONLY") === 1)
  }

  test("markup characters in title and paths are attribute-escaped") {
    import org.apache.spark.sql.functions.{concat_ws, lit, regexp_replace}
    val dirty = fixture()
      .withColumn("title", lit("""Smith & Jones "Papers" <1900>"""))
      .withColumn("abs_name", regexp_replace($"abs_name", "MC001", "M&C001"))
      .withColumn("cannonical", regexp_replace($"cannonical", "MC001", "M&C001"))
      .withColumn("objid", regexp_replace($"objid", "MC001", "M&C001"))
      .withColumn("urn", concat_ws("", lit("urn:pudl:images:x:"), $"cannonical"))
    val out = MetsOps.renderMets(dirty).select("mets_xml").head.getString(0)
    assert(out.contains(
      """LABEL="Smith &amp; Jones &quot;Papers&quot; &lt;1900&gt;""""))
    assert(out.contains("""OBJID="M&amp;C001_c0001""""))
    assert(out.contains("""<mets:fileGrp ID="fgM&amp;C001_c0001/00000001">"""))
    // no raw markup characters survive inside any attribute value
    assert(!out.contains("\"M&C001") && !out.contains("& Jones"))
    // still well-formed enough for the JDK XML parser (namespaces aside)
    val wrapped = out
      .replace("mets:", "").replace("mix:", "").replace("dct:", "")
      .replace("xlink:", "").replace("xsi:", "")
    javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(wrapped.getBytes("UTF-8")))
  }

  test("renderClustered: renderMets's document on any input, no exchange of its own on objid-ranged reps") {
    import org.apache.spark.sql.functions.col
    // unpartitioned input: the fold's clustered distribution makes Spark
    // insert an exchange itself, and the document is the same
    def xml(df: org.apache.spark.sql.DataFrame) =
      df.select("mets_xml").head.getString(0)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange"))
    val unparted = MetsOps.renderClustered(fixture())
    assert(exchanges(unparted) === 1)
    assert(xml(unparted) === xml(MetsOps.renderMets(fixture())))
    // objid-ranged input: the one exchange is the caller's
    val ranged = MetsOps.renderClustered(fixture().repartitionByRange(col("objid")))
    assert(exchanges(ranged) === 1,
      s"renderClustered added an exchange to objid-ranged reps:\n${ranged.queryExecution.executedPlan}")
    assert(xml(ranged) === golden)
  }

  test("missing title renders as [No title] (folder2mets.xsl:97)") {
    val noTitle = fixture().withColumn("title",
      org.apache.spark.sql.functions.lit(""))
    val out = MetsOps.renderMets(noTitle).select("mets_xml").head.getString(0)
    assert(out.contains("""<mets:div LABEL="[No title]" TYPE="Folder" ADMID="w">"""))
  }
}
