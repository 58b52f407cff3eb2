package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-fidelity METS rendering (S15) — the `lib/folder2mets.xsl:13-106`
  * surface over dao.py's folder tree (`bin/dao.py:173-203`):
  *
  *   - folder→member→representation grouping with WHOLE-BEFORE-PART
  *     ordering: dao.py iterates group keys in sorted order and the whole
  *     group's abs_name IS the objid, which sorts before every
  *     `objid/page` part key — so folder-level (whole) representations
  *     precede members, and `.//representation` document order is the
  *     flattened sorted-group order (`bin/dao.py:189-203`);
  *   - metsHdr CREATEDATE + metsDocumentID (`folder2mets.xsl:18-22`);
  *   - static rights amdSec: WORLD / PRINCETON_ONLY enum
  *     (`folder2mets.xsl:23-38`);
  *   - tech amdSec: one techMD (mix width/height) per NON-pdf
  *     representation in document order (`folder2mets.xsl:40-42,55-68`);
  *   - fileSec: the folder's own fileGrp (whole reps) first, then one
  *     fileGrp per member in document order (`folder2mets.xsl:44-47`);
  *     every file carries USE/CHECKSUM/CHECKSUMTYPE/MIMETYPE/SIZE and,
  *     for non-pdf, an ADMID pointing at its techMD
  *     (`folder2mets.xsl:76-83`);
  *   - structMap: folder div (LABEL = title or '[No title]',
  *     TYPE=Folder, ADMID=w) containing member divs with 1-based
  *     LABEL='[n]' / ORDER=n in member position order
  *     (`folder2mets.xsl:85-106`).
  *
  * Determinism by design (SURVEY §7.3): XSLT `generate-id()` is
  * run-dependent, so element ids here derive from the canonical names
  * instead (f/t + cannonical, fg + objid|abs_name) — stable across runs
  * and engines. Within groups, representations sort by cannonical name
  * (the reference inherits unsorted `os.listdir` order; we make the
  * sorted-listing discipline explicit). Output is compact XML — the
  * XSL's `indent="yes"` whitespace is insignificant.
  *
  * Scale shape: two partial-agg shuffles on bounded keys
  * ((objid, abs_name), then objid); each folder's document builds inside
  * one row from sorted arrays — no window, no per-member join, and
  * folders are bounded (a folder holds pages of one archival object).
  *
  * Input columns: objid, docid, created, title, abs_name, wholepart,
  * cannonical, use, checksum, checksumtype, size, mimetype, width,
  * height, urn (width/height null ⇔ pdf — `bin/dao.py:91-100`).
  */
object MetsOps {

  /** XML attribute-value escape (&, <, >, ") — the XSL escapes
    * attribute values automatically; string concat does not. Ampersand
    * first so entities aren't double-escaped. */
  private def xmlEsc(c: String): String =
    s"""replace(replace(replace(replace($c,
       |  '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;')""".stripMargin

  /** `<mets:file>` element over plain row columns — rendered BEFORE any
    * grouping so the concat runs codegen'd per row (a `transform` lambda
    * at the folder level would evaluate interpreted per member — the
    * measured-15× HOF trap; post-grouping lambdas here only EXTRACT
    * pre-rendered strings). Path-derived values (cannonical, urn) are
    * attribute-escaped via the hoisted `can_esc`/`urn_esc` columns —
    * escaping is a 4-deep replace chain, and referencing a shared
    * non-cheap alias (which CollapseProject will not re-inline) instead
    * of repeating the chain three times cuts both the generated-code
    * size (codegen compile is q52's dominant first-run cost) and the
    * per-row work. use/checksum/checksumtype/mimetype/size are
    * format-constrained (enum / hex / MIME token / digits). */
  private val fileXml: String =
    s"""concat('<mets:file USE="', use, '" ID="f', can_esc,
       |  '" CHECKSUM="', checksum, '" CHECKSUMTYPE="', checksumtype,
       |  '" MIMETYPE="', mimetype, '" SIZE="', size, '"',
       |  CASE WHEN mimetype <> 'application/pdf'
       |       THEN concat(' ADMID="t', can_esc, '"') ELSE '' END,
       |  '><mets:FLocat LOCTYPE="URN" xlink:href="', urn_esc,
       |  '"/></mets:file>')""".stripMargin

  /** `<mets:techMD>` over plain row columns ('' for pdf). */
  private val techXml: String =
    s"""CASE WHEN mimetype <> 'application/pdf' THEN
       |  concat('<mets:techMD ID="t', can_esc,
       |    '"><mets:mdWrap MDTYPE="NISOIMG">',
       |    '<mets:xmlData><mix:imageWidth>', width, '</mix:imageWidth>',
       |    '<mix:imageHeight>', height, '</mix:imageHeight>',
       |    '</mets:xmlData></mets:mdWrap></mets:techMD>')
       |ELSE '' END""".stripMargin

  private val rightsXml =
    """<mets:amdSec ID="rights"><mets:rightsMD ID="w"><mets:mdWrap MDTYPE="DC">""" +
      """<mets:xmlData><dct:accessRights>WORLD</dct:accessRights></mets:xmlData>""" +
      """</mets:mdWrap></mets:rightsMD><mets:rightsMD ID="po"><mets:mdWrap MDTYPE="DC">""" +
      """<mets:xmlData><dct:accessRights>PRINCETON_ONLY</dct:accessRights></mets:xmlData>""" +
      """</mets:mdWrap></mets:rightsMD></mets:amdSec>"""

  /** One row per (objid, docid, created, title) with the rendered METS
    * document in `mets_xml`.
    *
    * Shuffle shape (round-2 verdict item 1, tightened round 4): ONE
    * RANGE exchange on `objid`, placed before any rendering. Range
    * partitioning on a subset of the grouping/partition keys satisfies
    * the clustered distribution of BOTH grouping levels and the ORDER
    * window (all rows of a folder land in one partition), so neither
    * aggregate nor the window adds an exchange — and, unlike the round-3
    * hash exchange, it ALSO satisfies the caller's trailing total order
    * by `objid` (OrderedDistribution), which removes both the final
    * range exchange and its sampling pass. That sampling pass was
    * q52's dominant hidden cost (profiles/q52_r4_baseline.jsonl): to
    * sample sort keys, Spark re-executed the whole render + two
    * aggregation levels a second time — ~45% of steady-state work.
    * Sampling the RAW rows here instead costs one extra cheap scan.
    * The wire still carries ~150 B/row of fields instead of ~700 B/row
    * of rendered XML, once. */
  def renderMets(reps: DataFrame): DataFrame = {
    val parted = reps.repartitionByRange(col("objid"))
    // per-row codegen'd rendering AFTER the exchange; the grouped levels
    // below only sort, extract, and join pre-built strings. abs_name is
    // attribute-escaped here too (once per row, codegen'd) — sorting
    // still keys on the RAW abs_name so group order matches dao.py's
    // sorted-key iteration even when names contain markup characters.
    val rendered = parted
      .withColumn("can_esc", expr(xmlEsc("cannonical")))
      .withColumn("urn_esc", expr(xmlEsc("urn")))
      .withColumn("abs_esc", expr(xmlEsc("abs_name")))
      .withColumn("file_xml", expr(fileXml))
      .withColumn("tech_xml", expr(techXml))
    // BOTH grouping levels + the member ORDER window in ONE aggregate
    // (round 15; MetsFold's scaladoc carries the exact-equivalence
    // contract and MetsFoldSpec the differential proof against the
    // replaced sorted_multi_concat → window → sorted_multi_concat
    // chain). The replaced chain cost ~8.8 of the render stage's ~15
    // task-seconds at sf0.1 (per-stage decomposition of q52): the
    // rep-level ObjectHashAggregate hashed 75k near-singleton groups on
    // SEVEN string key columns and round-tripped every typed buffer
    // through serialize/deserialize between its partial and final modes,
    // the ORDER-label window sorted the full rep table a second time,
    // and the folder-level aggregate hashed and buffered a third. The
    // fold is one hash table on the four folder columns + one in-memory
    // sort per folder — whole-before-part order, per-member envelopes,
    // and the 1-based ORDER labels all come from that sort, and the
    // output columns are byte-identical by the spec'd contract.
    rendered
      .groupBy("objid", "docid", "created", "title")
      .agg(expr(
        "mets_fold(abs_name, wholepart, abs_esc, cannonical, file_xml, tech_xml)")
        .as("joined"))
      .withColumn("objid_esc", expr(xmlEsc("objid")))
      .withColumn("amd_tech", concat(
        lit("<mets:amdSec ID=\"tech\">"),
        col("joined").getField("c0"),
        lit("</mets:amdSec>")))
      .withColumn("file_sec", concat(
        lit("<mets:fileSec><mets:fileGrp ID=\"fg"), col("objid_esc"), lit("\">"),
        col("joined").getField("c1"),
        lit("</mets:fileGrp>"),
        col("joined").getField("c2"),
        lit("</mets:fileSec>")))
      .withColumn("struct_map", concat(
        lit("<mets:structMap><mets:div LABEL=\""),
        when(col("title").isNull || col("title") === "", lit("[No title]"))
          .otherwise(expr(xmlEsc("title"))),
        lit("\" TYPE=\"Folder\" ADMID=\"w\"><mets:fptr FILEID=\"fg"),
        col("objid_esc"), lit("\"/>"),
        col("joined").getField("c3"),
        lit("</mets:div></mets:structMap>")))
      .withColumn("mets_xml", expr(
        s"""concat('<mets:mets xmlns:mets="http://www.loc.gov/METS/"',
           |  ' xmlns:xlink="http://www.w3.org/1999/xlink"',
           |  ' xmlns:mix="http://www.loc.gov/mix/v20"',
           |  ' xmlns:dct="http://purl.org/dc/terms/"',
           |  ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"',
           |  ' xsi:schemaLocation="http://www.loc.gov/METS/',
           |  ' http://www.loc.gov/standards/mets/mets.xsd"',
           |  ' TYPE="DigitalArchivalObject" OBJID="', ${xmlEsc("objid")}, '">',
           |  '<mets:metsHdr CREATEDATE="', created, '">',
           |  '<mets:metsDocumentID>', ${xmlEsc("docid")}, '</mets:metsDocumentID>',
           |  '</mets:metsHdr>',""".stripMargin +
          s"'$rightsXml'," +
          """amd_tech, file_sec, struct_map, '</mets:mets>')"""))
      .select("objid", "docid", "created", "title", "mets_xml")
  }
}
