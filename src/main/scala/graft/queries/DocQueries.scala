package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.oracle
import graft.operators.{DocOps, MetsOps}
import graft.sources.Tables

/** Document-shaped output (SURVEY §2.4 A1, §2.1 S15): nested grouped
  * documents and their XML rendering. The nested array<struct> is built by
  * [[DocOps.groupToDoc]] and then projected to a deterministic scalar
  * rendering so the driver harness can hash it (round-1 lesson: a raw
  * array<struct> column is unhashable in the oracle comparison) —
  * members serialize to strings in sorted-struct order, the q09
  * total-order discipline. */
object DocQueries {

  val defs: Seq[QueryDef] = Seq(

    // The nested doc is materialized (groupToDoc → sorted array<struct>),
    // then each member is rendered to a canonical scalar string and the
    // array joined — so the driver hash-checks both group membership and
    // intra-group order. Doubles render through floor() before the int
    // cast on BOTH engines (DuckDB CAST rounds, Spark truncates);
    // extendedprice renders as exact cents.
    oracle(
      "q42_group_doc_nested",
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_members,
        |  string_agg(
        |    '[' || l_linenumber || '|' || l_partkey || '|' || l_suppkey
        |      || '|' || CAST(floor(l_quantity) AS BIGINT)
        |      || '|' || CAST(floor(l_extendedprice * 100) AS BIGINT) || ']',
        |    '' ORDER BY l_linenumber, l_partkey, l_suppkey,
        |              l_quantity, l_extendedprice) AS members_str
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
      "SURVEY §2.4 A1: folder→member nested document, hashable rendering") { (s, d) =>
      // member string rendered per ROW (codegen'd concat) and carried
      // through the nested doc as a member column; the post-grouping
      // lambda only extracts it (an interpreted per-member concat at the
      // folder level measured ~2× the whole query's cost). The explicit
      // repartition moves the RAW numeric columns and renders after the
      // exchange — groupToDoc's groupBy then adds no exchange of its own
      // (hash on the group key already clusters it), so the rendered
      // strings never cross the wire.
      // range (not hash) repartition: same one-exchange grouping shape,
      // and the trailing total order by l_orderkey is then already
      // satisfied — no final range exchange, and its sampling pass no
      // longer re-executes the render+agg pipeline (q52 profile lesson)
      val rows = Tables(s, d, "lineitem")
        .repartitionByRange(col("l_orderkey"))
        .withColumn("m_str", expr(
        """concat('[', l_linenumber, '|', l_partkey, '|', l_suppkey,
          |  '|', CAST(floor(l_quantity) AS BIGINT),
          |  '|', CAST(floor(l_extendedprice * 100) AS BIGINT), ']')""".stripMargin))
      DocOps.groupToDoc(rows,
          groupKey = "l_orderkey",
          memberCols = Seq("l_partkey", "l_quantity", "l_extendedprice", "m_str"),
          sortCols = Seq("l_linenumber", "l_partkey", "l_suppkey"))
        .withColumn("members_str",
          array_join(col("members").getField("m_str"), ""))
        .select("l_orderkey", "n_members", "members_str")
        .orderBy("l_orderkey")
    },

    oracle(
      "q43_mets_render",
      """SELECT l_orderkey,
        |  '<folder id="' || l_orderkey || '">'
        |    || string_agg(m, '' ORDER BY m)
        |    || '</folder>' AS xml
        |FROM (SELECT l_orderkey,
        |        '<file n="' || l_linenumber || '" q="'
        |          || CAST(floor(l_quantity) AS BIGINT) || '"/>' AS m
        |      FROM lineitem)
        |GROUP BY l_orderkey ORDER BY l_orderkey""",
      "SURVEY §2.1 S15: grouped document → METS-like XML render") { (s, d) =>
      Tables(s, d, "lineitem")
        // raw columns cross the wire, not XML; range so the trailing
        // total order adds no exchange and no pipeline-re-running sample
        .repartitionByRange(col("l_orderkey"))
        .select(col("l_orderkey"),
          concat(lit("<file n=\""), col("l_linenumber"), lit("\" q=\""),
            floor(col("l_quantity")).cast("long"), lit("\"/>")).as("m"))
        .groupBy("l_orderkey")
        // incremental key-ordered concat (round-8 verdict item 1) in
        // place of collect_list → array_sort → array_join — one buffer,
        // one exactly-sized output write per group
        .agg(concat(lit("<folder id=\""), col("l_orderkey"), lit("\">"),
          expr("sorted_multi_concat(m).c0"),
          lit("</folder>")).as("xml"))
        .orderBy("l_orderkey")
    },

    // Full-fidelity METS (S15, lib/folder2mets.xsl:13-106) driver-checked
    // end-to-end: orders become whole (folder-level pdf) representations,
    // lineitems become part (page) representations; MetsOps.renderMets
    // assembles rights/tech amdSecs, whole-before-part fileSec, and the
    // ORDER-labelled structMap. The oracle replays the identical
    // two-level string_agg assembly in DuckDB.
    oracle(
      "q52_mets_full",
      """WITH reps AS (
        |  SELECT 'O' || o_orderkey AS objid,
        |         'O' || o_orderkey AS abs_name,
        |         'O' || o_orderkey || '.pdf' AS cannonical,
        |         'whole' AS wholepart,
        |         'deliverable' AS u,
        |         md5('ck' || o_orderkey) AS checksum,
        |         CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS sz,
        |         'application/pdf' AS mimetype,
        |         NULL AS width, NULL AS height
        |  FROM orders
        |  UNION ALL
        |  SELECT 'O' || l_orderkey,
        |         'O' || l_orderkey || '/' || lpad(CAST(l_linenumber AS VARCHAR), 8, '0')
        |           || '_' || l_partkey || '_' || l_suppkey,
        |         'O' || l_orderkey || '/' || lpad(CAST(l_linenumber AS VARCHAR), 8, '0')
        |           || '_' || l_partkey || '_' || l_suppkey || '.tif',
        |         'part', 'master',
        |         md5('ck:' || l_orderkey || ':' || l_linenumber || ':' || l_partkey
        |           || ':' || l_suppkey),
        |         CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
        |         'image/tiff',
        |         CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR),
        |         CAST(l_partkey AS VARCHAR)
        |  FROM lineitem),
        |fx AS (
        |  SELECT *,
        |    '<mets:file USE="' || u || '" ID="f' || cannonical || '" CHECKSUM="'
        |      || checksum || '" CHECKSUMTYPE="MD5" MIMETYPE="' || mimetype
        |      || '" SIZE="' || sz || '"'
        |      || CASE WHEN mimetype <> 'application/pdf'
        |              THEN ' ADMID="t' || cannonical || '"' ELSE '' END
        |      || '><mets:FLocat LOCTYPE="URN" xlink:href="urn:pudl:images:' || u
        |      || ':' || cannonical || '"/></mets:file>' AS file_xml,
        |    CASE WHEN mimetype <> 'application/pdf' THEN
        |      '<mets:techMD ID="t' || cannonical
        |      || '"><mets:mdWrap MDTYPE="NISOIMG"><mets:xmlData><mix:imageWidth>'
        |      || width || '</mix:imageWidth><mix:imageHeight>' || height
        |      || '</mix:imageHeight></mets:xmlData></mets:mdWrap></mets:techMD>'
        |    ELSE '' END AS tech_xml
        |  FROM reps),
        |g1 AS (
        |  SELECT objid, wholepart, abs_name,
        |    string_agg(file_xml, '' ORDER BY cannonical) AS files_xml,
        |    string_agg(tech_xml, '' ORDER BY cannonical) AS techs_xml
        |  FROM fx GROUP BY objid, wholepart, abs_name),
        |g1n AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY objid, wholepart
        |    ORDER BY abs_name) AS VARCHAR) AS ord
        |  FROM g1),
        |g2 AS (
        |  SELECT objid,
        |    string_agg(techs_xml, '' ORDER BY abs_name) AS amd_tech,
        |    string_agg(CASE WHEN wholepart = 'whole' THEN files_xml ELSE '' END,
        |      '' ORDER BY abs_name) AS whole_files,
        |    string_agg(CASE WHEN wholepart = 'part' THEN
        |        '<mets:fileGrp ID="fg' || abs_name || '">' || files_xml
        |        || '</mets:fileGrp>'
        |      ELSE '' END, '' ORDER BY abs_name) AS member_grps,
        |    string_agg(CASE WHEN wholepart = 'part' THEN
        |        '<mets:div LABEL="[' || ord || ']" ORDER="' || ord
        |        || '" TYPE="FolderMember"><mets:fptr FILEID="fg' || abs_name
        |        || '"/></mets:div>'
        |      ELSE '' END, '' ORDER BY abs_name) AS member_divs
        |  FROM g1n GROUP BY objid)
        |SELECT objid,
        |  '<mets:mets xmlns:mets="http://www.loc.gov/METS/"'
        |  || ' xmlns:xlink="http://www.w3.org/1999/xlink"'
        |  || ' xmlns:mix="http://www.loc.gov/mix/v20"'
        |  || ' xmlns:dct="http://purl.org/dc/terms/"'
        |  || ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
        |  || ' xsi:schemaLocation="http://www.loc.gov/METS/'
        |  || ' http://www.loc.gov/standards/mets/mets.xsd"'
        |  || ' TYPE="DigitalArchivalObject" OBJID="' || objid
        |  || '"><mets:metsHdr CREATEDATE="2026-01-01T00:00:00Z"><mets:metsDocumentID>'
        |  || objid || '.mets</mets:metsDocumentID></mets:metsHdr>'
        |  || '<mets:amdSec ID="rights"><mets:rightsMD ID="w"><mets:mdWrap MDTYPE="DC">'
        |  || '<mets:xmlData><dct:accessRights>WORLD</dct:accessRights></mets:xmlData>'
        |  || '</mets:mdWrap></mets:rightsMD><mets:rightsMD ID="po"><mets:mdWrap MDTYPE="DC">'
        |  || '<mets:xmlData><dct:accessRights>PRINCETON_ONLY</dct:accessRights></mets:xmlData>'
        |  || '</mets:mdWrap></mets:rightsMD></mets:amdSec>'
        |  || '<mets:amdSec ID="tech">' || amd_tech || '</mets:amdSec>'
        |  || '<mets:fileSec><mets:fileGrp ID="fg' || objid || '">' || whole_files
        |  || '</mets:fileGrp>' || member_grps || '</mets:fileSec>'
        |  || '<mets:structMap><mets:div LABEL="Order ' || objid
        |  || '" TYPE="Folder" ADMID="w"><mets:fptr FILEID="fg' || objid || '"/>'
        |  || member_divs || '</mets:div></mets:structMap></mets:mets>' AS mets_xml
        |FROM g2 ORDER BY objid""",
      "SURVEY §2.1 S15 full fidelity: whole-before-part METS with ORDER labels") { (s, d) =>
      val o = Tables(s, d, "orders")
      val okey = concat(lit("O"), col("o_orderkey"))
      val whole = o.select(
        okey.as("objid"),
        okey.as("abs_name"),
        concat(okey, lit(".pdf")).as("cannonical"),
        lit("whole").as("wholepart"),
        lit("deliverable").as("use"),
        md5(concat(lit("ck"), col("o_orderkey")).cast("binary")).as("checksum"),
        lit("MD5").as("checksumtype"),
        floor(col("o_totalprice")).cast("long").cast("string").as("size"),
        lit("application/pdf").as("mimetype"),
        lit(null).cast("string").as("width"),
        lit(null).cast("string").as("height"))
      val l = Tables(s, d, "lineitem")
      val lkey = concat(lit("O"), col("l_orderkey"))
      val absName = concat(lkey, lit("/"),
        lpad(col("l_linenumber").cast("string"), 8, "0"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey"))
      val part = l.select(
        lkey.as("objid"),
        absName.as("abs_name"),
        concat(absName, lit(".tif")).as("cannonical"),
        lit("part").as("wholepart"),
        lit("master").as("use"),
        md5(concat_ws(":", lit("ck"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")).cast("binary")).as("checksum"),
        lit("MD5").as("checksumtype"),
        floor(col("l_extendedprice") * 100).cast("long").cast("string").as("size"),
        lit("image/tiff").as("mimetype"),
        floor(col("l_quantity")).cast("long").cast("string").as("width"),
        col("l_partkey").cast("string").as("height"))
      val reps = whole.unionByName(part)
        .withColumn("docid", concat(col("objid"), lit(".mets")))
        .withColumn("created", lit("2026-01-01T00:00:00Z"))
        .withColumn("title", concat(lit("Order "), col("objid")))
        .withColumn("urn",
          concat(lit("urn:pudl:images:"), col("use"), lit(":"), col("cannonical")))
      MetsOps.renderMets(reps)
        .select("objid", "mets_xml")
        .orderBy("objid")
    })
}
