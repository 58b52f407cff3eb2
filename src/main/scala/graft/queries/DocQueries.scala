package graft.queries

import org.apache.spark.sql.Column
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
    // lineitems become part (page) representations; MetsOps.renderClustered
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
      // Only raw fields cross the one exchange: objid (the range key), a
      // literal whole/part flag per branch and the numbers the rep
      // strings derive from. The 15 rep columns — md5 hex, paths,
      // literals — are built AFTER it, so the range sampler re-runs only
      // a scan + one concat, and the exchange carries 8 columns instead
      // of 14 string columns: 1.5 MB instead of 5.9 MB per pass of the
      // perfbench query workload.
      // The partition count is pinned at 2 × shuffle partitions. Measured
      // at local[4] on that workload, interleaved runs: unpinned, AQE
      // coalesces the now-small shuffle into ONE reduce task and q52's
      // wall is 0.65-0.73 s against 0.41-0.44 s at 2×; pinned at 1×,
      // heap_peak_mb reads 110-123 MB against 93-96 MB at 2× (90-92
      // unpinned), past the benchmark's 24% heap bound. The likely cause
      // (not traced): four quarter-table mets_fold buffers outlive the
      // young collections that the post-exchange string building
      // triggers and are promoted.
      val whole = Tables(s, d, "orders").select(
        concat(lit("O"), col("o_orderkey")).as("objid"),
        lit(true).as("is_whole"),
        col("o_orderkey").as("okey"),
        col("o_totalprice").as("price"))
      val part = Tables(s, d, "lineitem").select(
        concat(lit("O"), col("l_orderkey")).as("objid"),
        lit(false).as("is_whole"),
        col("l_orderkey").as("okey"),
        col("l_extendedprice").as("price"),
        col("l_linenumber").as("lnum"),
        col("l_partkey").as("pkey"),
        col("l_suppkey").as("skey"),
        col("l_quantity").as("qty"))
      val nParts = 2 * s.sessionState.conf.numShufflePartitions
      val raw = whole.unionByName(part, allowMissingColumns = true)
        .repartitionByRange(nParts, col("objid"))
      def wp(w: Column, p: Column): Column = when(col("is_whole"), w).otherwise(p)
      val absName = wp(col("objid"), concat(col("objid"), lit("/"),
        lpad(col("lnum").cast("string"), 8, "0"),
        lit("_"), col("pkey"), lit("_"), col("skey")))
      val reps = raw.select(
        col("objid"),
        absName.as("abs_name"),
        concat(absName, wp(lit(".pdf"), lit(".tif"))).as("cannonical"),
        wp(lit("whole"), lit("part")).as("wholepart"),
        wp(lit("deliverable"), lit("master")).as("use"),
        wp(md5(concat(lit("ck"), col("okey")).cast("binary")),
          md5(concat_ws(":", lit("ck"), col("okey"), col("lnum"),
            col("pkey"), col("skey")).cast("binary"))).as("checksum"),
        lit("MD5").as("checksumtype"),
        wp(floor(col("price")), floor(col("price") * 100))
          .cast("long").cast("string").as("size"),
        wp(lit("application/pdf"), lit("image/tiff")).as("mimetype"),
        wp(lit(null), floor(col("qty")).cast("long").cast("string")).as("width"),
        wp(lit(null), col("pkey").cast("string")).as("height"))
        .withColumn("docid", concat(col("objid"), lit(".mets")))
        .withColumn("created", lit("2026-01-01T00:00:00Z"))
        .withColumn("title", concat(lit("Order "), col("objid")))
        .withColumn("urn",
          concat(lit("urn:pudl:images:"), col("use"), lit(":"), col("cannonical")))
      MetsOps.renderClustered(reps)
        .select("objid", "mets_xml")
        .orderBy("objid")
    })
}
