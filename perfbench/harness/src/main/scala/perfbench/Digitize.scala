package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{MetsOps, MultimodalOps, OrientOps}
import graft.operators.MultimodalOps.Jp2HeaderProbe
import graft.operators.Jp2Decoder
import graft.plans.{HarvestPipeline, Incremental, PublishPipeline}
import graft.sources.{BinaryFiles, EadXml, HttpOps}

/** The `digitize` workload: the reference's write path over a collection of
  * finding aids, as its nightly batch script runs it.
  *
  *   - `ingest` (the cold pass): read the EADs, harvest their dao links
  *     over real HTTP from a loopback server, scan the image store, probe
  *     every page, encode JP2 derivatives, render METS, assemble PDFs and
  *     publish;
  *   - `nightly` (each steady pass): the next night. The finished harvest
  *     resumes from its checkpoints, the EADs now carry new components,
  *     and only those run through the same chain
  *     (`Incremental.notYetDone`), publishing against the PDFs that
  *     already exist. Each pass replays the same night under its own
  *     output root.
  *
  * Output checks run after an op's timer stops.
  */
final class Digitize(spark: SparkSession, inputs: String, work: String) {
  import spark.implicits._
  import Digitize._

  private val manifest: Map[String, Any] = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .readValue(Paths.get(s"$inputs/digitize.json").toFile, classOf[Map[String, Any]])

  private val comps: Seq[Comp] =
    manifest("aids").asInstanceOf[Seq[Map[String, Any]]].flatMap { a =>
      a("components").asInstanceOf[Seq[Map[String, Any]]].map { c =>
        Comp(c("id").toString, c("kind").toString, c("new").asInstanceOf[Boolean],
          c("pages").toString.toInt)
      }
    }
  private val fresh = comps.filter(_.isNew)

  // the dao links' host: 200 under /docs/, 401 under /auth/, else 404
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val (status, body) =
      if (path.startsWith("/docs/")) (200, ("%PDF-1.4\n" + path * 40).getBytes("UTF-8"))
      else if (path.startsWith("/auth/")) (401, Array.empty[Byte])
      else (404, Array.empty[Byte])
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  })
  server.start()
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  private val fetcher = new TimedFetcher(new HttpOps.JdkHttpFetcher(timeoutMs = 10000L), Loopback, base)
  private val ocr = new TimedOcr(OrientOps.StubOcrAdapter)
  private val spell = new TimedSpell(OrientOps.StubSpellAdapter)
  private val probe = new TimedImageAdapter(MultimodalOps.Jp2AwareAdapter)
  private val encoder = new TimedTransform(MultimodalOps.Jp2EncodeTransform)
  private val assembler = new TimedAssembler(MultimodalOps.PdfAssembler)

  def close(): Unit = { server.stop(0); pool.shutdownNow() }

  private val ingestDir = s"$work/out/ingest"
  private def nightDir(pass: Int) = s"$work/out/night$pass"

  val ops: Seq[Main.Op] = Seq(
    Main.Op("ingest", "ingest", _ => ingest(), _ => check(ingestDir, comps.filterNot(_.isNew), 0),
      inPass = _ == 0),
    Main.Op("nightly", "nightly", nightly, p => check(nightDir(p), fresh, p), inPass = _ > 0))

  private def components(ead: String): DataFrame = Spans.timed("steps.ead", ead)(
    EadXml.componentsTree(spark, ead).select(col("id"), col("dao_href").as("href"),
      col("dao_show").as("show"), col("daos").getItem(0).getField("role").as("role"),
      col("title")))

  private def harvest(comps: DataFrame, dir: String): DataFrame = {
    Counters.add("plans.stages_skipped", checkpoints(dir))
    Spans.timed("plans.harvest", dir)(HarvestPipeline.run(spark, comps, dir, fetcher, ocr, spell))
  }

  private def harvested(df: DataFrame): Seq[String] =
    df.filter(col("status") === 200).select("id").as[String].collect().toSeq.sorted

  /** Scan, probe, encode, render and assemble the pages of `ids`, then
    * publish `publishIds` against the PDFs that already exist. */
  private def derive(comps: DataFrame, ids: Seq[String], dir: String,
      publishIds: Seq[String], existing: DataFrame): Unit = {
    val files = BinaryFiles.scan(spark, s"$inputs/images", "*.png", withContent = true)
      .withColumn("component_id", element_at(split(col("path"), "/"), -2))
      .filter(col("component_id").isin(ids: _*))
    val meta = MultimodalOps.probeMedia(files, probe).toDF()
    val media = meta.join(files.select("path", "content", "component_id"), "path")
    Spans.timed("steps.encode", dir)(
      MultimodalOps.resizeToTarget(media.select("path", "content", "width", "height"), encoder)
        .write.parquet(s"$dir/jp2"))

    val titles = comps.select(col("id").as("component_id"), col("title"))
    def reps(df: DataFrame, use: String, ext: String): DataFrame = df
      .withColumn("component_id", element_at(split(col("path"), "/"), -2))
      .withColumn("stem", regexp_extract(element_at(split(col("path"), "/"), -1), "^(\\d+)", 1))
      .join(titles, "component_id")
      .select(col("component_id").as("objid"),
        concat(col("component_id"), lit(".mets")).as("docid"),
        lit("2026-01-01T00:00:00Z").as("created"), col("title"),
        concat_ws("/", col("component_id"), col("stem")).as("abs_name"),
        lit("part").as("wholepart"),
        concat(col("component_id"), lit("/"), col("stem"), lit(ext)).as("cannonical"),
        lit(use).as("use"), sha1(col("content")).as("checksum"),
        lit("SHA-1").as("checksumtype"), length(col("content")).cast("string").as("size"),
        col("mimetype"), col("width").cast("string").as("width"),
        col("height").cast("string").as("height"))
      .withColumn("urn", concat(lit(s"urn:pudl:images:$use:"), col("cannonical")))
    val jp2 = spark.read.parquet(s"$dir/jp2")
    Spans.timed("steps.mets", dir)(
      MetsOps.renderMets(reps(media, "master", ".png").unionByName(reps(jp2, "deliverable", ".jp2")))
        .write.parquet(s"$dir/mets"))

    Spans.timed("steps.pdf", dir)(
      MultimodalOps.assemblePages(media.select(col("component_id").as("folder"),
          element_at(split(col("path"), "/"), -1).as("pos"), col("content")), assembler)
        .write.parquet(s"$dir/pdf"))

    val pubDir = s"$dir/publish"
    Counters.add("plans.stages_skipped", checkpoints(pubDir))
    Spans.timed("plans.publish", dir)(PublishPipeline.run(spark,
      publishIds.toDF("component_id").withColumn("name", col("component_id")),
      existing,
      comps.select(col("id").as("component_id"), col("title").as("unittitle"),
        lit("1900-1950").as("unitdate")),
      files.select("component_id", "path"), pubDir))
  }

  private def ingest(): Main.OpOut = {
    val cs = components(s"$inputs/ead")
    val ok = harvested(harvest(cs, s"$ingestDir/harvest"))
    derive(cs, ok, ingestDir, ok, Seq.empty[String].toDF("component_id"))
    Main.OpOut(ok.mkString(","))
  }

  private def nightly(pass: Int): Main.OpOut = {
    val dir = nightDir(pass)
    // resume: every stage of the ingest's harvest is checkpointed
    val done = harvest(components(s"$inputs/ead"), s"$ingestDir/harvest")
    val cs = components(s"$inputs/ead_rerun")
    val ok = harvested(harvest(Incremental.notYetDone(cs, done.select("id"), "id"), s"$dir/harvest"))
    val published = spark.read.parquet(s"$ingestDir/pdf").select(col("folder").as("component_id"))
    derive(cs, ok, dir, (harvested(done) ++ ok).sorted, published)
    Main.OpOut(ok.mkString(","))
  }

  // ---- output checks (untimed) ----

  /** F3 writeback dispatch: 200 → show "new", 401/404 → "none"; F1 keeps
    * accession and suppressed links out of the harvest. */
  private def checkHarvest(dir: String, comps: Seq[Comp]): Seq[String] = {
    val got = spark.read.parquet(dir).select("id", "status", "show")
      .as[(String, Option[Int], Option[String])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val want = comps.collect {
      case c if c.kind == "docs" => c.id -> (Some(200), Some("new"))
      case c if c.kind == "auth" => c.id -> (Some(401), Some("none"))
      case c if c.kind == "missing" => c.id -> (Some(404), Some("none"))
    }.toMap
    if (got == want) Nil else Seq(s"harvest dispatch: ${(got.toSet diff want.toSet).take(3)} " +
      s"vs ${(want.toSet diff got.toSet).take(3)}")
  }

  /** JP2 geometry (F17 target, F18 levels) of every derivative, a decode
    * of the first at ingest, METS members, PDF pages and the published
    * rows, for the components `comps`. */
  private def checkDerived(dir: String, comps: Seq[Comp], pass: Int): Seq[String] = {
    val want = comps.filter(_.kind == "docs").map(c => c.id -> c.pages).toMap
    val (w, h) = (manifest("page_width").toString.toInt, manifest("page_height").toString.toInt)
    val long = math.max(w, h)
    val scale = (long / 100 * 100).toDouble / long
    val (ew, eh) = (math.max(1, math.round(w * scale).toInt), math.max(1, math.round(h * scale).toInt))
    var d = math.max(ew, eh); var levels = 0
    while (d >= 96) { levels += 1; d /= 2 }
    val fails = Seq.newBuilder[String]

    val jp2 = spark.read.parquet(s"$dir/jp2").select("path", "content")
      .as[(String, Array[Byte])].collect()
    if (jp2.length != want.values.sum) fails += s"jp2 count ${jp2.length} != ${want.values.sum}"
    jp2.foreach { case (path, bytes) =>
      Jp2HeaderProbe.probe(bytes) match {
        case Some(i) if i.width == ew && i.height == eh && i.levels == levels && i.components == 3 =>
        case other => fails += s"$path jp2 header $other, want ${ew}x$eh levels $levels"
      }
    }
    if (pass == 0) jp2.headOption.foreach { case (path, bytes) =>
      val dec = Jp2Decoder.decode(bytes)
      if (dec.width != ew || dec.height != eh) fails += s"$path decodes to ${dec.width}x${dec.height}"
    }

    val mets = spark.read.parquet(s"$dir/mets").select("objid", "mets_xml")
      .as[(String, String)].collect().toMap
    if (mets.keySet != want.keySet) fails += s"mets objects ${mets.size} != ${want.size}"
    mets.foreach { case (id, xml) =>
      val n = want.getOrElse(id, -1)
      Seq("master", "deliverable").foreach { use =>
        val k = xml.split(s"""USE="$use"""", -1).length - 1
        if (k != n) fails += s"$id mets $use members $k != $n pages"
      }
    }

    val pdf = spark.read.parquet(s"$dir/pdf").select("folder", "n_pages", "content")
      .as[(String, Int, Array[Byte])].collect()
    if (pdf.map(_._1).toSet != want.keySet) fails += s"pdf folders ${pdf.length} != ${want.size}"
    pdf.foreach { case (id, n, bytes) =>
      if (n != want.getOrElse(id, -1) || !new String(bytes, "ISO-8859-1").contains(s"/Count $n >>"))
        fails += s"$id pdf pages $n != ${want.getOrElse(id, -1)}"
    }

    val pub = spark.read.parquet(lastStage(s"$dir/publish"))
      .select("component_id", "n_pages", "dao_show").as[(String, Option[Long], Option[String])]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val wantPub = want.map { case (id, n) => id -> (Some(n.toLong), Some("new")) }
    if (pub != wantPub) fails += s"publish ${(pub.toSet diff wantPub.toSet).take(3)} " +
      s"vs ${(wantPub.toSet diff pub.toSet).take(3)}"
    fails.result()
  }

  /** The run harvested, derived and published exactly `comps`: the whole
    * collection at ingest, only the new components at night. */
  private def check(dir: String, comps: Seq[Comp], pass: Int): (Seq[String], Map[String, Double]) =
    (checkHarvest(lastStage(s"$dir/harvest"), comps) ++ checkDerived(dir, comps, pass),
      Map("plans.checkpoint_bytes" ->
        (Main.dirBytes(s"$dir/harvest") + Main.dirBytes(s"$dir/publish")).toDouble))
}

object Digitize {
  final case class Comp(id: String, kind: String, isNew: Boolean, pages: Int)

  /** Host of every generated dao link (see `perfbench/inputs.py`). */
  val Loopback = "http://finding-aids.bench"

  /** Set-up's input resolution: the finding aids' components table and
    * the image store's listing. */
  def resolve(spark: SparkSession, inputs: String): Unit = {
    EadXml.componentsTree(spark, s"$inputs/ead").schema
    BinaryFiles.listing(spark, s"$inputs/images", "*.png").count()
  }

  /** Committed stage checkpoints under a pipeline root: the stages the
    * next run over that root skips. */
  def checkpoints(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator.asScala.count(d => Files.exists(d.resolve("_SUCCESS"))) finally s.close()
    }
  }

  /** The final stage's checkpoint under a pipeline root. */
  def lastStage(dir: String): String = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.toString).toSeq.sorted.last finally s.close()
  }
}
