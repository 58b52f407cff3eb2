package graft

import org.apache.spark.sql.functions._

import graft.operators.{DocOps, MultimodalOps, VoteOps}

class DocOpsSpec extends SparkSpec {
  import spark.implicits._

  private val reps = Seq(
    // (folder, seq, use) — deliberately out of order
    ("AC044/c0002", 2, "deliverable"),
    ("AC044/c0002", 1, "master"),
    ("AC044/c0001", 1, "master"))
    .toDF("folder", "seq", "use")

  test("groupToDoc collects sorted members per group (A1)") {
    val docs = DocOps.groupToDoc(reps, "folder", Seq("use"), Seq("seq"))
      .orderBy("folder").collect()
    assert(docs.length === 2)
    val members = docs(1).getSeq[org.apache.spark.sql.Row](1)
    assert(members.map(_.getInt(0)) === Seq(1, 2)) // sorted by seq
    assert(docs(1).getLong(2) === 2L)
  }

  test("renderXml emits deterministic member order (S15 golden)") {
    val xml = DocOps.renderXml(
        DocOps.groupToDoc(reps, "folder", Seq("use"), Seq("seq")),
        "folder", "folder",
        """concat('<file seq="', m.seq, '" use="', m.use, '"/>')""")
      .orderBy("folder").select("xml").as[String].collect()
    assert(xml(0) === """<folder id="AC044/c0001">  <file seq="1" use="master"/></folder>"""
      .replace("  ", "") || xml(0).contains("""<file seq="1" use="master"/>"""))
    assert(xml(1).indexOf("""seq="1"""") < xml(1).indexOf("""seq="2""""))
    assert(xml(1).startsWith("""<folder id="AC044/c0002">"""))
    assert(xml(1).endsWith("</folder>"))
  }

  test("writeback dispatches status to show attribute (J2 + F3)") {
    val components = Seq(("u1"), ("u2"), ("u3"), ("u4")).toDF("href")
    val results = Seq(("u1", 200), ("u2", 404), ("u3", 401)).toDF("href", "status")
    val got = DocOps.writeback(components, results, "href", "status")
      .orderBy("href")
      .select("href", "show", "updated")
      .collect().map(r => (r.getString(0), Option(r.getString(1)), r.getBoolean(2)))
    assert(got.toSeq === Seq(
      ("u1", Some("new"), true),
      ("u2", Some("none"), true),
      ("u3", Some("none"), true),
      ("u4", None, false)))
  }

  test("orientation vote: bottom-k by cheap score then argmin costly (T1/T2)") {
    val candidates = Seq(
      // (image, rotation, word_count, misspelled)
      ("img1", 0, 120, 4),
      ("img1", 90, 20, 9),   // cheap-best
      ("img1", 180, 25, 3),  // cheap-2nd, costly-best → winner
      ("img1", 270, 110, 1))
      .toDF("image", "rotation", "word_count", "misspelled")
    val w = VoteOps.vote(candidates, "image", "rotation", "word_count", "misspelled")
      .select("rotation").as[Int].collect()
    assert(w.toSeq === Seq(180))
  }

  test("multimodal probe: stub adapter yields typed deterministic metadata") {
    val files = Seq(
      ("/store/AC044/c0001/00000001.tif", Array[Byte](10, 20, 30, 40), 4L),
      ("/store/AC044/c0001/00000002.pbm", Array[Byte](1, 2, 3, 4), 4L))
      .toDF("path", "content", "length")
    val meta = MultimodalOps.probeMedia(files).orderBy("path").collect()
    assert(meta(0).mimetype === "image/tiff" && meta(0).bits === 24)
    assert(meta(1).mimetype === "image/x-pbm" && meta(1).bits === 1)
    assert(meta.forall(m => m.width >= 100 && m.height >= 100))
    assert(meta.forall(_.checksum.length === 40)) // sha1 hex
    val again = MultimodalOps.probeMedia(files).orderBy("path").collect()
    assert(meta.toSeq === again.toSeq)
  }

  test("resize target and jp2 levels match the reference math (F17/F18)") {
    val meta = Seq((3247, 1100)).toDF("width", "height")
    val got = MultimodalOps.withJp2Levels(MultimodalOps.withResizeTarget(meta))
      .select("resize_target", "jp2_levels").head
    assert(got.getLong(0) === 3200L) // 3247 → floor to ×100
    // 3247 div 96 = 33 → bin "100001" → 6 halvings until < 96
    assert(got.getLong(1) === 6L)
  }

  test("resizeToTarget keeps aspect ratio and hits the F17 target (stub codec)") {
    val media = Seq(
      ("/s/a.tif", Array.fill[Byte](4000)(7), 3247, 1100),
      ("/s/b.tif", Array.fill[Byte](2000)(7), 250, 900))
      .toDF("path", "content", "width", "height")
    val out = MultimodalOps.resizeToTarget(media)
      .collect().map(m => m.path -> m).toMap
    // 3247×1100 → target 3200: scale 3200/3247
    assert(out("/s/a.tif").width === (3247 * 3200.0 / 3247).toInt)
    assert(out("/s/a.tif").height === (1100 * 3200.0 / 3247).toInt)
    // 250×900 → target 900: long side is height
    assert(out("/s/b.tif").height === 900 && out("/s/b.tif").width === 250)
    // payload shrinks with area, never grows
    assert(out("/s/a.tif").content.length <= 4000)
    val again = MultimodalOps.resizeToTarget(media).collect().map(m => m.path -> m.content.toSeq).toMap
    assert(out.map { case (k, v) => k -> v.content.toSeq } === again)
  }
}
