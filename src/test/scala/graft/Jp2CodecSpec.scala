package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Jp2Codec, Jp2Decoder, Jp2Encoder, Jp2Params, MultimodalOps}

/** The JPEG2000 codec proof chain, layer by layer: MQ coder round trip,
  * 5/3 DWT exactness, tag trees, a single EBCOT block, then whole-image
  * lossless round trips (gray, RGB/RCT, multi-tile), the kdu-shaped
  * rate ladder, and cross-validation against the round-12
  * [[MultimodalOps.Jp2HeaderProbe]] parser. */
class Jp2CodecSpec extends AnyFunSuite {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  test("MQ coder: decisions round-trip across contexts, incl. stuffing") {
    val bits = lcg(42L).take(5000).map(v => (((v >>> 33) % 100) < 85, ((v >>> 13) % 19).toInt)).toSeq
    val enc = new Jp2Codec.MqEncoder
    bits.foreach { case (d, cx) => enc.encode(cx, if (d) 1 else 0) }
    val data = enc.flush()
    val dec = new Jp2Codec.MqDecoder(data)
    bits.zipWithIndex.foreach { case ((d, cx), i) =>
      assert(dec.decode(cx) === (if (d) 1 else 0), s"decision $i")
    }
  }

  test("MQ coder: all-MPS and all-LPS extremes survive") {
    for (v <- Seq(0, 1)) {
      val enc = new Jp2Codec.MqEncoder
      (1 to 300).foreach(_ => enc.encode(0, v))
      val dec = new Jp2Codec.MqDecoder(enc.flush())
      (1 to 300).foreach(i => assert(dec.decode(0) === v, s"rep $i"))
    }
  }

  test("5/3 DWT: 1-D and multi-level 2-D round-trip exactly, odd dims") {
    for (n <- Seq(1, 2, 3, 5, 8, 97)) {
      val x = lcg(n.toLong).take(n).map(v => ((v >>> 40) % 512).toInt - 256).toArray
      val (lo, hi) = Jp2Codec.Dwt53.forward(x.clone(), n)
      assert(Jp2Codec.Dwt53.inverse(lo, hi).toSeq === x.toSeq, s"n=$n")
    }
    for ((w, h, lv) <- Seq((64, 64, 3), (65, 33, 4), (7, 11, 2), (256, 256, 5))) {
      val px = lcg((w * h).toLong).take(w * h).map(v => ((v >>> 40) % 256).toInt - 128).toArray
      val bands = Jp2Codec.forwardDwt(px.clone(), w, h, lv)
      assert(Jp2Codec.inverseDwt(bands, w, h).toSeq === px.toSeq, s"${w}x$h lv=$lv")
    }
  }

  test("tag tree: encoder and decoder agree on a ragged grid") {
    val (w, h) = (5, 3)
    val values = Array(0, 2, 1, 3, 0, 1, 1, 4, 0, 2, 5, 0, 1, 2, 3)
    val enc = new Jp2Codec.TagTree(w, h)
    enc.setValues(values)
    val bw = new Jp2Codec.HeaderBitWriter
    // drive exactly like packet headers: rising thresholds per leaf
    for (thr <- 1 to 6; y <- 0 until h; x <- 0 until w)
      enc.encode(x, y, thr, bw)
    val data = bw.flush()
    val dec = new Jp2Codec.TagTree(w, h)
    val br = new Jp2Codec.HeaderBitReader(data, 0)
    for (thr <- 1 to 6; y <- 0 until h; x <- 0 until w) {
      val lt = dec.decode(x, y, thr, br)
      assert(lt === (values(y * w + x) < thr), s"leaf ($x,$y) thr=$thr")
      if (lt) assert(dec.leafValue(x, y) === values(y * w + x))
    }
  }

  /** EBCOT fixtures: (w, h, sign-magnitude coefficients) with planted
    * zero runs so the cleanup pass enters run-length mode. */
  private val ebcotFixtures: Seq[(Int, Int, Array[Int])] =
    Seq((64, 64, 1L), (13, 7, 2L), (64, 3, 3L), (1, 1, 4L)).map { case (w, h, seed) =>
      (w, h, lcg(seed).take(w * h).map { v =>
        val m = ((v >>> 40) % 200).toInt - 100
        if ((v >>> 20) % 3 == 0) 0 else m
      }.toArray)
    }

  test("EBCOT block: sign-magnitude coefficients round-trip") {
    for ((w, h, coeffs) <- ebcotFixtures) {
      for (orient <- 0 to 3) {
        val cb = Jp2Codec.encodeBlock(coeffs, w, h, orient)
        val back = Jp2Codec.decodeBlock(cb.data, cb.passes, cb.bitplanes,
          w, h, orient, cb.passBytes)
        assert(back.toSeq === coeffs.toSeq, s"${w}x$h orient=$orient")
      }
    }
  }

  test("EBCOT block: a coder stopped after k passes gives the full coder's first k") {
    for ((w, h, coeffs) <- ebcotFixtures; orient <- 0 to 3) {
      val full = Jp2Codec.encodeBlock(coeffs, w, h, orient)
      for (k <- Seq(0, 1, 4, full.passes).distinct.filter(_ <= full.passes)) {
        val coder = new Jp2Codec.BlockCoder(coeffs, w, h, orient)
        (0 until k).foreach(_ => coder.next())
        val part = coder.result
        val ctx = s"${w}x$h orient=$orient k=$k"
        assert(part.passes === k, ctx)
        assert(part.bitplanes === full.bitplanes, ctx)
        assert(part.passBytes.toSeq === full.passBytes.take(k).toSeq, ctx)
        assert(part.data.toSeq === full.data.take(full.end(k)).toSeq, ctx)
      }
    }
  }

  private def grayFixture(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      // gradient + texture + a flat quadrant (exercises run-length mode)
      if (x < w / 2 && y < h / 2) 200
      else (x * 3 + y * 5 + (x * y) % 23) % 256
    }

  test("lossless gray round-trip: single tile") {
    val (w, h) = (120, 80)
    val px = grayFixture(w, h)
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 3, layers = 1, rates = Seq(10.0), lossless = true))
    val dec = Jp2Decoder.decode(bytes)
    assert((dec.width, dec.height, dec.components) === ((w, h, 1)))
    assert(dec.comps.head.toSeq === px.toSeq, "bit-exact reconstruction")
  }

  test("lossless gray round-trip: multi-tile, odd dims, reference geometry") {
    val (w, h) = (300, 213) // 2x1 tiles of 256, ragged edges
    val px = grayFixture(w, h)
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 2, layers = 1, rates = Seq(16.0), lossless = true))
    val dec = Jp2Decoder.decode(bytes)
    assert(dec.comps.head.toSeq === px.toSeq)
  }

  test("lossless RGB round-trip through the reversible color transform") {
    val (w, h) = (90, 70)
    val r = grayFixture(w, h)
    val g = r.map(v => (v * 3 + 17) % 256)
    val b = r.map(v => 255 - v)
    val bytes = Jp2Encoder.encode(Seq(r, g, b), w, h,
      params = Jp2Params(levels = 2, layers = 1, rates = Seq(24.0), lossless = true))
    val dec = Jp2Decoder.decode(bytes)
    assert(dec.components === 3)
    assert(dec.comps(0).toSeq === r.toSeq, "R")
    assert(dec.comps(1).toSeq === g.toSeq, "G")
    assert(dec.comps(2).toSeq === b.toSeq, "B")
  }

  test("the kdu 8-layer rate ladder: monotone quality, graceful truncation") {
    val (w, h) = (256, 192)
    val px = grayFixture(w, h)
    // reference ladder with a lossless top layer (archival config)
    val p = Jp2Params(levels = 4, lossless = true)
    val bytes = Jp2Encoder.encodeGray(px, w, h, params = p)
    def mse(layers: Int): Double = {
      val d = Jp2Decoder.decode(bytes, maxLayers = layers).comps.head
      var s = 0.0
      var i = 0
      while (i < d.length) { val e = (d(i) - px(i)).toDouble; s += e * e; i += 1 }
      s / d.length
    }
    val errs = (1 to 8).map(mse)
    assert(errs.last === 0.0, "full ladder decodes lossless")
    assert(errs.head >= errs.last, "layer 1 is the coarse end")
    // each extra layer may only add coded passes: error never increases
    errs.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      assert(b <= a + 1e-9, s"MSE rose adding layer ${i + 2}: $a -> $b")
    }
    // the descending bpp ladder must show up as ascending cumulative sizes:
    // SOP markers + PLT exist, and a rate-limited encode is smaller than
    // the lossless one
    val limited = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 4, lossless = false))
    assert(limited.length < bytes.length, "rate ladder actually truncates")
    val lim = Jp2Decoder.decode(limited)
    assert(lim.width === w && lim.comps.head.length === px.length,
      "rate-limited stream still decodes full-frame")
  }

  test("Jp2HeaderProbe (round 12) parses this encoder's container") {
    val (w, h) = (260, 140)
    val px = grayFixture(w, h)
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 3, layers = 1, rates = Seq(10.0), lossless = true))
    val info = MultimodalOps.Jp2HeaderProbe.probe(bytes)
    assert(info.isDefined, "probe recognizes the container")
    assert(info.get.width === w)
    assert(info.get.height === h)
    assert(info.get.components === 1)
    assert(info.get.bits === 8)
    assert(info.get.levels === 3, "Clevels signalled in COD")
  }

  test("lossless round-trip sweep: randomized content across geometries") {
    // tile-boundary-straddling, degenerate-thin, and sub-blocksize
    // shapes; content mixes flat runs (RLC mode), speckle, and extremes
    for (((w, h, lv), seed) <- Seq((257, 256, 4), (64, 64, 2), (33, 1, 0),
      (1, 40, 1), (512, 300, 5)).zipWithIndex) {
      val px = lcg(seed + 99L).take(w * h).zipWithIndex.map { case (v, i) =>
        val m = (v >>> 41) % 4
        if (m == 0) 0 else if (m == 1) 255
        else if (m == 2) (i % 251) else ((v >>> 17) & 0xFF).toInt
      }.toArray
      val bytes = Jp2Encoder.encodeGray(px, w, h,
        params = Jp2Params(levels = lv, layers = 1, rates = Seq(32.0),
          lossless = true))
      assert(Jp2Decoder.decode(bytes).comps.head.toSeq === px.toSeq,
        s"${w}x$h lv=$lv")
    }
  }

  test("ORGgen_plt: the PLT index accounts for every packet byte") {
    val (w, h) = (300, 200)
    val px = grayFixture(w, h)
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 2, layers = 2, rates = Seq(8.0, 1.0),
        lossless = true))
    // walk to the codestream, then per tile: parse Lsot/Psot, the PLT
    // varints, and check they sum to the packet span exactly
    def u16(p: Int) = ((bytes(p) & 0xFF) << 8) | (bytes(p + 1) & 0xFF)
    def u32(p: Int): Int = (u16(p) << 16) | u16(p + 2)
    var p = 0
    var csStart = -1
    while (csStart < 0) {
      val len = u32(p)
      if (new String(bytes, p + 4, 4, "US-ASCII") == "jp2c") csStart = p + 8
      else p += len
    }
    var q = csStart + 2 // past SOC
    var parts = 0
    val partIdx = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    while (u16(q) != 0xFF90) q += 2 + u16(q + 2) // main header
    while (u16(q) == 0xFF90) {
      val tIdx = u16(q + 4)
      val psot = u32(q + 6)
      val tileEnd = q + psot
      partIdx += ((tIdx, bytes(q + 10) & 0xFF, bytes(q + 11) & 0xFF))
      var m = q + 12 // past SOT segment (Lsot=10)
      assert(u16(m) == 0xFF58, "PLT marker present (ORGgen_plt)")
      val lplt = u16(m + 2)
      var vp = m + 5 // skip Zplt
      var sum = 0L
      var cur = 0L
      while (vp < m + 2 + lplt) {
        val b = bytes(vp) & 0xFF
        cur = (cur << 7) | (b & 0x7F)
        if ((b & 0x80) == 0) { sum += cur; cur = 0 }
        vp += 1
      }
      m += 2 + lplt
      assert(u16(m) == 0xFF93, "SOD follows PLT")
      val packetSpan = tileEnd - (m + 2)
      assert(sum === packetSpan.toLong,
        s"part $parts: PLT lengths $sum vs actual packet bytes $packetSpan")
      parts += 1
      q = tileEnd
    }
    // ORGtparts=R: 2 tiles x (levels+1 = 3) parts, TPsot counting 0..2
    // within each tile, TNsot = 3 everywhere
    assert(u16(q) == 0xFFD9 && parts == 6, "EOC after 2 tiles x 3 parts")
    assert(partIdx.toSeq === Seq((0, 0, 3), (0, 1, 3), (0, 2, 3),
      (1, 0, 3), (1, 1, 3), (1, 2, 3)),
      "tile-parts split by resolution with correct TPsot/TNsot")
  }

  test("withJp2Levels (F18) drives the encoder like the reference drives kdu") {
    // bin/main.py:377-385: halvings of the long side until < 96
    def levelsFor(longSide: Int): Int = {
      var d = longSide; var n = 0
      while (d >= 96) { n += 1; d /= 2 }
      n
    }
    val (w, h) = (300, 220)
    val lv = levelsFor(math.max(w, h))
    assert(lv === 2)
    val px = grayFixture(w, h)
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = lv, layers = 1, rates = Seq(10.0), lossless = true))
    val info = MultimodalOps.Jp2HeaderProbe.probe(bytes)
    assert(info.get.levels === lv)
    assert(Jp2Decoder.decode(bytes).comps.head.toSeq === px.toSeq)
  }

  // ------------------------------------------------ 9/7 irreversible path

  /** Transform-codable content: smooth gradients + sinusoids (noise has
    * no transform-domain sparsity — PSNR floors would mean nothing). */
  private def smoothFixture(w: Int, h: Int, phase: Double): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val v = 128 + 60 * math.sin(x / 17.0 + phase) * math.cos(y / 23.0) +
        40.0 * x / w - 30.0 * y / h
      math.max(0, math.min(255, v.toInt))
    }

  private def psnr(a: Array[Int], b: Array[Int]): Double = {
    var se = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); se += d.toDouble * d; i += 1 }
    if (se == 0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 * a.length / se)
  }

  test("9/7 DWT: float analysis/synthesis round-trips to fp precision") {
    for (n <- Seq(1, 2, 3, 5, 8, 97)) {
      val x = lcg(n.toLong).take(n).map(v => ((v >>> 40) % 512) - 256.0).toArray
      val (lo, hi) = Jp2Codec.Dwt97.forward(x.clone(), n)
      val back = Jp2Codec.Dwt97.inverse(lo, hi)
      (0 until n).foreach(i => assert(math.abs(back(i) - x(i)) < 1e-9, s"n=$n i=$i"))
    }
    for ((w, h, lv) <- Seq((64, 64, 3), (65, 33, 4), (7, 11, 2))) {
      val px = lcg((w * h).toLong).take(w * h).map(v => ((v >>> 40) % 256) - 128.0).toArray
      val bands = Jp2Codec.forwardDwt97(px.clone(), w, h, lv)
      val back = Jp2Codec.inverseDwt97(bands, w, h)
      (0 until w * h).foreach(i =>
        assert(math.abs(back(i) - px(i)) < 1e-8, s"${w}x$h lv=$lv i=$i"))
    }
  }

  test("9/7 rate ladder: PSNR monotone across layers, high at the top") {
    val (w, h) = (301, 217)
    val comps = Seq(smoothFixture(w, h, 0), smoothFixture(w, h, 1),
      smoothFixture(w, h, 2))
    val p = Jp2Params(levels = 4, irreversible = true)
    val bytes = Jp2Encoder.encode(comps, w, h, bits = 8, params = p)
    var prev = -1.0
    for (l <- 1 to p.layers) {
      val dec = Jp2Decoder.decode(bytes, maxLayers = l)
      val ps = (0 until 3).map(c => psnr(dec.comps(c), comps(c))).min
      assert(ps >= prev - 0.01, s"layer $l PSNR $ps dropped below $prev")
      prev = ps
    }
    assert(prev > 45.0, s"full-ladder PSNR only $prev dB on smooth content")
    // the bottom rung is a real rate cut, not a disguised lossless file
    val lowest = Jp2Decoder.decode(bytes, maxLayers = 1)
    assert((0 until 3).map(c => psnr(lowest.comps(c), comps(c))).min < prev)
  }

  test("9/7 quantizer: finer baseStep never degrades PSNR; COD/QCD signal it") {
    val (w, h) = (160, 120)
    val px = smoothFixture(w, h, 0.5)
    var prev = -1.0
    for (bs <- Seq(2.0, 0.25, 1.0 / 64)) {
      val bytes = Jp2Encoder.encodeGray(px, w, h,
        params = Jp2Params(levels = 3, layers = 1, rates = Seq(48.0),
          irreversible = true, baseStep = bs))
      val ps = psnr(Jp2Decoder.decode(bytes).comps.head, px)
      assert(ps >= prev, s"baseStep $bs PSNR $ps < coarser $prev")
      prev = ps
    }
    // marker-level check: transform byte 0 (9/7) and a style-2 QCD
    val bytes = Jp2Encoder.encodeGray(px, w, h,
      params = Jp2Params(levels = 3, layers = 1, rates = Seq(48.0),
        irreversible = true))
    val info = MultimodalOps.Jp2HeaderProbe.probe(bytes)
    assert(info.get.levels === 3, "probe still parses the 9/7 stream")
    // decoding with maxLayers beyond available layers is a full decode
    assert(Jp2Decoder.decode(bytes).width === w)
  }

  test("9/7 RGB through the ICT beats 40 dB and stays in range") {
    val (w, h) = (130, 97)
    val comps = Seq(smoothFixture(w, h, 0), smoothFixture(w, h, 2),
      smoothFixture(w, h, 4))
    val bytes = Jp2Encoder.encode(comps, w, h, bits = 8,
      params = Jp2Params(levels = 3, layers = 1, rates = Seq(48.0),
        irreversible = true))
    val dec = Jp2Decoder.decode(bytes)
    (0 until 3).foreach { c =>
      assert(psnr(dec.comps(c), comps(c)) > 40.0, s"comp $c")
      assert(dec.comps(c).forall(v => v >= 0 && v <= 255), s"comp $c range")
    }
  }

  test("ICC profiles: JDK-validated, and the METH=2 colr box carries them") {
    import graft.operators.IccProfiles
    val rgb = java.awt.color.ICC_Profile.getInstance(IccProfiles.sRGB)
    assert(rgb.getNumComponents === 3)
    assert(rgb.getProfileClass === java.awt.color.ICC_Profile.CLASS_DISPLAY)
    val gray = java.awt.color.ICC_Profile.getInstance(IccProfiles.gray22)
    assert(gray.getNumComponents === 1)
    assert(gray.getProfileClass === java.awt.color.ICC_Profile.CLASS_DISPLAY)
    // the box: an irreversible encode carrying the sRGB profile probes
    // as METH=2 with the exact profile length
    val (w, h) = (64, 48)
    val comps = Seq.fill(3)(smoothFixture(w, h, 1))
    val bytes = Jp2Encoder.encode(comps, w, h, bits = 8,
      params = Jp2Params(levels = 2, layers = 1, rates = Seq(48.0),
        irreversible = true, icc = Some(IccProfiles.sRGB)))
    val info = MultimodalOps.Jp2HeaderProbe.probe(bytes).get
    assert(info.colorMeth === 2)
    assert(info.iccSize === IccProfiles.sRGB.length)
    // enumerated-colorspace files still read METH=1
    val plain = Jp2Encoder.encode(comps, w, h, bits = 8,
      params = Jp2Params(levels = 2, layers = 1, rates = Seq(32.0),
        lossless = true))
    assert(MultimodalOps.Jp2HeaderProbe.probe(plain).get.colorMeth === 1)
  }

  // ------------------------------------------------ codestream pins

  /** A seeded 309×400 "scanned page" (the size the digitize path
    * resizes a 340×440 page to): off-white paper with dark word runs
    * on text lines. */
  private def scannedPage(w: Int, h: Int): Seq[Array[Int]] = {
    val rnd = lcg(2024L)
    def next(n: Int): Int = ((rnd.next() >>> 33) % n).toInt
    val ink = Array.fill(w * h)(-1)
    val margin = w / 12
    var y = margin
    while (y + 6 < h - margin) {
      var x = margin
      val end = w - margin - next(w / 4)
      while (x < end) {
        val run = 6 + next(34); val v = 10 + next(50)
        for (r <- y + 1 until y + 5; c <- x until math.min(x + run, end))
          ink(r * w + c) = v
        x += run + 4 + next(5)
      }
      y += 12
    }
    Seq(0xF4, 0xF2, 0xEC).map(paper => ink.map(v => if (v < 0) paper else v))
  }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xFF}%02x").mkString

  test("codestream pins: encoder output is byte-identical to its recorded digests") {
    import graft.operators.IccProfiles
    val page = scannedPage(309, 400)
    val gray = grayFixture(256, 192)
    val rgb = Seq(grayFixture(90, 70), grayFixture(90, 70).map(v => (v * 3 + 17) % 256),
      grayFixture(90, 70).map(v => 255 - v))
    val noise = lcg(77L).take(300 * 200).map(v => ((v >>> 40) & 0xFF).toInt).toArray
    val cases = Seq(
      // what Jp2EncodeTransform runs on a digitized page
      "production 9/7 page" -> Jp2Encoder.encode(page, 309, 400, 8,
        Jp2Params(levels = 3, irreversible = true, icc = Some(IccProfiles.sRGB))),
      "5/3 rate-limited gray" -> Jp2Encoder.encodeGray(gray, 256, 192,
        params = Jp2Params(levels = 4)),
      "lossless RGB ladder" -> Jp2Encoder.encode(rgb, 90, 70,
        params = Jp2Params(levels = 2, lossless = true)),
      "9/7 single-layer LRCP" -> Jp2Encoder.encodeGray(smoothFixture(160, 120, 0.5),
        160, 120, params = Jp2Params(levels = 3, layers = 1, rates = Seq(0.8),
          order = "LRCP", tpartsR = false, irreversible = true)),
      "multi-tile noise, 32-px blocks" -> Jp2Encoder.encodeGray(noise, 300, 200,
        params = Jp2Params(tileSize = 128, precinct = 128, codeBlock = 32, levels = 3)))
    // recorded from the encoder that coded every pass before the rate
    // cut; a change meant to alter the codestream updates these and says
    // why in its change log
    val pinned = Map(
      "production 9/7 page" ->
        "bb2c5f4db05283004cfcbf3de5b924056b9bf077b4c5ca0a42ffd90d1b3f86f3",
      "5/3 rate-limited gray" ->
        "01aa210c766d13246d041d98bc3967330e7d678ea8821acd6e0e0103490833b5",
      "lossless RGB ladder" ->
        "b32c41ac7c376b82351bb45b28dc1cbfed869843fdbfed0897f2046d545469f1",
      "9/7 single-layer LRCP" ->
        "b223bbe496af64d8f378c6d34dcd7a1638de3f69a59cfdaf13b483f24cb51baa",
      "multi-tile noise, 32-px blocks" ->
        "4322a6c3872100b2f0f93dbacd50488fe7f2dace8a56e6213a3b9456a0297ecc")
    cases.foreach { case (name, bytes) =>
      assert(sha256(bytes) === pinned(name), name)
    }
  }
}
