package graft.llm

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Totality fuzz for every from-scratch decoder: arbitrary byte
  * garbage — including inputs that START like each format's magic and
  * then degenerate — must come back as a STATUS, never a throw. This
  * is the load-bearing property of the 100 TB decode contract (one
  * malformed crawl payload must not kill a task); the per-format
  * crafted arms in MultimodalSpec pin WHICH status, this pins that
  * there always is one. */
object DecoderFuzzProps extends Properties("Multimodal.decoders") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(300)

  private val magics: Seq[Array[Byte]] = Seq(
    "P6\n".getBytes("US-ASCII"),
    "RIFF".getBytes("US-ASCII"),
    Array[Byte]('B', 'M'),
    "qoif".getBytes("US-ASCII"),
    "GIF87a".getBytes("US-ASCII"),
    "GIF89a".getBytes("US-ASCII"),
    "%PDF-1.4\n".getBytes("US-ASCII"),
    Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte), // zstd frame magic
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
    Array(0x1f, 0x8b, 8).map(_.toByte),
    Array[Byte]('I', 'I', 42, 0),
    Array[Byte]('M', 'M', 0, 42),
    Array[Byte]('P', 'K', 3, 4),
    Array[Byte]('P', 'K', 5, 6),
    Array(0xff, 0xd8, 0xff).map(_.toByte))

  private val garbage: Gen[Array[Byte]] = for {
    n <- Gen.chooseNum(0, 512)
    bs <- Gen.containerOfN[Array, Byte](n,
      Gen.chooseNum(-128, 127).map(_.toByte))
    prefix <- Gen.oneOf(Gen.const(Array.emptyByteArray), Gen.oneOf(magics))
  } yield prefix ++ bs

  private val htmlGarbage: Gen[String] = for {
    n <- Gen.chooseNum(0, 200)
    cs <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.alphaNumChar, 2 -> Gen.oneOf('<', '>', '&', '/', '!', '-',
        ' ', '"'), 1 -> Gen.oneOf("script style p nav -->".toSeq)))
    pre <- Gen.oneOf("", "<", "<!--", "<script>", "<p>", "&am")
  } yield pre + cs.mkString

  property("parseHtml is total on arbitrary markup-shaped strings") =
    forAll(htmlGarbage) { s =>
      val r = Multimodal.parseHtml(1L, s)
      r.status.nonEmpty && r.n_kept <= r.n_blocks
    }

  property("every decoder is total on arbitrary bytes") = forAll(garbage) {
    bs =>
      Multimodal.parsePpm(1L, bs).status.nonEmpty &&
      Multimodal.parseWav(1L, bs).status.nonEmpty &&
      Multimodal.parseBmp(1L, bs).status.nonEmpty &&
      Multimodal.parseQoi(1L, bs).status.nonEmpty &&
      Multimodal.parseGif(1L, bs).status.nonEmpty &&
      Multimodal.parsePng(1L, bs).status.nonEmpty &&
      Multimodal.parseGzip(1L, bs).status.nonEmpty &&
      Multimodal.parseWarc(1L, bs).status.nonEmpty &&
      Multimodal.parseTiff(1L, bs).status.nonEmpty &&
      Multimodal.parseZip(1L, bs).forall(_.status.nonEmpty) &&
      Multimodal.parseZip(1L, bs).nonEmpty &&
      Multimodal.parseTar(1L, bs).forall(_.status.nonEmpty) &&
      Multimodal.parseTar(1L, bs).nonEmpty &&
      Multimodal.parseTgz(1L, bs).forall(_.status.nonEmpty) &&
      Multimodal.parseTgz(1L, bs).nonEmpty &&
      Multimodal.sampleVideo(1L, bs).forall(_.status.nonEmpty) &&
      Multimodal.sampleVideo(1L, bs).nonEmpty &&
      Multimodal.resizePpm(1L, bs, 2, 2).status.nonEmpty &&
      Multimodal.dhashPpm(1L, bs).status.nonEmpty &&
      Multimodal.parseJpeg(1L, bs).status.nonEmpty &&
      Multimodal.parseJpegExif(1L, bs).status.nonEmpty &&
      Multimodal.parseJpegOriented(1L, bs).status.nonEmpty &&
      Multimodal.parsePdf(1L, bs).status.nonEmpty &&
      Zstd.parseZstd(1L, bs).status.nonEmpty
  }
}

/** Deterministic companion: every PREFIX of a genuine member is a
  * valid malformed input — the mid-flight-truncation class a crawl
  * actually produces — and nulls are rows too. */
class DecoderTruncationSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("gzip/warc/tiff/zip/video decoders are total on null and on all truncations") {
    assert(Multimodal.parseGzip(1L, null).status == "bad_magic")
    assert(Multimodal.parseWarc(1L, null).status == "bad_magic")
    assert(Multimodal.parseTiff(1L, null).status == "bad_magic")
    assert(Multimodal.parseZip(1L, null).head.status == "truncated")
    assert(Multimodal.parseTar(1L, null).head.status == "truncated")
    assert(Multimodal.sampleVideo(1L, null).head.status == "bad_magic")
    assert(Multimodal.parseJpeg(1L, null).status == "bad_magic")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("fuzz-truncate".getBytes("US-ASCII"))
      .map("%02x".format(_)).mkString
    for (full <- Seq(Multimodal.gzipBytes(h), Multimodal.warcBytes(h),
           Multimodal.tiffBytes(h), Multimodal.zipBytes(h),
           Multimodal.tarBytes(h), Multimodal.videoBytes(h));
         n <- 0 to full.length) {
      assert(Multimodal.parseGzip(1L, full.take(n)).status.nonEmpty)
      assert(Multimodal.parseWarc(1L, full.take(n)).status.nonEmpty)
      assert(Multimodal.parseTiff(1L, full.take(n)).status.nonEmpty)
      val zm = Multimodal.parseZip(1L, full.take(n))
      assert(zm.nonEmpty && zm.forall(_.status.nonEmpty))
      val tm = Multimodal.parseTar(1L, full.take(n))
      assert(tm.nonEmpty && tm.forall(_.status.nonEmpty))
      val gm = Multimodal.parseTgz(1L, full.take(n))
      assert(gm.nonEmpty && gm.forall(_.status.nonEmpty))
      val vf = Multimodal.sampleVideo(1L, full.take(n))
      assert(vf.nonEmpty && vf.forall(_.status.nonEmpty))
    }
    // JPEG: totality at every prefix of a genuine baseline file
    val jfull = Multimodal.jpegBytes(h)
    for (n <- 0 to jfull.length)
      assert(Multimodal.parseJpeg(1L, jfull.take(n)).status.nonEmpty)
    assert(Multimodal.parseJpegExif(1L, null).status == "bad_magic")
    val xfull = Multimodal.jpegExifBytes(h)
    for (n <- 0 to xfull.length) {
      assert(Multimodal.parseJpegExif(1L, xfull.take(n)).status.nonEmpty)
      assert(Multimodal.parseJpegOriented(1L, xfull.take(n)).status.nonEmpty)
    }
    assert(Multimodal.parseJpegOriented(1L, null).status == "bad_magic")
    // PDF: totality at null and at every prefix of a genuine file
    assert(Multimodal.parsePdf(1L, null).status == "bad_magic")
    val pfull = Multimodal.pdfBytes(h)
    for (n <- 0 to pfull.length)
      assert(Multimodal.parsePdf(1L, pfull.take(n)).status.nonEmpty)
    // zstd: totality at null and at every prefix of every encoding
    // mode (the hash byte 9 selects the mode; ZstdSpec holds the
    // content/round-trip and reference-CLI interop pins)
    assert(Zstd.parseZstd(1L, null).status == "bad_magic")
    for (m <- 0 until 8) {
      val zfull = Zstd.zstdBytes("the quick brown fox jumps over dogs",
        "00" * 9 + f"0$m" + "00" * 6)
      for (n <- 0 to zfull.length) {
        val st = Zstd.parseZstd(1L, zfull.take(n)).status
        assert(st.nonEmpty && (n == zfull.length || st != "ok"),
          s"mode $m prefix $n: $st")
      }
    }
  }

  test("an undefined scan table, a wrapping BMP width and an Exif orientation past 8 are rows") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    def sos(p: Array[Byte]) = p.indices.find(i =>
      (p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == 0xda).get
    // baseline JPEG whose first scan component names DC/AC table 1,
    // which no DHT segment defines
    val jpeg = (0 until 500).iterator.map(i => Multimodal.jpegBytes(md5(s"tbl$i")))
      .find(p => Multimodal.parseJpeg(1L, p).status == "ok" &&
        p.sliding(2).exists(w => (w(0) & 0xff) == 0xff && (w(1) & 0xff) == 0xc0))
      .get.clone()
    jpeg(sos(jpeg) + 6) = 0x11
    assert(Multimodal.parseJpeg(1L, jpeg).status == "bad_data")
    // a width whose 3-byte stride wraps an Int
    val bmp = Array[Byte]('B', 'M', 0, 0, 0, 0, 0, 0, 0, 0,
      54, 0, 0, 0, 40, 0, 0, 0, // pixel offset, header size
      0, 0, 0, 0x40, 1, 0, 0, 0, // width 2^30, height 1
      1, 0, 24, 0, 0, 0, 0, 0) ++ new Array[Byte](40)
    assert(Multimodal.parseBmp(1L, bmp).status == "truncated")
    // ... and one whose stride × height wraps a Long: width 0x5d000001,
    // height -0x7bffffff (top-down)
    val bmp2 = bmp.clone()
    bmp2(18) = 1; bmp2(21) = 0x5d; bmp2(25) = 0x84.toByte
    assert(Multimodal.parseBmp(1L, bmp2).status == "truncated")
    // a 16x8 image tagged with orientation 9 samples like orientation 1
    val exif = (0 until 2000).iterator.map(i => Multimodal.jpegExifBytes(md5(s"or$i")))
      .find { p =>
        val m = Multimodal.parseJpeg(1L, p)
        m.status == "ok" && m.width.contains(16) && m.height.contains(8) &&
          Multimodal.parseJpegExif(1L, p).orientation.nonEmpty
      }.get
    def withOrientation(o: Int) = {
      val q = exif.clone() // the IFD0 Orientation SHORT sits at byte 42
      val big = q(12) == 'M'
      q(42) = (if (big) 0 else o).toByte; q(43) = (if (big) o else 0).toByte
      q
    }
    assert(Multimodal.parseJpegExif(1L, withOrientation(9)).orientation.contains(9))
    assert(Multimodal.jpegOrientedDhash(1L, withOrientation(9)) ==
      Multimodal.jpegOrientedDhash(1L, withOrientation(1)))
    // ... and decodes, dims and sums included, like orientation 1
    assert(Multimodal.parseJpegOriented(1L, withOrientation(9)) ==
      Multimodal.parseJpegOriented(1L, withOrientation(1)))
  }

  test("a BMP height field of Int.MinValue is a bad header, not an ok row") {
    // math.abs(Int.MinValue) stays negative: no positive height exists
    val bmp = Array[Byte]('B', 'M', 0, 0, 0, 0, 0, 0, 0, 0,
      54, 0, 0, 0, 40, 0, 0, 0, // pixel offset, header size
      1, 0, 0, 0, 0, 0, 0, 0x80.toByte, // width 1, height Int.MinValue
      1, 0, 24, 0, 0, 0, 0, 0) ++ new Array[Byte](40)
    assert(Multimodal.parseBmp(1L, bmp).status == "bad_header")
  }

  test("tgz layering: healthy wrapper is transparent, arms attribute the layer") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString
    // sweep salts until the md5 draws each arm combination of interest
    val hs = (0 until 4096).map(i => md5(s"tgz-layer-$i"))
    def b(h: String, i: Int) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16)
    val clean = hs.filter(h => b(h, 8) % 16 != 5 && b(h, 9) % 16 != 7)
    assert(clean.size >= 100)
    // a healthy gzip layer reproduces the inner tar walk EXACTLY
    // (including the inner truncated/bad_checksum/short_data arms)
    clean.take(200).foreach { h =>
      assert(Multimodal.parseTgz(3L, Multimodal.tgzBytes(h)) ==
        Multimodal.parseTar(3L, Multimodal.tarBytes(h)))
    }
    val gbad = hs.find(h => b(h, 8) % 16 == 5).get
    assert(Multimodal.parseTgz(3L, Multimodal.tgzBytes(gbad)).map(_.status) ==
      Seq("gzip_bad_magic"))
    val gcrc = hs.find(h => b(h, 9) % 16 == 7 && b(h, 8) % 16 != 5).get
    assert(Multimodal.parseTgz(3L, Multimodal.tgzBytes(gcrc)).map(_.status) ==
      Seq("gzip_bad_data"))
    // truncation sweep over a genuine .tar.gz — totality at every cut
    for (n <- 0 to Multimodal.tgzBytes(clean.head).length) {
      val gm = Multimodal.parseTgz(1L, Multimodal.tgzBytes(clean.head).take(n))
      assert(gm.nonEmpty && gm.forall(_.status.nonEmpty))
    }
  }

  test("parseHtml skips script/comment bodies, decodes entities, filters boilerplate") {
    val page = "<!DOCTYPE html><html><head><title>Tiny &amp; Title</title>" +
      "<script>var hidden = '<p>leak leak leak leak leak</p>';</script>" +
      "</head><body><nav><a href=\"/\">Home</a> <a href=\"/x\">About</a></nav>" +
      "<!-- <p>comment should vanish entirely</p> -->" +
      "<div><p>alpha beta gamma delta epsilon</p><p>tiny</p></div>" +
      "<footer>by corp</footer></body></html>"
    val r = Multimodal.parseHtml(5L, page)
    assert(r.status == "ok" && r.n_script == 1)
    // blocks: title(3w) nav(2w) p1(5w) p2(1w) footer(2w) — only p1 kept
    assert(r.n_blocks == 5 && r.n_kept == 1)
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha beta gamma delta epsilon".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.kept_hash.contains(want),
      "script/comment content leaked into the kept text")
    // unterminated script: truncated, nothing after it resurfaces
    val cut = page.substring(0, page.indexOf("</script>"))
    val rc = Multimodal.parseHtml(5L, cut)
    assert(rc.status == "truncated" && rc.kept_hash.isEmpty)
    // uppercase close tags are legal HTML: </SCRIPT> must end the skip
    val up = Multimodal.parseHtml(5L,
      "<html><body><script>var t='<p>x</p>';</SCRIPT>" +
        "<p>one two three four five</p></body></html>")
    assert(up.status == "ok" && up.n_kept == 1 && up.n_script == 1)
    // entity decode lands in block text: 'A <b> c d e' = 5 words kept
    val re = Multimodal.parseHtml(5L,
      "<html><body><p>A &lt;b&gt; c d e</p></body></html>")
    assert(re.status == "ok" && re.n_kept == 1)
    val wantE = java.security.MessageDigest.getInstance("MD5")
      .digest("A <b> c d e".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(re.kept_hash.contains(wantE), "entities must decode as text")
  }

  test("an end-blocks-only empty TAR yields one sentinel row, not silence") {
    // the smallest legal archive: two 512-byte zero blocks
    val rows = Multimodal.parseTar(7L, new Array[Byte](1024))
    assert(rows == Seq(graft.llm.TarMember(7L, -1, "empty",
      None, None, None, None)))
  }

  test("a legal EOCD-only empty ZIP yields one sentinel row, not silence") {
    // the 22-byte minimum archive: PK\5\6, zero disks, zero entries,
    // zero-size CD at offset 0, zero-length comment
    val eocd = Array[Byte](0x50, 0x4b, 0x05, 0x06) ++ Array.fill[Byte](18)(0)
    val rows = Multimodal.parseZip(7L, eocd)
    assert(rows == Seq(graft.llm.ZipMember(7L, -1, "empty",
      None, None, None, None, None)))
  }
}
