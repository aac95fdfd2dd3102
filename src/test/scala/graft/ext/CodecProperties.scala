package graft.ext

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Totality fuzz over the WHOLE codec surface: every parser in the
  * multimodal family must be TOTAL — random bytes, adversarially
  * magic-prefixed garbage, and bit-flipped/truncated mutations of
  * VALID fixtures never throw and always classify into a known
  * regime. This is the property the per-format "truncation degrades"
  * examples sample; here it holds over randomized inputs, including
  * payloads that pass the cheap signature checks and die arbitrarily
  * deep inside the IFD/LZW/Huffman/Rice/nibble machinery.
  */
object CodecProperties extends Properties("codecs") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(120)

  private val KnownKinds = Set("pixels", "header", "pcm", "lossless",
    "container", "byte-stats", "text") // text: PDF page extraction (r14)

  private val magics: Seq[Array[Byte]] = Seq(
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
    Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
    "GIF89a".getBytes("US-ASCII"),
    "BM".getBytes("US-ASCII"),
    Array[Byte]('I', 'I', '*', 0),
    Array[Byte]('M', 'M', 0, '*'),
    Array[Byte](0, 0, 1, 0, 3, 0), // ICO, 3 entries
    "RIFF0000WEBPVP8L".getBytes("US-ASCII"),
    "RIFF0000WAVE".getBytes("US-ASCII"),
    "fLaC".getBytes("US-ASCII"),
    "OggS".getBytes("US-ASCII"),
    "%PDF-1.4\n".getBytes("US-ASCII"),
    "FORM0000AIFC".getBytes("US-ASCII"),
    ".snd".getBytes("US-ASCII"),
    "ID3".getBytes("US-ASCII"),
    Array[Byte](0xff.toByte, 0xfb.toByte),
    Array[Byte](0, 0, 0, 24, 'f', 't', 'y', 'p'),
    Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p', 'a', 'v', 'i', 'f'),
    Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p', 'h', 'e', 'i', 'c'),
    Array[Byte](0x1a, 0x45.toByte, 0xdf.toByte, 0xa3.toByte)) // EBML

  private val plane = Array.tabulate(15 * 11)(p => ((p * 37) % 251).toByte)
  private val tone = Array.tabulate(1500)(i =>
    0.5 * math.sin(2 * math.Pi * 400 * i / 8000))
  private val grayCt = Array.tabulate(256 * 3)(i => (i / 3).toByte)

  /** One valid fixture per codec family — the mutation substrate. */
  private val fixtures: Seq[Array[Byte]] = Seq(
    Multimodal.encodePng(15, 11, 0, plane, (0 until 11).map(_ % 5), 6),
    PngText.withText(
      Multimodal.encodePng(15, 11, 0, plane, (0 until 11).map(_ % 5)),
      Seq(("Software", "fuzz tool", null, false),
        ("parameters", "fuzz prompt", "en", true))),
    Multimodal.encodeGif(15, 11, plane, grayCt),
    Multimodal.encodeBmp(15, 11, plane.flatMap(b => Array(b, b, b))),
    Multimodal.encodeBmpRle8(15, 11, plane, grayCt),
    Multimodal.encodeTiff(15, 11, plane, 1, packBits = true),
    Multimodal.encodeWebpL(15, 11, plane, lz77 = true, cacheBits = 4),
    Multimodal.encodeIco(Seq((15, 11, Multimodal.bmpToIcoDib(
      Multimodal.encodeBmp(15, 11, plane.flatMap(b => Array(b, b, b))))))),
    AudioDsp.pcmWav(tone, 8000, bits = 24),
    AudioDsp.imaAdpcmWav(Seq(tone.toArray), 8000),
    AudioDsp.msAdpcmWav(Seq(tone.toArray), 8000),
    AudioDsp.g711Wav(tone.toArray, 8000),
    Flac.encode(tone.map(v => math.round(v * 32767).toInt).toArray, 8000),
    Vorbis.encode(tone.toArray, 8000),
    OggFlac.encode(tone.map(v =>
      math.round(v * 32767).toInt).toArray, 8000),
    AudioTags.id3v2Wrap(
      Array[Byte](0xff.toByte, 0xfb.toByte, 0x92.toByte, 0x40) ++
        new Array[Byte](64),
      lyrics = "fuzz lyric line",
      synced = Seq((1000L, "fuzz synced"), (2000L, "two"))),
    AudioTags.id3v2Wrap(
      Array[Byte](0xff.toByte, 0xfb.toByte, 0x92.toByte, 0x40) ++
        new Array[Byte](64),
      "artist", "title", "album", 2001,
      cover = Multimodal.encodePng(6, 5, 0,
        Array.tabulate(30)(i => (i * 8).toByte), (0 until 5).map(_ => 0))),
    AudioTags.flacWithTags(
      Flac.encode(tone.map(v => math.round(v * 32767).toInt).toArray, 8000),
      "artist", "title", cover = Multimodal.encodePng(6, 5, 0,
        Array.tabulate(30)(i => (i * 8).toByte), (0 until 5).map(_ => 0))),
    AudioTags.id3v2Wrap(
      Array[Byte](0xff.toByte, 0xfb.toByte, 0x92.toByte, 0x40) ++
        new Array[Byte](64),
      "ÿrtist", "title", year = 1999, v22 = true, unsync = true),
    AudioTags.mkvWithTags(
      Multimodal.minimalWebm(1000000L, 900.0, 160, 120,
        Seq(Array.tabulate(30)(i => (i * 5).toByte)), audioTrack = true),
      "artist", "title", "album", 2004,
      cover = Multimodal.encodePng(6, 5, 0,
        Array.tabulate(30)(i => (i * 8).toByte), (0 until 5).map(_ => 0))),
    AudioTags.id3v1Wrap(
      AudioTags.apeWrap(
        Array[Byte](0xff.toByte, 0xfb.toByte, 0x92.toByte, 0x40) ++
          new Array[Byte](64),
        "artist", "title", "album", 1996),
      artist = "v1", title = "v1"),
    Multimodal.minimalWebm(1000000L, 6000.0, 160, 120,
      Seq(Array.tabulate(28)(i => (i * 9).toByte)),
      subtitleCues = Seq((500L, 900L, "sub one"), (2000L, 700L, "two"))),
    Multimodal.minimalWebm(1000000L, 6000.0, 160, 120,
      Seq(Array.tabulate(26)(i => (i * 11).toByte)),
      assCues = Seq((500L, 900L, "{\\i1}ass fuzz, x\\Ny"))),
    "[ar:fz]\n[00:01.00]lrc fuzz line\n[00:02.5][00:03.25]chorus\n"
      .getBytes("UTF-8"),
    Sitemaps.encode(Seq(("https://f.ex/a", "2020-01-01", 0.4),
      ("https://f.ex/b?x=1&y=2", "", -1.0)), gzipped = true),
    ("[Script Info]\nTitle: f\n\n[Events]\nFormat: Layer, Start, End, " +
      "Style, Name, MarginL, MarginR, MarginV, Effect, Text\n" +
      "Dialogue: 0,0:00:01.00,0:00:02.00,Default,,0,0,0,,fuzz ass\n")
      .getBytes("UTF-8"),
    Multimodal.minimalMp4Tx3g(1000,
      Seq((800L, "tx3g a"), (600L, "tx3g b"), (400L, "tx3g c"))),
    Pdf.encode(Seq(Seq("fuzz page one", "line"), Seq("page two")),
      flate = true, kerning = true),
    Pdf.encode(Seq(Seq("objstm fuzz")), objStm = true),
    Pdf.encode(Seq(Seq("lzw pred fuzz", "line")), lzw = true,
      predictor = 12, predictorColumns = 7),
    Office.encodeDocx(Seq("fuzz docx para", "two"), title = "t",
      author = "a", createdYear = 2002),
    Office.encodeEpub(Seq(("Fz", Seq("p1", "p2"))), title = "t",
      year = 2003, scrambleOrder = true),
    Office.encodeOdt(Seq("fuzz odt para", "two"), title = "t",
      author = "a", createdYear = 2005),
    Rtf.encode(Seq("fuzz rtf — body", "σ two"), title = "t",
      author = "a", year = 2004),
    Email.encodeMbox(Seq(
      ("f@z", "=?utf-8?B?c3Viag==?=", 2005, "fuzz mail body"),
      ("g@z", "plain subj", 2006, "two")),
      shape = Map(0 -> "multipart", 1 -> "qp")),
    ("<?xml version=\"1.0\" encoding=\"utf-8\"?><a><b attr=\"v>w\">" +
      "fuzz &amp; xml</b><![CDATA[cd]]></a>").getBytes("UTF-8"),
    Tar.encode(Seq(
      ("f/h.html", "<html><p>tar fuzz</p></html>".getBytes("UTF-8")),
      ("f/b.bin", Array.tabulate(48)(i => (i * 3).toByte))),
      gzipAll = true),
    Warc.encode(Seq(
      ("warcinfo", "", "2020-01-01T00:00:00Z", "c=f".getBytes("UTF-8")),
      ("response", "http://f/1", "2020-01-01T00:00:00Z",
        Warc.httpBlock(200, "text/html",
          "<html><body><p>warc fuzz</p></body></html>".getBytes("UTF-8"),
          chunked = true))), perRecordGzip = true),
    ("<!DOCTYPE html><html><head><meta charset=utf-8><title>fz</title>" +
      "<style>p{}</style><script>var a='</p>';</script></head><body>" +
      "<p>fuzz &amp; body</p><table><tr><td>c</td></tr></table>" +
      "</body></html>").getBytes("UTF-8"),
    Aiff.encode(tone.toArray, 8000),
    Aiff.encode(tone.toArray, 8000, compression = "ulaw"),
    Au.encode(tone.toArray, 8000, encoding = 1, annotation = "note"),
    Vorbis.encode(
      Array.tabulate(3000)(i => 0.3 * math.sin(0.4 * i) * (i % 2)), 8000,
      channels = 2, forceShort = true),
    Vorbis.encode(tone.toArray, 8000, floor0 = true),
    Multimodal.minimalMp4(600, 1200, 1, 320, 240,
      mdat = Array.tabulate(64)(_.toByte)),
    Multimodal.minimalFmp4(600, 320, 240,
      Seq((Array.tabulate(40)(_.toByte), Seq(50, 60)),
        (Array.tabulate(30)(i => (i * 3).toByte), Seq(70))),
      mehdTicks = 180L),
    Multimodal.minimalHeif("avif", 64, 48, items = 2,
      alphaIspe = Some((32, 24))),
    Multimodal.minimalHeif("avis", 48, 32, sttsCounts = Seq(4, 2),
      timescale = 90, durationTicks = 300, mvhdV1 = true),
    Multimodal.minimalWebm(1000000L, 2500.0, 320, 240,
      (0 until 4).map(f => Array.tabulate(40 + f)(i => (i * 3 + f).toByte)),
      xiphLacePairs = true, audioTrack = true, voidPad = 5),
    Multimodal.exifJpeg(
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte),
      orientation = 3, make = "maker", model = "model",
      takenAt = "2021:01:02 03:04:05"),
    Multimodal.encodeGifAnimFrames(15, 11, Seq(
      Multimodal.GifFrameSpec(plane, 15, 11, delayCs = 4),
      Multimodal.GifFrameSpec(Array.tabulate(5 * 4)(i => (i * 9).toByte),
        5, 4, left = 3, top = 2, delayCs = 5, disposal = 2,
        transparent = 7)), grayCt),
    Multimodal.encodeApng(15, 11, 0, Seq(
      Multimodal.ApngFrameSpec(plane, 15, 11, delayNum = 3),
      Multimodal.ApngFrameSpec(Array.tabulate(6 * 5)(i => (i * 7).toByte),
        6, 5, x = 2, y = 3, delayNum = 4, blend = 1, dispose = 2)),
      splitFdat = true),
    Multimodal.encodeApng(15, 11, 3, Seq(
      Multimodal.ApngFrameSpec(plane, 15, 11, delayNum = 2),
      Multimodal.ApngFrameSpec(plane.map(v => ((v + 3) % 251).toByte),
        15, 11, delayNum = 2, blend = 1)),
      palette = Some(grayCt),
      trns = Some(Array.tabulate(32)(i => (255 - i * 8).toByte))),
    Multimodal.encodeApng(15, 11, 6, Seq( // fractional-alpha fade
      Multimodal.ApngFrameSpec(Array.tabulate(15 * 11 * 4)(i =>
        (if (i % 4 == 3) 255 else (i / 4 * 37 + i % 4 * 91) % 251).toByte),
        15, 11, delayNum = 2),
      Multimodal.ApngFrameSpec(Array.tabulate(15 * 11 * 4)(i =>
        ((i / 4 * 13 + i % 4 * 57) % 256).toByte),
        15, 11, delayNum = 3, blend = 1))),
    Multimodal.encodeWebpAnim(16, 12, Seq(
      Multimodal.WebpFrameSpec(Array.tabulate(16 * 12)(i =>
        0xff000000 | (i * 31 & 0xff) * 0x010101), 16, 12, durationMs = 40),
      Multimodal.WebpFrameSpec(Array.tabulate(6 * 4)(i =>
        0x80000000 | (i * 17 & 0xff) * 0x010101), 6, 4, x = 2, y = 4,
        durationMs = 50, disposeBg = true, blendOver = true))))

  property("EXIF extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Multimodal.ContainerCodec.exifOf(bytes) match {
        case Some((o, mk, md, dt, lat, lon)) =>
          o.forall(_ >= 0) && Seq(mk, md, dt).forall(_.forall(_ != null)) &&
            Seq(lat, lon).forall(_.forall(v => !v.isNaN))
        case None => true
      }
    }

  private val randomBytes: Gen[Array[Byte]] =
    Gen.choose(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  private val magicPrefixed: Gen[Array[Byte]] = for {
    m <- Gen.oneOf(magics)
    tail <- randomBytes
  } yield m ++ tail

  private val mutated: Gen[Array[Byte]] = for {
    f <- Gen.oneOf(fixtures)
    nFlips <- Gen.choose(1, 6)
    flips <- Gen.listOfN(nFlips, for {
      i <- Gen.choose(0, f.length - 1)
      b <- Gen.choose(Byte.MinValue, Byte.MaxValue)
    } yield (i, b))
    cutAt <- Gen.choose(1, f.length)
    doCut <- Gen.oneOf(true, false)
  } yield {
    val c = f.clone()
    flips.foreach { case (i, b) => c(i) = b }
    if (doCut) c.take(cutAt) else c
  }

  private val anyPayload: Gen[Array[Byte]] =
    Gen.oneOf(randomBytes, magicPrefixed, mutated)

  private def classifies(bytes: Array[Byte]): Boolean = {
    val row = Multimodal.MediaRow(1L, bytes, "fuzz/any", 3, 3)
    val feats = Multimodal.ContainerCodec.decode(Seq(row))
    feats.size == 1 && KnownKinds.contains(feats.head.kind)
  }

  property("feature extraction is total over arbitrary bytes") =
    forAll(anyPayload)(classifies)

  property("the pixel plane decode is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Multimodal.ContainerCodec.grayPlane(bytes) match {
        case Some((px, w, h)) => px.length == w * h && w > 0 && h > 0
        case None             => true
      }
    }

  property("the audio decode is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      AudioDsp.monoSamples(bytes) match {
        case Some((x, sr)) => sr > 0 && x.length >= 0
        case None          => true
      }
    }

  property("the video payload fingerprint is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      // both container walks (atom + EBML incl. lace tables) must never
      // throw; a fingerprint, when produced, is just a long
      Multimodal.ContainerCodec.videoPayloadFp(bytes)
      true
    }

  property("the animation surface is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      // all three container walks (GIF GCE/LZW, APNG chunk/zlib, WebP
      // ANMF/VP8L) plus compositing must never throw; a surface, when
      // produced, is internally consistent
      Multimodal.ContainerCodec.animFrames(bytes) match {
        case Some((c, s)) =>
          Set("gif", "apng", "webp").contains(c) &&
            s.frameCount > 0 && s.durationMs >= 0 &&
            s.frameHashes.length <= s.frameCount
        case None => true
      }
    }

  property("audio provenance extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      AudioTags.of(bytes) match {
        case Some(t) =>
          t.nonEmpty && t.year.forall(y => y >= -9999 && y <= 99999)
        case None => true
      }
    }

  property("the perceptual hash is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      graft.functions.DHashPixels.computeExternal(bytes, 5, 4) match {
        case None    => true
        case Some(h) => h.kind == "pixels" || h.kind == "payload"
      }
    }

  property("pdf text extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Pdf.text(bytes) match {
        case Some(t) =>
          t.pages.nonEmpty && t.refused >= 0 && t.pages.forall(_ != null)
        case None => true
      }
    }

  property("email extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Email.messages(bytes) match {
        case Some(ms) => ms.nonEmpty && ms.forall(m => m.text != null &&
          m.year.forall(y => y > 1000 && y < 10000))
        case None => true
      }
    }

  property("rtf text extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Rtf.text(bytes) match {
        case Some(t) => t.text != null && t.title.forall(_ != null)
        case None    => true
      }
    }

  property("xml text extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Xml.text(bytes) match {
        case Some(t) => t.text != null && t.root != null && t.refused >= 0
        case None    => true
      }
    }

  property("tar extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Tar.entries(bytes) match {
        case Some(es) => es.nonEmpty && es.forall(e =>
          e.name != null && e.data != null)
        case None => true
      }
    }

  property("warc record extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Warc.records(bytes) match {
        case Some(rs) =>
          rs.nonEmpty && rs.forall(r => r.warcType != null &&
            r.body != null && r.httpStatus.forall(s =>
              s >= 100 && s < 600))
        case None => true
      }
    }

  property("office (docx/epub) extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Office.text(bytes) match {
        case Some(t) =>
          Set("docx", "epub", "odt").contains(t.kind) && t.text != null &&
            t.refused >= 0
        case None => true
      }
    }

  property("html text extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Html.meta(bytes) // metadata scan: same totality bar
      Html.text(bytes) match {
        case Some(t) =>
          t.text != null && t.refused >= 0 && t.title.forall(_ != null)
        case None => true
      }
    }

  property("png textual metadata is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      PngText.chunks(bytes).toSeq.flatten
        .forall(r => r.keyword != null && r.text != null)
    }

  property("sitemap extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      Sitemaps.parse(bytes).toSeq.flatten
        .forall(e => e.kind != null && e.loc != null)
    }

  property("subtitle extraction is total over arbitrary bytes") =
    forAll(anyPayload) { bytes =>
      // totality: never throws; any cue that does surface carries
      // non-null text (timing values are whatever the fuzz data says)
      val txt = new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8)
      (Subtitles.mkvCues(bytes).toSeq.flatten ++
        Subtitles.mp4Cues(bytes).toSeq.flatten ++
        Subtitles.parseAss(txt) ++ Subtitles.parseLrc(txt))
        .forall(_.text != null)
    }
}
