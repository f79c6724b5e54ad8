package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end pipeline tests for the image-scoring stage (R1, R5-R8,
  * R15-R16) over the generated fixture corpus. */
class ImagesSpec extends SparkSpec {

  private lazy val dir =
    ImageFixtures.ensure(Files.createTempDirectory("graft_img").toString)

  test("R1 source: extension filter, case-insensitive, non-recursive skips subdir") {
    val files = Images.source(spark, dir, recursive = false)
      .select(col("path")).collect().map(_.getString(0))
    val names = files.map(_.split('/').last).sorted
    // note.txt excluded; nested.png (in sub/) excluded; corrupt.png and
    // photo.webp INCLUDED (extension passes — failure surfaces at
    // decode, appV2.py:183); _shadow.png and .dotfile.png INCLUDED —
    // the reference's os.walk has no hidden-file notion, and Spark's
    // own file index (which drops them) is deliberately bypassed
    assert(names === Array(".dotfile.png", "_shadow.png", "alpha.png",
      "anim.gif", "art.webp", "bgra32.bmp", "cmyk.jpg", "corrupt.png",
      "deep.bmp", "gray.png", "icc.jpg", "interlaced.gif",
      "interlaced.png", "landscape.png",
      "legacy.bmp", "lossy.webp", "lowcolor.bmp", "mono.bmp",
      "motion.webp", "oriented.jpg", "pal4.bmp", "pal8.bmp",
      "photo.jpg", "photo.webp", "portrait.png", "restarts.jpg",
      "rle4.bmp", "rle8.bmp", "rle_short.bmp", "square.PNG", "tiny.bmp",
      "trans.gif", "translucent.webp"))
  }

  test("webp contract: lossless AND lossy decode natively, corrupt rides " +
      "the error channel") {
    // appV2.py:17 includes .webp. The engine's own pure-JVM readers
    // (graft.images.WebPImageReader, registered via META-INF/services)
    // decode BOTH halves of the still format natively: art.webp is a
    // real libwebp VP8L file, lossy.webp a real libwebp q=75 VP8
    // keyframe — both must come out 'ok'. Corrupt payloads (photo.webp,
    // a structurally valid container with a truncated zero bitstream)
    // keep the documented error-status contract — the row survives to
    // the output, never a silent drop, never a job failure
    // (Images.scala contract; appV2.py:183 error isolation).
    val scored = Images.scoreImages(
      Images.source(spark, dir), Images.FixtureScorer(8), targetSize = 16)
      .collect().map(r => r.getString(0).split('/').last ->
        (Option(r.getSeq[Float](1)), r.getString(2))).toMap
    val (corruptLogits, corruptStatus) = scored("photo.webp")
    assert(corruptStatus.startsWith("error:"),
      s"corrupt webp status was '$corruptStatus'")
    assert(corruptLogits.isEmpty, "error rows carry null logits")
    val (losslessLogits, losslessStatus) = scored("art.webp")
    assert(losslessStatus === "ok", s"lossless webp status was '$losslessStatus'")
    assert(losslessLogits.exists(_.length === 8), "ok rows carry logits")
    val (lossyLogits, lossyStatus) = scored("lossy.webp")
    assert(lossyStatus === "ok", s"lossy webp status was '$lossyStatus'")
    assert(lossyLogits.exists(_.length === 8), "lossy ok rows carry logits")
    // lossy-with-alpha (VP8X+ALPH+VP8) and animated (first frame) decode too
    assert(scored("translucent.webp")._2 === "ok")
    assert(scored("motion.webp")._2 === "ok")
  }

  test("R1 source: MIXED-case extensions match, like the reference's f.lower()") {
    // Hadoop glob alternatives are case-sensitive: a {jpg,JPG} brace
    // accepts only all-lower/all-upper, silently dropping camera-style
    // 'photo.Jpg'. The per-character class glob must accept any casing —
    // and still exclude non-image extensions in any casing.
    val d2 = Files.createTempDirectory("graft_imgcase")
    Files.copy(Paths.get(dir, "photo.jpg"), d2.resolve("camera.Jpg"))
    Files.copy(Paths.get(dir, "portrait.png"), d2.resolve("scan.pNg"))
    Files.write(d2.resolve("note.TxT"), "not an image".getBytes("UTF-8"))
    // splitext parity at the leading-dot boundary (appV2.py:135):
    // Python treats a dot as the extension separator only with a
    // non-dot character BEFORE it, so ".png" and "..png" are
    // extensionless (excluded) while "a..png" keeps its ".png"
    Files.copy(Paths.get(dir, "portrait.png"), d2.resolve(".png"))
    Files.copy(Paths.get(dir, "portrait.png"), d2.resolve("..png"))
    Files.copy(Paths.get(dir, "portrait.png"), d2.resolve("a..png"))
    val names = Images.source(spark, d2.toString)
      .select(col("path")).collect().map(_.getString(0).split('/').last).sorted
    assert(names === Array("a..png", "camera.Jpg", "scan.pNg"))
  }

  test("R1 source: recursive picks up the nested file (appV2.py:137)") {
    val names = Images.source(spark, dir, recursive = true)
      .select(col("path")).collect().map(_.getString(0).split('/').last)
    assert(names.contains("nested.png"))
  }

  test("R1 source: recursive distributed walk finds the same set as the " +
      "flat walk, hidden names included") {
    // the descent into subdirectories runs on executors; the result set
    // must be exactly what a driver-side os.walk would see — including
    // `_`/`.`-prefixed names at every level
    val names = Images.source(spark, dir, recursive = true)
      .select(col("path")).collect().map(_.getString(0).split('/').last).sorted
    val nonRec = Images.source(spark, dir, recursive = false)
      .select(col("path")).collect().map(_.getString(0).split('/').last).sorted
    assert(names.toSet.intersect(nonRec.toSet) === nonRec.toSet,
      "recursive must be a superset of the root's own files")
    assert(names.contains("_shadow.png") && names.contains(".dotfile.png"),
      "hidden-name parity must survive the distributed walk")
    assert(names.contains("nested.png"))
  }

  test("R1 source: os.walk parity for roots — a missing or plain-file " +
      "root yields ZERO rows, never a throw (appV2.py:132-141)") {
    assert(Images.source(spark, dir + "/definitely_missing").count() === 0)
    assert(Images.source(spark, dir + "/landscape.png").count() === 0)
    assert(Images.source(spark, dir + "/definitely_missing",
      recursive = true).count() === 0)
  }

  test("R1 source: os.walk symlink parity — broken links list as files " +
      "(error row at read), symlinked dirs never descended, loops safe") {
    // os.walk(followlinks=False): a broken symlink appears in filenames
    // (the reference then fails the open per image); a symlink to a
    // directory appears in dirnames but is never walked — which also
    // makes a cyclic link safe. Hadoop's listStatus DROPS broken links
    // and listFiles FOLLOWS dir links (probed), so the local scheme
    // lists via java.nio.
    val d = Files.createTempDirectory("graft_symlink")
    val sub = d.resolve("sub"); Files.createDirectory(sub)
    Files.copy(Paths.get(dir, "portrait.png"), sub.resolve("real.png"))
    Files.createSymbolicLink(d.resolve("subs"), sub) // dir symlink at root
    Files.createSymbolicLink(sub.resolve("loop"), sub) // cyclic link
    Files.createSymbolicLink(d.resolve("ghost.png"), d.resolve("gone.png"))
    Files.createSymbolicLink(d.resolve("alias.png"), sub.resolve("real.png"))
    val rows = Images.source(spark, d.toString, recursive = true)
      .select(col("path"), col("read_error")).collect()
      .map(r => r.getString(0).split('/').last -> Option(r.getString(1)))
    val counts = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(counts.get("real.png") === Some(1),
      s"symlinked dir must not double-list: $counts")
    assert(counts.get("alias.png") === Some(1), "file symlinks are files")
    assert(counts.get("ghost.png") === Some(1),
      "a broken symlink lists as a file, like os.walk")
    assert(rows.toMap.apply("ghost.png").exists(_.startsWith("error: read failed")),
      "the broken link fails at READ, riding the error channel")
  }

  test("R16 source read error channel: a file deleted between listing " +
      "and read becomes a status row, never a job failure") {
    val d = Files.createTempDirectory("graft_imgdel")
    Files.copy(Paths.get(dir, "photo.jpg"), d.resolve("a.jpg"))
    Files.copy(Paths.get(dir, "portrait.png"), d.resolve("b.png"))
    val src = Images.source(spark, d.toString) // listing is eager
    Files.delete(d.resolve("a.jpg"))
    val scored = Images.scoreImages(src, Images.FixtureScorer(4), targetSize = 16)
      .collect().map(r => r.getString(0).split('/').last ->
        (Option(r.getSeq[Float](1)), r.getString(2))).toMap
    assert(scored("a.jpg")._2.startsWith("error: read failed"),
      s"deleted file status was '${scored("a.jpg")._2}'")
    assert(scored("a.jpg")._1.isEmpty, "read-error rows carry null logits")
    assert(scored("b.png")._2 === "ok", "healthy sibling still decodes")
  }

  test("R16 bomb guard covers ImageIO formats: a hostile PNG header " +
      "errors out BEFORE buying the pixel allocation") {
    // structurally valid PNG signature + IHDR declaring 100k x 100k
    // (1e10 px >> the 178.9 Mpx PIL-parity limit); correct CRC so the
    // header parses — the guard must fire on dimensions alone
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(100000).putInt(100000)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ chunk("IHDR", ihdr)
    val e = intercept[IllegalArgumentException](Images.preprocess(png, 16))
    assert(e.getMessage.contains("decompression bomb"))
  }

  test("R5 parity: 16bpp BMP expands 5/6-bit samples with Pillow's " +
      "TRUNCATING v*255/max, not the JDK's scale-round") {
    // Pillow Unpack.c BGR;15/BGR;16: integer `v * 255 / 31` (truncates);
    // the JDK's TYPE_USHORT_555/565 getRGB rounds — 5-bit 16 reads back
    // 132 where PIL gives 131 (probed). The expectations below are the
    // spec's OWN trunc math, so a regression to getRGB fails loudly.
    def rgbAt3(img: java.awt.image.BufferedImage, x: Int) = {
      val p = img.getRGB(x, 0)
      ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    }
    // 555 BI_RGB: per-pixel channel value = x (0..31 sweep)
    val b555 = ImageFixtures.craftBmp16(32, 2, is565 = false,
      (x, _) => ((x & 31) << 10) | ((x & 31) << 5) | (x & 31))
    val out555 = Images.pilEnsureRgb(b555, Images.readGuarded(b555))
    for (v <- Seq(0, 3, 16, 30, 31)) {
      val e = v * 255 / 31
      assert(rgbAt3(out555, v) === ((e, e, e)),
        s"555 v=$v must be trunc ${e} (JDK getRGB gives ${math.round(v * 255.0 / 31)})")
    }
    // 565 BITFIELDS: green has 6 bits — g=33 truncs to 133 (JDK: 134)
    val b565 = ImageFixtures.craftBmp16(32, 2, is565 = true,
      (x, _) => ((16 & 31) << 11) | ((33 & 63) << 5) | (16 & 31))
    val out565 = Images.pilEnsureRgb(b565, Images.readGuarded(b565))
    assert(rgbAt3(out565, 4) === ((16 * 255 / 31, 33 * 255 / 63, 16 * 255 / 31)))
    assert(rgbAt3(out565, 4) === ((131, 133, 131)))
  }

  test("R5 divergence pinned: BMP bitfields outside Pillow's accepted " +
      "layouts refuse with PIL's message (the JDK would decode them)") {
    // PIL BmpImagePlugin accepts 16bpp masks ONLY as canonical 565/555;
    // a 4/4/4 layout raises "Unsupported BMP bitfields layout" where
    // ImageIO decodes it generically (probed) — accept/reject parity.
    val weird = ImageFixtures.craftBmp16(8, 2, is565 = false,
      (_, _) => 0x567, masksOverride = Some((0x0F00, 0x00F0, 0x000F)))
    val e = intercept[IllegalArgumentException](Images.preprocess(weird, 16))
    assert(e.getMessage === "Unsupported BMP bitfields layout")
    // the canonical 555-as-bitfields layout must still decode
    val ok555 = ImageFixtures.craftBmp16(8, 2, is565 = false,
      (_, _) => (16 << 10) | (16 << 5) | 16,
      masksOverride = Some((0x7C00, 0x03E0, 0x001F)))
    val out = Images.pilEnsureRgb(ok555, Images.readGuarded(ok555))
    assert((out.getRGB(1, 0) & 0xff) === 131)
  }

  // --- BMP parity matrix (VERDICT r12 #6): palette / RLE / 32bpp /
  // OS/2 core classes. The JDK was probed against Pillow's
  // BmpImagePlugin.py + Unpack.c semantics; for every class below the
  // two agree EXACTLY, so these pins guard against regression on the
  // JDK side, with expected values computed from the spec's own
  // palette math (never from getRGB output). ------------------------

  private def rgb(img: java.awt.image.BufferedImage, x: Int, y: Int) =
    img.getRGB(x, y) & 0xffffff

  test("R5 parity: 1/4/8bpp palette BMPs decode to EXACT palette " +
      "entries (PIL P/L-mode convert('RGB') is a pure table lookup)") {
    // partial palette (biClrUsed = 16 at 8bpp) included: both decoders
    // honor the declared count rather than assuming 2^bpp quads
    val pal = Array.tabulate(16)(i => (i * 16 << 16) | ((255 - i * 16) << 8) | i * 8)
    val idx = Array(Array(0, 5, 15, 3), Array(1, 2, 3, 4))
    for (bpp <- Seq(4, 8)) {
      val bytes = ImageFixtures.craftBmpPalette(bpp, 4, 2, pal,
        (x, y) => idx(y)(x))
      val img = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
      for (y <- 0 until 2; x <- 0 until 4)
        assert(rgb(img, x, y) === pal(idx(y)(x)), s"bpp=$bpp ($x,$y)")
    }
    // 1bpp: MSB-first bit order, arbitrary (non-bw) 2-color palette
    val pal2 = Array(0x0a141e, 0xc8d2dc)
    val idx1 = Array(Array(0, 1, 1, 0, 1), Array(1, 0, 0, 1, 0))
    val b1 = ImageFixtures.craftBmpPalette(1, 5, 2, pal2, (x, y) => idx1(y)(x))
    val i1 = Images.pilEnsureRgb(b1, Images.readGuarded(b1))
    for (y <- 0 until 2; x <- 0 until 5)
      assert(rgb(i1, x, y) === pal2(idx1(y)(x)), s"1bpp ($x,$y)")
  }

  test("R5 parity: RLE8 escape semantics — encoded, absolute, EOL pad, " +
      "delta skip, early EOB — all zero-index fill like BmpRleDecoder") {
    // Pillow's decoder (BmpImagePlugin.BmpRleDecoder) pads EOL with
    // b\"\\x00\", fills a delta's skipped right+up*width pixels with
    // b\"\\x00\", and clamps an overlong encoded run to the row end;
    // the JDK does the identical arithmetic (probed). Stream below
    // exercises every escape; grid expectations are hand-derived.
    val pal = Array.tabulate(16)(i => (i * 16 << 16) | ((255 - i * 16) << 8) | i * 8)
    val rle8 = Array[Byte](
      4, 1, 0, 0, // encoded run 4 of idx1, EOL        -> image row 3
      0, 4, 2, 3, 4, 5, 0, 0, // absolute 4px, EOL     -> image row 2
      1, 6, 0, 2, 2, 1, // 1px idx6, delta right2 up1  -> row 1 x0; skip fills 0
      1, 7, 0, 1) // 1px idx7 at row0 x3, EOB          -> rest of row0 fills 0
    val bytes = ImageFixtures.craftBmpPalette(8, 4, 4, pal, comp = 1, rle = rle8)
    val img = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
    val expect = Array(
      Array(0, 0, 0, 7), // delta landed the idx7 pixel at (3, 0)
      Array(6, 0, 0, 0),
      Array(2, 3, 4, 5),
      Array(1, 1, 1, 1))
    for (y <- 0 until 4; x <- 0 until 4)
      assert(rgb(img, x, y) === pal(expect(y)(x)), s"rle8 ($x,$y)")
    // overlong encoded run clamps at the row boundary (Pillow:
    // num_pixels = max(0, xsize - x); JDK: identical — probed)
    val over = ImageFixtures.craftBmpPalette(8, 4, 2, pal, comp = 1,
      rle = Array[Byte](6, 2, 0, 0, 4, 3, 0, 0, 0, 1))
    val oimg = Images.pilEnsureRgb(over, Images.readGuarded(over))
    assert((0 until 4).forall(x => rgb(oimg, x, 1) === pal(2)), "clamped run row")
    assert((0 until 4).forall(x => rgb(oimg, x, 0) === pal(3)), "next row intact")
  }

  test("R5 parity: RLE4 — encoded runs alternate the byte's two " +
      "nibbles; absolute mode is 2px/byte, word-aligned") {
    val pal = Array.tabulate(16)(i => (i * 16 << 16) | ((255 - i * 16) << 8) | i * 8)
    // run 5 of 0x12 -> 1,2,1,2,1 | EOL | absolute 5px (3,4,5,6,7) from
    // 0x34 0x56 0x7_ + pad | EOL | EOB
    val rle4 = Array[Byte](5, 0x12, 0, 0,
      0, 5, 0x34, 0x56, 0x70, 0, 0, 0, 0, 1)
    val bytes = ImageFixtures.craftBmpPalette(4, 5, 2, pal, comp = 2, rle = rle4)
    val img = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
    val expect = Array(Array(3, 4, 5, 6, 7), Array(1, 2, 1, 2, 1))
    for (y <- 0 until 2; x <- 0 until 5)
      assert(rgb(img, x, y) === pal(expect(y)(x)), s"rle4 ($x,$y)")
  }

  test("R5 parity: 32bpp BGRX — the 4th byte is PADDING in both " +
      "decoders (PIL raw mode BGRX), BI_RGB and canonical BITFIELDS") {
    val px = Array(Array(0x7F102030, 0x00405060), Array(0xFF708090, 0x12A0B0C0))
    val raw = ImageFixtures.craftBmp32(2, 2, (x, y) => px(y)(x))
    val img = Images.pilEnsureRgb(raw, Images.readGuarded(raw))
    for (y <- 0 until 2; x <- 0 until 2)
      assert(rgb(img, x, y) === (px(y)(x) & 0xffffff), s"bgrx ($x,$y)")
    // canonical 888 BITFIELDS masks: PIL SUPPORTED[32] head entry
    val bf = ImageFixtures.craftBmp32(2, 2, (x, y) => px(y)(x),
      masks = Some((0xff0000, 0xff00, 0xff)))
    val bimg = Images.pilEnsureRgb(bf, Images.readGuarded(bf))
    for (y <- 0 until 2; x <- 0 until 2)
      assert(rgb(bimg, x, y) === (px(y)(x) & 0xffffff), s"bitfields ($x,$y)")
  }

  test("R5 parity: OS/2 BITMAPCOREHEADER (12-byte header, RGB-triple " +
      "palette) decodes in both engines — 24bpp exact, 8bpp via palette") {
    val rgb24 = Array(Array(0x112233, 0x445566), Array(0x778899, 0xaabbcc))
    val c24 = ImageFixtures.craftBmpCore(24, 2, 2, Array.empty, (x, y) => rgb24(y)(x))
    val i24 = Images.pilEnsureRgb(c24, Images.readGuarded(c24))
    for (y <- 0 until 2; x <- 0 until 2)
      assert(rgb(i24, x, y) === rgb24(y)(x), s"core24 ($x,$y)")
    val pal = Array.tabulate(16)(i => (i * 16 << 16) | ((255 - i * 16) << 8) | i * 8)
    val idx = Array(Array(0, 5, 15, 3), Array(1, 2, 3, 4))
    val c8 = ImageFixtures.craftBmpCore(8, 4, 2, pal, (x, y) => idx(y)(x))
    val i8 = Images.pilEnsureRgb(c8, Images.readGuarded(c8))
    for (y <- 0 until 2; x <- 0 until 4)
      assert(rgb(i8, x, y) === pal(idx(y)(x)), s"core8 ($x,$y)")
  }

  test("R5 parity: Adam7-interlaced PNG de-interleaves EXACTLY (both " +
      "engines implement the spec's lossless pass order)") {
    // ImageIO's writer can't emit interlace, so the class only enters
    // the engine via crafted bytes; 11x9 exercises every partial pass
    // (passes 1-2 have single columns, pass 3 a single row block).
    def want(x: Int, y: Int): Int =
      (((x * 31 + y * 7) % 256) << 16) | (((x * 13 + y * 101) % 256) << 8) |
        ((x * 3 + y * 57 + 19) % 256)
    val bytes = ImageFixtures.craftAdam7Png(11, 9, want)
    val img = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
    for (y <- 0 until 9; x <- 0 until 11)
      assert((img.getRGB(x, y) & 0xffffff) === want(x, y), s"($x,$y)")
  }

  test("R5 parity: 32bpp BITFIELDS — every SUPPORTED[32] layout decodes " +
      "per its MASK_MODES byte order; alpha layouts white-composite (r14)") {
    // Pillow's BmpImagePlugin SUPPORTED[32]/MASK_MODES (cited as
    // specification; the reference floats its Pillow pin): six accepted
    // (r,g,b,a) mask sets. X layouts ignore the pad byte; A layouts
    // open as mode RGBA and the reference's pil_ensure_rgb composites
    // over white (appV2.py:24-27) — pasteRef is the exact arithmetic.
    val cells = Array( // (r, g, b, a) per pixel of a 2x2
      Array((10, 201, 37, 255), (80, 90, 100, 0)),
      Array((1, 2, 3, 128), (200, 150, 250, 254)))
    def rgbAt3(img: java.awt.image.BufferedImage, x: Int, y: Int) = {
      val v = img.getRGB(x, y)
      ((v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    }
    // (masks, byte index of r/g/b/a in the LE pixel, -1 = padding)
    val layouts = Seq(
      ("BGRX", (0xff0000, 0xff00, 0xff, 0), (2, 1, 0, -1)),
      ("XBGR", (0xff000000, 0xff0000, 0xff00, 0), (3, 2, 1, -1)),
      ("ABGR", (0xff000000, 0xff0000, 0xff00, 0xff), (3, 2, 1, 0)),
      ("RGBA", (0xff, 0xff00, 0xff0000, 0xff000000), (0, 1, 2, 3)),
      ("BGRA", (0xff0000, 0xff00, 0xff, 0xff000000), (2, 1, 0, 3)),
      ("zero-masks→BGRX", (0, 0, 0, 0), (2, 1, 0, -1)))
    for ((tag, (rm, gm, bm, am), (ri, gi, bi, ai)) <- layouts) {
      def px(x: Int, y: Int): Int = {
        val (r, g, b, a) = cells(y)(x)
        // garbage 0x5A in the pad byte must not leak into the decode
        val pad = if (ai < 0) 0x5a << (8 * (6 - ri - gi - bi)) else a << (8 * ai)
        (r << (8 * ri)) | (g << (8 * gi)) | (b << (8 * bi)) | pad
      }
      val bytes = ImageFixtures.craftBmp32V4(2, 2, px, rm, gm, bm, am)
      val img = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
      for (y <- 0 until 2; x <- 0 until 2) {
        val (r, g, b, a) = cells(y)(x)
        val want =
          if (ai < 0) (r, g, b)
          else (pasteRef(r, a), pasteRef(g, a), pasteRef(b, a))
        assert(rgbAt3(img, x, y) === want, s"$tag ($x,$y)")
      }
    }
  }

  test("R5 divergence pinned: 32bpp BITFIELDS masks outside SUPPORTED[32] " +
      "refuse with PIL's message — the r13 scope gap is closed") {
    // 4/4/4/0 nibble masks: the JDK would decode them generically;
    // Pillow raises "Unsupported BMP bitfields layout"
    val v4 = ImageFixtures.craftBmp32V4(2, 2, (_, _) => 0x123456,
      0xf00, 0xf0, 0xf, 0)
    val e1 = intercept[IllegalArgumentException](Images.readGuarded(v4))
    assert(e1.getMessage === "Unsupported BMP bitfields layout")
    // legacy 40-byte header + appended 3 masks: Pillow reads a_mask = 0,
    // so an RGB-ordered (ff, ff00, ff0000) triple is NOT the RGBA entry
    // (which requires a = ff000000) and refuses
    val legacy = ImageFixtures.craftBmp32(2, 2, (_, _) => 0x123456,
      masks = Some((0xff, 0xff00, 0xff0000)))
    val e2 = intercept[IllegalArgumentException](Images.readGuarded(legacy))
    assert(e2.getMessage === "Unsupported BMP bitfields layout")
  }

  test("R5 parity: TOP-DOWN BMPs (negative height) keep natural row " +
      "order in both decoders — 24bpp via the JDK, 32bpp BITFIELDS via " +
      "the engine's own reader") {
    // Pillow reads biHeight < 0 as top-down (BmpImagePlugin y_flip);
    // the JDK decodes the same orientation (probed r14 on crafted
    // bytes). The 32bpp case exercises bmp32Decode's hRaw < 0 branch.
    val px = Array(Array(0xff0000, 0x00ff00, 0x0000ff),
      Array(0xffffff, 0x000000, 0x808080))
    // 24bpp BI_RGB, rows stored in natural order under a negative height
    val w = 3; val h = 2; val rowBytes = ((w * 3 + 3) / 4) * 4
    val b = java.nio.ByteBuffer.allocate(14 + 40 + rowBytes * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(14 + 40 + rowBytes * h)
      .putInt(0).putInt(14 + 40)
    b.putInt(40).putInt(w).putInt(-h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (y <- 0 until h) {
      val base = b.position()
      for (x <- 0 until w) {
        val c = px(y)(x)
        b.put((c & 0xff).toByte).put(((c >> 8) & 0xff).toByte)
          .put(((c >> 16) & 0xff).toByte)
      }
      b.position(base + rowBytes)
    }
    val img24 = Images.pilEnsureRgb(b.array(), Images.readGuarded(b.array()))
    for (y <- 0 until h; x <- 0 until w)
      assert(rgb(img24, x, y) === px(y)(x), s"topdown24 ($x,$y)")
    // 32bpp canonical BITFIELDS, negative height, V4 header
    val v4 = ImageFixtures.craftBmp32V4(3, 2, (x, y) => px(y)(x),
      0xff0000, 0xff00, 0xff, 0)
    // flip the height field (offset 22) to negative and re-order rows:
    // craftBmp32V4 writes bottom-up, so rewrite the raster naturally
    val topDown = v4.clone()
    val hb = java.nio.ByteBuffer.wrap(topDown)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(22, -2)
    val off = 14 + 108
    for (y <- 0 until 2; x <- 0 until 3)
      hb.putInt(off + (y * 3 + x) * 4, px(y)(x))
    val img32 = Images.pilEnsureRgb(topDown, Images.readGuarded(topDown))
    for (y <- 0 until h; x <- 0 until w)
      assert(rgb(img32, x, y) === px(y)(x), s"topdown32 ($x,$y)")
  }

  test("R5 parity (VERDICT r13 #4): an RLE stream ending before the " +
      "pixel area refuses with Pillow's 'not enough image data'") {
    // BmpRleDecoder accumulates until xsize*ysize and breaks on EOF or
    // end-of-bitmap; set_as_raw then raises ValueError("not enough
    // image data") on the short buffer — the reference errors the row.
    // The JDK zero-fills and decodes (probed r13); the pre-decode
    // coverage walk resolves the divergence to the reference's side.
    val pal = Array.tabulate(16)(i => (i * 16 << 16) | ((255 - i * 16) << 8) | i * 8)
    // early EOB: 2 of 4 rows covered on a 4x4
    val shortEob = ImageFixtures.craftBmpPalette(8, 4, 4, pal, comp = 1,
      rle = Array[Byte](4, 1, 0, 0, 4, 2, 0, 1))
    val e1 = intercept[IllegalArgumentException](Images.readGuarded(shortEob))
    assert(e1.getMessage === "not enough image data")
    // EOF with no EOB at all
    val shortEof = ImageFixtures.craftBmpPalette(8, 4, 4, pal, comp = 1,
      rle = Array[Byte](4, 1, 0, 0, 4, 2))
    val e2 = intercept[IllegalArgumentException](Images.readGuarded(shortEof))
    assert(e2.getMessage === "not enough image data")
    // RLE4 short: 6 of 12 pixels then EOB
    val short4 = ImageFixtures.craftBmpPalette(4, 6, 2, pal, comp = 2,
      rle = Array[Byte](6, 0x12, 0, 1))
    val e3 = intercept[IllegalArgumentException](Images.readGuarded(short4))
    assert(e3.getMessage === "not enough image data")
    // control: EOB arriving exactly at full coverage still decodes
    val exact = ImageFixtures.craftBmpPalette(8, 4, 2, pal, comp = 1,
      rle = Array[Byte](4, 1, 0, 0, 4, 2, 0, 1))
    val img = Images.pilEnsureRgb(exact, Images.readGuarded(exact))
    assert(rgb(img, 0, 0) === pal(2) && rgb(img, 0, 1) === pal(1))
  }

  test("R5 parity: interlaced GIF de-interleaves per the spec's 4-pass " +
      "row order (GIF89a appendix E; both engines implement it)") {
    // 11 rows exercises all four passes (0,8 | 4 | 2,6,10 | odd rows);
    // ImageIO's writer CAN emit interlace but a crafted stream keeps
    // the ground truth independent of any JDK round-trip.
    val palette = Array(0x0ac925, 0x28323c, 0x8f1e55, 0xffffff)
    val w = 7; val h = 11
    def idx(x: Int, y: Int): Int = (x + 2 * y) % 4
    val px = Array.tabulate(w * h)(i => idx(i % w, i / w).toByte)
    val plain = ImageFixtures.craftGif(w, h, palette, Seq(px))
    val inter = ImageFixtures.craftGif(w, h, palette, Seq(px), interlaced = true)
    val pimg = Images.pilEnsureRgb(plain, Images.readGuarded(plain))
    val iimg = Images.pilEnsureRgb(inter, Images.readGuarded(inter))
    for (y <- 0 until h; x <- 0 until w) {
      assert(rgb(iimg, x, y) === palette(idx(x, y)), s"interlaced ($x,$y)")
      assert(rgb(iimg, x, y) === rgb(pimg, x, y), s"twin mismatch ($x,$y)")
    }
  }

  test("R5 parity: EXIF orientation is IGNORED — bare Image.open never " +
      "auto-rotates (exif_transpose is opt-in; appV2.py:167 never calls " +
      "it) and neither does the engine") {
    val src = new java.awt.image.BufferedImage(
      24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24)
      src.setRGB(x, y, ((x * 11) << 16) | ((y * 13) << 8) | ((x + y) * 7 % 256))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", bos)
    val plain = bos.toByteArray
    val tagged = ImageFixtures.withJpegExif(plain, orientation = 6)
    // orientation 6 would rotate 90°, swapping dims — it must NOT
    val img = Images.readGuarded(tagged)
    assert(img.getWidth === 24 && img.getHeight === 16, "rotated!")
    assert(Images.preprocess(tagged, 32).toSeq ===
      Images.preprocess(plain, 32).toSeq, "EXIF segment changed pixels")
  }

  test("R5 parity: baseline JPEG with DRI/RSTn restart markers decodes " +
      "exactly; restarts are pixel-transparent (ITU T.81 §E.2.4)") {
    // DC-only flat blocks with quant 8 decode EXACTLY in any spec
    // decoder (see craftRestartJpeg scaladoc) — ground truth is the
    // block list itself, so this pins both the JDK's RSTn handling and
    // equality with the restart-free twin (predictor resets and all).
    val vals = Seq(0, 16, 240, 255, 128, 77, 200, 33)
    val withRst = ImageFixtures.craftRestartJpeg(4, 2, vals, restartInterval = 2)
    val noRst = ImageFixtures.craftRestartJpeg(4, 2, vals, restartInterval = 0)
    // the stream must actually CARRY restart markers (FFD0-FFD7)
    assert((0 until withRst.length - 1).exists(i =>
      (withRst(i) & 0xff) == 0xff && (withRst(i + 1) & 0xf8) == 0xd0),
      "no RSTn marker emitted")
    val imgR = Images.readGuarded(withRst)
    val imgN = Images.readGuarded(noRst)
    for (by <- 0 until 2; bx <- 0 until 4; dy <- 0 until 8; dx <- 0 until 8) {
      val (x, y) = (bx * 8 + dx, by * 8 + dy)
      val want = vals(by * 4 + bx)
      assert(imgR.getRaster.getSample(x, y, 0) === want, s"rst ($x,$y)")
      assert(imgN.getRaster.getSample(x, y, 0) === want, s"plain ($x,$y)")
    }
  }

  test("R5 (ADVICE r12): a BITFIELDS BMP truncated BEFORE its mask " +
      "DWORDs is a malformed file, NOT an unsupported layout") {
    // Pillow raises its truncated-file error class for a file cut off
    // before the masks; the layout refusal must fire only when the
    // three mask DWORDs are actually present and unsupported. Cut at
    // 60 bytes: past the 54-byte header (so comp=3 parses) but before
    // offset 66 where the masks end.
    val whole = ImageFixtures.craftBmp16(8, 2, is565 = true,
      (_, _) => 0x0867)
    val truncated = whole.take(60)
    val e = intercept[Exception](Images.preprocess(truncated, 16))
    assert(e.getMessage != "Unsupported BMP bitfields layout",
      s"truncated mask region mislabeled as layout refusal: $e")
  }

  test("R5 known divergence pinned: an arithmetic-coded JPEG (SOF9) " +
      "refuses with the explicit message, and rides the error channel") {
    // The ONE input class where engine and reference disagree on
    // accept/reject: Pillow's libjpeg-turbo decodes arithmetic entropy
    // coding (appV2.py:167), the JDK does not. The refusal must be the
    // engine's own stable, greppable message — not whatever incidental
    // exception ImageIO's entropy decoder dies with — and a crawl
    // hitting one must produce an error ROW, never a job failure.
    val bytes = ImageFixtures.craftArithmeticJpeg()
    val e = intercept[IllegalArgumentException](Images.preprocess(bytes, 16))
    assert(e.getMessage.startsWith("arithmetic-coded JPEG (SOF9)"),
      s"expected the explicit refusal, got '${e.getMessage}'")
    assert(e.getMessage.contains("known divergence"), e.getMessage)
    val d2 = Files.createTempDirectory("graft_arith")
    Files.write(d2.resolve("arith.jpg"), bytes)
    val scored = Images.scoreImages(
      Images.source(spark, d2.toString), Images.FixtureScorer(8), targetSize = 16)
      .collect().map(r => r.getString(0).split('/').last ->
        (Option(r.getSeq[Float](1)), r.getString(2))).toMap
    val (logits, status) = scored("arith.jpg")
    assert(status.startsWith("error:") &&
      status.contains("arithmetic-coded JPEG (SOF9)"),
      s"error-channel status must carry the explicit message, got '$status'")
    assert(logits.isEmpty, "error rows carry null logits")
  }

  // ---- R5 PIL-mode parity branches (appV2.py:20-27): crafted PNGs for
  // the three cases where `pil_ensure_rgb` does NOT composite-over-white
  // (the decoded raster alone cannot distinguish them — Images.scala
  // sniffs the PNG color type / tRNS chunk).

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      .putInt(crc.getValue.toInt).array()
  }

  private def craftPng(colorType: Int, width: Int, raw: Array[Byte],
                       trns: Option[Array[Byte]],
                       plte: Option[Array[Byte]] = None,
                       depth: Int = 8): Array[Byte] = {
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(1).put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](raw.length + 64)
    val n = defl.deflate(buf)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      pngChunk("IHDR", ihdr) ++
      plte.map(pngChunk("PLTE", _)).getOrElse(Array.empty[Byte]) ++
      trns.map(pngChunk("tRNS", _)).getOrElse(Array.empty[Byte]) ++
      pngChunk("IDAT", java.util.Arrays.copyOf(buf, n)) ++
      pngChunk("IEND", Array.empty[Byte])
  }

  private def rgbAt(img: java.awt.image.BufferedImage, x: Int) =
    (img.getRGB(x, 0) >> 16 & 0xff, img.getRGB(x, 0) >> 8 & 0xff,
      img.getRGB(x, 0) & 0xff)

  /** Independent Double reference for Pillow's paste-on-white:
    * out = round(fg·a/255) + (255−a) — the white term is integral, and
    * MULDIV255's (t>>8 + t)>>8 with t = fg·a+128 IS round-half-up
    * (verified exhaustively over the 256x256 domain). */
  private def pasteRef(c: Int, a: Int): Int =
    math.floor(c * a / 255.0 + 0.5).toInt + (255 - a)

  test("R5 parity: gray+alpha PNG (mode LA) drops alpha to raw L — " +
      "never composited, never gamma-shifted") {
    // PIL: mode LA is not in [RGB, RGBA] and has no transparency key →
    // convert(\"RGB\") discards alpha and replicates raw L. Java2D's own
    // conversion would BOTH composite and gamma-shift (100 → 168).
    val png = craftPng(4, 2, Array[Byte](0, 100, 0, -56, -1), None)
    // px0: L=100 a=0; px1: L=200 a=255
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val out = Images.pilEnsureRgb(png, img)
    assert(rgbAt(out, 0) === ((100, 100, 100)), "alpha must be DROPPED, raw L kept")
    assert(rgbAt(out, 1) === ((200, 200, 200)))
  }

  test("R5 parity: gray+tRNS PNG (mode L + transparency) composites " +
      "over white with raw L") {
    // tRNS declares gray value 100 fully transparent → PIL converts to
    // RGBA and pastes on white: that pixel becomes 255; others raw L
    val trns = java.nio.ByteBuffer.allocate(2).putShort(100.toShort).array()
    val png = craftPng(0, 2, Array[Byte](0, 100, -56), Some(trns))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val out = Images.pilEnsureRgb(png, img)
    assert(rgbAt(out, 0) === ((255, 255, 255)), "tRNS-matched gray → white")
    assert(rgbAt(out, 1) === ((200, 200, 200)), "opaque gray stays raw L")
  }

  test("R5 parity: truecolor+tRNS PNG (mode RGB) IGNORES the " +
      "transparency key — raw RGB survives") {
    // PIL: mode RGB is in the list, so the first branch skips and the
    // RGBA paste branch never runs — the tRNS-matched pixel keeps its
    // raw channel values (ImageIO, by contrast, surfaces it as alpha=0,
    // which a naive composite would turn white)
    val trns = java.nio.ByteBuffer.allocate(6)
      .putShort(10.toShort).putShort(20.toShort).putShort(30.toShort).array()
    val png = craftPng(2, 2, Array[Byte](0, 10, 20, 30, 100, 110, 120), Some(trns))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getColorModel.hasAlpha, "precondition: ImageIO surfaces tRNS as alpha")
    val out = Images.pilEnsureRgb(png, img)
    assert(rgbAt(out, 0) === ((10, 20, 30)), "transparency must be ignored")
    assert(rgbAt(out, 1) === ((100, 110, 120)))
  }

  test("R5 parity: plain gray PNG (mode L, no tRNS) replicates raw L — " +
      "no gamma shift (ADVICE r11 #2)") {
    // PIL: mode L, no transparency key → convert("RGB") replicates raw
    // samples. The generic path's getRGB would run Java2D's linear-gray
    // → sRGB conversion (100 → 168).
    val png = craftPng(0, 2, Array[Byte](0, 100, -56), None)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val out = Images.pilEnsureRgb(png, img)
    assert(rgbAt(out, 0) === ((100, 100, 100)), "raw L, not gamma-shifted")
    assert(rgbAt(out, 1) === ((200, 200, 200)))
  }

  test("R5 paste parity: fractional alpha composites with Pillow's " +
      "MULDIV255 rounding at a ∈ {1, 127, 128, 254} (VERDICT r10 #1)") {
    // Independent Double reference for Image.paste on white:
    // out = round(fg·a/255) + (255−a) exactly — the white term
    // 255·(255−a)/255 is integral, only the fg product rounds, and
    // MULDIV255's (t>>8 + t)>>8 with t = fg·a+128 IS round-half-up.
    // Java2D SRC_OVER (the retired path) disagrees by ±1 on several of
    // these cells, which is why they are pinned one by one.
    val alphas = Seq(0, 1, 127, 128, 254, 255)
    val (fr, fg, fb) = (10, 201, 37)
    val img = new java.awt.image.BufferedImage(
      alphas.size, 1, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    alphas.zipWithIndex.foreach { case (a, x) =>
      img.setRGB(x, 0, (a << 24) | (fr << 16) | (fg << 8) | fb)
    }
    val out = Images.ensureRgbOnWhite(img)
    alphas.zipWithIndex.foreach { case (a, x) =>
      assert(rgbAt(out, x) ===
        ((pasteRef(fr, a), pasteRef(fg, a), pasteRef(fb, a))), s"alpha=$a")
    }
  }

  test("R5 paste parity: palette PNG (type 3) with 8-bit tRNS alpha " +
      "composites via the palette lookup + Pillow paste") {
    // PIL: mode P with a transparency key → convert("RGBA") (palette
    // lookup + per-index alpha) → paste on white. Palette: index 0 =
    // (10, 201, 37) with alpha 127, index 1 = (40, 50, 60) opaque
    // (tRNS shorter than PLTE → missing entries default to 255).
    val plte = Array[Byte](10, 201.toByte, 37, 40, 50, 60)
    val trns = Array[Byte](127)
    val png = craftPng(3, 2, Array[Byte](0, 0, 1), Some(trns), Some(plte))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getColorModel.hasAlpha,
      "precondition: ImageIO surfaces palette tRNS as alpha")
    val out = Images.pilEnsureRgb(png, img)
    assert(rgbAt(out, 0) ===
      ((pasteRef(10, 127), pasteRef(201, 127), pasteRef(37, 127))))
    assert(rgbAt(out, 1) === ((40, 50, 60)))
  }

  test("R5 parity: sub-8-bit and 16-bit gray PNGs scale like Pillow's " +
      "unpackers — a 1-bit white pixel is 255, not raw index 1 (review r11)") {
    // ImageIO surfaces 1/2/4-bit gray as IndexColorModel with RAW index
    // samples; PIL's unpackers scale (x255, x0x55, x0x11). The LUT
    // ImageIO builds applies the same ramp — grayDropAlpha must read
    // through it, not the raw sample (which turned white near-black).
    // depth 1, px (0,1) -> (0, 255)
    val p1 = craftPng(0, 2, Array[Byte](0, 0x40), None, depth = 1)
    val i1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p1))
    val o1 = Images.pilEnsureRgb(p1, i1)
    assert(rgbAt(o1, 0) === ((0, 0, 0)) && rgbAt(o1, 1) === ((255, 255, 255)))
    // depth 2, px (1,3) -> (85, 255)
    val p2 = craftPng(0, 2, Array[Byte](0, 0x70), None, depth = 2)
    val i2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p2))
    val o2 = Images.pilEnsureRgb(p2, i2)
    assert(rgbAt(o2, 0) === ((85, 85, 85)) && rgbAt(o2, 1) === ((255, 255, 255)))
    // depth 4, px (5,15) -> (85, 255)
    val p4 = craftPng(0, 2, Array[Byte](0, 0x5f), None, depth = 4)
    val i4 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p4))
    val o4 = Images.pilEnsureRgb(p4, i4)
    assert(rgbAt(o4, 0) === ((85, 85, 85)) && rgbAt(o4, 1) === ((255, 255, 255)))
    // depth 16, samples (256, 65280) -> Pillow I;16 -> L is >> 8 -> (1, 255)
    val p16 = craftPng(0, 2, Array[Byte](0, 1, 0, 0xff.toByte, 0), None, depth = 16)
    val i16 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p16))
    val o16 = Images.pilEnsureRgb(p16, i16)
    assert(rgbAt(o16, 0) === ((1, 1, 1)) && rgbAt(o16, 1) === ((255, 255, 255)))
  }

  test("R5 parity: 16-bit truecolor PNGs keep the HIGH byte like Pillow's " +
      ";16B unpackers — Java2D's scale-round is off by one") {
    // type 2 (RGB), one row of two pixels; samples chosen where >>8 and
    // round(v·255/65535) differ: 0x01FF → PIL 1, Java2D getRGB 2 —
    // probed; the raster still carries the full 16-bit samples
    val raw2 = Array[Byte](0, // filter
      0x01, 0xff.toByte, 0x80.toByte, 0x80.toByte, 0xff.toByte, 0x00,
      0x00, 0xff.toByte, 0x00, 0x01, 0x12, 0x34)
    val p2 = craftPng(2, 2, raw2, None, depth = 16)
    val img2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p2))
    val out2 = Images.pilEnsureRgb(p2, img2)
    assert(rgbAt(out2, 0) === ((0x01, 0x80, 0xff)))
    assert(rgbAt(out2, 1) === ((0x00, 0x00, 0x12)))
    // type 6 (RGBA): high-byte channels AND alpha, then the Pillow
    // white paste — both at half and full alpha
    val raw6 = Array[Byte](0,
      0x80.toByte, 0x00, 0x40, 0x00, 0xc0.toByte, 0x00, 0x7f, 0xff.toByte,
      0x10, 0x00, 0x20, 0x00, 0x30, 0x00, 0xff.toByte, 0x00)
    val p6 = craftPng(6, 2, raw6, None, depth = 16)
    val img6 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p6))
    val out6 = Images.pilEnsureRgb(p6, img6)
    assert(rgbAt(out6, 0) === ((pasteRef(0x80, 0x7f), pasteRef(0x40, 0x7f),
      pasteRef(0xc0, 0x7f))))
    assert(rgbAt(out6, 1) === ((0x10, 0x20, 0x30)))
  }

  test("R5 parity: GIF transparent index → white, opaque indices → raw " +
      "palette RGB (VERDICT r10 #6)") {
    // PIL: mode "P" with a `transparency` info key → convert("RGBA")
    // (palette lookup, transparent index at alpha 0) → paste on white.
    // Binary alpha makes the composite exact: transparent pixels are
    // pure white, opaque pixels are the raw palette entry — any
    // divergence here is a palette-lookup bug, not rounding.
    val palette = Array(0x0ac925, 0x28323c, 0x8f1e55, 0x000000)
    val gif = ImageFixtures.craftGif(3, 1, palette,
      Seq(Array[Byte](0, 1, 2)), transparentIndex = 0)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    assert(img.getColorModel.hasAlpha,
      "precondition: ImageIO surfaces the GIF transparent index as alpha")
    val out = Images.pilEnsureRgb(gif, img)
    assert(rgbAt(out, 0) === ((255, 255, 255)), "transparent index → white")
    assert(rgbAt(out, 1) === ((0x28, 0x32, 0x3c)), "raw palette lookup")
    assert(rgbAt(out, 2) === ((0x8f, 0x1e, 0x55)))
  }

  test("R5 parity: animated GIF resolves to its FIRST frame, like " +
      "PIL's Image.open (VERDICT r10 #6)") {
    // frame 1 solid index 1, frame 2 solid index 2 — a wrong-frame (or
    // composited) read yields the wrong color everywhere, loudly
    val palette = Array(0x0ac925, 0x28323c, 0x8f1e55, 0xffffff)
    val f1 = Array.fill(16)(1.toByte)
    val f2 = Array.fill(16)(2.toByte)
    val gif = ImageFixtures.craftGif(4, 4, palette, Seq(f1, f2))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
    val out = Images.pilEnsureRgb(gif, img)
    for (x <- 0 until 4)
      assert(rgbAt(out, x) === ((0x28, 0x32, 0x3c)),
        s"first-frame palette color expected at x=$x")
    // and the full preprocess path (readGuarded's reader.read(0)) sees
    // the same frame: uniform input → uniform tensor at frame-1's color
    val t = Images.preprocess(gif, targetSize = 4)
    val expB = (0x3c / 255.0f - 0.5f) / 0.5f
    assert(math.abs(t(0) - expB) < 0.01f, s"BGR plane 0 ≈ $expB, got ${t(0)}")
  }

  test("R5 parity: grayscale JPEG (mode L) replicates the raw luma band") {
    // Same PIL convert("RGB") contract as gray PNG, but reaching
    // ensureRgbOnWhite's gray fast path (no PNG color type to sniff).
    // JPEG is lossy, so the expectation reads the DECODED raster band —
    // the pin is raw replication (r=g=b=L), not a absolute pixel value.
    val src = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8)
      src.getRaster.setSample(x, y, 0, 100)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", bos)
    val bytes = bos.toByteArray
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val out = Images.pilEnsureRgb(bytes, img)
    val l = img.getRaster.getSample(3, 3, 0)
    assert(math.abs(l - 100) <= 2, s"uniform JPEG should decode near 100, got $l")
    assert(rgbAt(out, 3) === ((l, l, l)),
      "raw luma replicated — Java2D's gray→sRGB shift would give ~168")
  }

  test("R5 parity: CMYK JPEG (no Adobe / transform 0) — stored samples " +
      "invert (Pillow CMYK;I) then cmyk2rgb, exactly") {
    // ImageIO.read() on a 4-component JPEG returns a TYPE_CUSTOM image
    // whose getRGB is solid black — before decodeCmykJpeg this produced
    // a silently WRONG tensor, not even an error row. Constant 8×8
    // blocks at quality 1.0 round-trip bit-exactly through readRaster
    // (probed), so the expectation is EXACT integer arithmetic: the
    // spec's own MULDIV255 replica, independent of the implementation.
    def md255(a: Int, b: Int) = { val t = a * b + 128; ((t >> 8) + t) >> 8 }
    val blocks = Seq(Array(255, 255, 255, 255), Array(0, 0, 0, 0),
      Array(155, 185, 205, 255), Array(100, 200, 50, 120))
    for (t <- Seq(-1, 0)) {
      val bytes = ImageFixtures.craftCmykJpeg(32, 16, blocks, adobeTransform = t)
      val out = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
      for ((b, i) <- blocks.zipWithIndex) {
        val ink = b.map(255 - _)
        val nk = 255 - ink(3) // = stored K
        val exp = (0 to 2).map(ch => nk - md255(ink(ch), nk))
        val p = out.getRGB(i * 8 + 4, 8)
        assert((((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)) ===
          ((exp(0), exp(1), exp(2))),
          s"adobeTransform=$t block $i stored=${b.mkString(",")}")
      }
    }
  }

  test("R5 parity: CMYK JPEG in the Photoshop YCCK layout — paper white " +
      "and full K exact, color blocks within ±1 of the real-valued chain") {
    // Adobe transform 2, inverted storage: the YCC channels encode
    // ink-as-RGB. Paper white (no ink) and full-K are exact anchors —
    // any inversion mistake anywhere in the three-step chain flips them
    // loudly. The color blocks check the fixed-point YCCK math against
    // an INDEPENDENT real-arithmetic reference (libjpeg's real-valued
    // coefficients, float inverse + exact final conversion), ±1 for the
    // table rounding (the PilResampleSpec pattern).
    val inks = Seq(Array(0, 0, 0, 0), Array(0, 0, 0, 255),
      Array(255, 0, 0, 0), Array(60, 70, 80, 90))
    val stored = inks.map(a => ImageFixtures.ycckStored(a(0), a(1), a(2), a(3)))
    val bytes = ImageFixtures.craftCmykJpeg(32, 16, stored, adobeTransform = 2)
    val out = Images.pilEnsureRgb(bytes, Images.readGuarded(bytes))
    def rgb(i: Int) = {
      val p = out.getRGB(i * 8 + 4, 8)
      ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    }
    assert(rgb(0) === ((255, 255, 255)), "no ink = paper white")
    assert(rgb(1) === ((0, 0, 0)), "full K = black")
    for (i <- Seq(2, 3)) {
      val s = stored(i)
      val y = s(0).toDouble; val cb = s(1) - 128.0; val cr = s(2) - 128.0
      val ink = Seq(y + 1.40200 * cr, y - 0.34414 * cb - 0.71414 * cr,
        y + 1.77200 * cb).map(v => math.max(0.0, math.min(255.0, v)))
      val nk = s(3).toDouble // 255 − inverted K = stored K
      val exp = ink.map(c => nk - c * nk / 255.0)
      val got = rgb(i)
      for ((g, e) <- Seq(got._1, got._2, got._3).zip(exp))
        assert(math.abs(g - e) <= 1.5, s"block $i: got $got expected ~$exp")
    }
  }

  test("R5 parity: GIF first frame SMALLER than the logical screen expands " +
      "to the screen like PIL — uncovered canvas is palette index 0") {
    // ImageIO.read(0) returns the FRAME rect (probed: 8x8 for an 8x8
    // frame on a 20x16 screen); PIL sizes the image to the logical
    // screen and draws the frame at its offset over a zero-filled
    // canvas — palette index 0, not the header's background index.
    val pal = Array(0x112233, 0x44aa44, 0x8f1e55, 0xffffff)
    val g1 = ImageFixtures.craftGif(12, 10, pal,
      Seq(Array.fill(4 * 3)(2.toByte)), frameRect = Some((2, 5, 4, 3)))
    val o1 = Images.pilEnsureRgb(g1, Images.readGuarded(g1))
    assert((o1.getWidth, o1.getHeight) === ((12, 10)),
      "PIL sizes the image to the logical screen, not the frame rect")
    assert((o1.getRGB(0, 0) & 0xffffff) === 0x112233) // canvas: palette[0]
    assert((o1.getRGB(3, 6) & 0xffffff) === 0x8f1e55) // in-frame: index 2
    assert((o1.getRGB(11, 9) & 0xffffff) === 0x112233)
    // transparent index 0: clear canvas → white composite; an index-0
    // pixel INSIDE the frame is transparent too (the decoder writes
    // every rect index — transparency never reveals the canvas)
    val px = Array.tabulate(4 * 3)(i => (if (i % 2 == 0) 0 else 1).toByte)
    val g2 = ImageFixtures.craftGif(12, 10, pal, Seq(px),
      transparentIndex = 0, frameRect = Some((2, 5, 4, 3)))
    val o2 = Images.pilEnsureRgb(g2, Images.readGuarded(g2))
    assert((o2.getRGB(0, 0) & 0xffffff) === 0xffffff)
    assert((o2.getRGB(2, 5) & 0xffffff) === 0xffffff) // index 0 in-frame
    assert((o2.getRGB(3, 5) & 0xffffff) === 0x44aa44) // index 1 in-frame
  }

  test("R5 parity: ICC-profiled JPEG decodes RAW like PIL — the profile " +
      "is stripped, never color-converted") {
    // PIL leaves an embedded ICC profile in info['icc_profile'] and the
    // pixels raw; Sun's reader runs a ColorConvertOp through it. The
    // engine must produce the SAME pixels for a JPEG with and without
    // the profile (identical entropy data).
    val bos = new java.io.ByteArrayOutputStream()
    val src = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) src.setRGB(x, y, 0x4080C0)
    javax.imageio.ImageIO.write(src, "jpg", bos)
    val plain = bos.toByteArray
    val icc = java.awt.color.ICC_Profile
      .getInstance(java.awt.color.ColorSpace.CS_LINEAR_RGB).getData
    val profiled = ImageFixtures.withJpegIcc(plain, icc)
    val a = Images.readGuarded(plain)
    val b = Images.readGuarded(profiled)
    assert(a.getRGB(8, 8) === b.getRGB(8, 8),
      "profiled JPEG must decode to the raw samples PIL sees")
    // fires-for-real: WITHOUT the strip, ImageIO really does convert —
    // the divergence the strip exists to prevent (a silent, status-ok,
    // pixel-level drift on every AdobeRGB/P3 photo)
    val converted = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(profiled))
    assert(converted.getRGB(8, 8) !== a.getRGB(8, 8),
      "probe invariant: Sun's reader color-converts under an ICC profile")
  }

  test("R5 parity: PNG gAMA/iCCP chunks do not shift pixels (PIL ignores " +
      "them; ImageIO ignores them — pinned so a JDK change cannot drift silently)") {
    val bos = new java.io.ByteArrayOutputStream()
    val src = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) src.setRGB(x, y, 0x4080C0)
    javax.imageio.ImageIO.write(src, "png", bos)
    val plain = bos.toByteArray
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    // extreme gAMA (10.0) + a linear-RGB iCCP after IHDR (ends at 33)
    val gama = chunk("gAMA", Array(0, 0, 0x27, 0x10).map(_.toByte))
    val deflater = new java.util.zip.Deflater()
    val icc = java.awt.color.ICC_Profile
      .getInstance(java.awt.color.ColorSpace.CS_LINEAR_RGB).getData
    deflater.setInput(icc); deflater.finish()
    val buf = new Array[Byte](icc.length * 2)
    val n = deflater.deflate(buf)
    val iccp = chunk("iCCP",
      "lin".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ buf.take(n))
    val modded = plain.take(33) ++ gama ++ iccp ++ plain.drop(33)
    assert(Images.readGuarded(modded).getRGB(4, 4) ===
      Images.readGuarded(plain).getRGB(4, 4))
  }

  test("R5-R7 preprocess: shape, range, BGR order, white-pad corners") {
    val bytes = Files.readAllBytes(Paths.get(dir, "portrait.png"))
    val t = Images.preprocess(bytes, targetSize = 64)
    assert(t.length === 3 * 64 * 64)
    assert(t.forall(v => v >= -1.0f && v <= 1.0f))
    // portrait 32x64 → padded left/right with white → normalized white = +1
    // corner (0,0) is padding in all channels
    assert(t(0) === 1.0f && t(64 * 64) === 1.0f && t(2 * 64 * 64) === 1.0f)
  }

  test("R5 alpha composite: fully-transparent pixel becomes white") {
    val bytes = Files.readAllBytes(Paths.get(dir, "alpha.png"))
    val t = Images.preprocess(bytes, targetSize = 48)
    // alpha.png has alpha growing left→right: leftmost column alpha≈0 →
    // composited over white → +1 in every channel
    assert(t(0) === 1.0f)
  }

  test("R8+R16 scoring: per-row error isolation, deterministic fixture logits") {
    val scored: Map[String, (Option[Seq[Float]], String)] =
      Images.scoreImages(Images.source(spark, dir), Images.FixtureScorer(32))
        .collect().map(r => r.getString(0).split('/').last ->
          (Option(r.getSeq[Float](1)), r.getString(2))).toMap
    val (corruptLogits, corruptStatus) = scored("corrupt.png")
    assert(corruptStatus.startsWith("error:") && corruptLogits.isEmpty)
    val okCount = scored.values.count(_._2 == "ok")
    // 7 classic + gray.png (raw-L branch) + trans.gif (transparent
    // index + first-frame) + cmyk.jpg (YCCK raw-raster decode) +
    // _shadow.png + .dotfile.png (hidden-name parity) + art.webp (VP8L)
    // + lossy.webp (VP8) + translucent.webp (ALPH alpha) + motion.webp
    // (first anim frame) + icc.jpg (profile stripped) + lowcolor.bmp
    // (16bpp truncating expansion) + the 7 BMP-matrix classes
    // (pal8/pal4/mono palette, rle8/rle4, deep BGRX, legacy core
    // header) + interlaced.png (Adam7) + the r14 probe classes
    // (interlaced.gif 4-pass, oriented.jpg EXIF-ignored, restarts.jpg
    // DRI/RSTn, bgra32.bmp SUPPORTED[32] alpha) — all engine-native;
    // rle_short.bmp joins corrupt.png/photo.webp on the error side
    assert(okCount === 30)
    val (l1, _) = scored("landscape.png")
    val again = Images.scoreImages(
      Images.source(spark, dir), Images.FixtureScorer(32))
      .filter(col("path").endsWith("landscape.png"))
      .collect().head.getSeq[Float](1)
    assert(l1.get === again) // deterministic across runs
  }

  test("R17 run metrics ride the same action via observe()") {
    val tagged = Images.tagImages(spark, dir, ImageFixtures.vocab(spark),
      Images.FixtureScorer(32))
    val (observed, obs) = Images.withRunMetrics(tagged)
    observed.collect() // the one action; metrics accumulate during it
    val m = obs.get
    assert(m("n_total") === 33L && m("n_ok") === 30L && m("n_failed") === 3L)
    assert(m("n_decode_failed") === 3L && m("n_read_failed") === 0L &&
      m("n_overrun_failed") === 0L)
  }

  test("R17 failures by error class: read, decode, vocab overrun") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_errclass")
    Files.copy(Paths.get(dir, "portrait.png"), d.resolve("good.png"))
    Files.copy(Paths.get(dir, "corrupt.png"), d.resolve("bad.png"))
    Files.createSymbolicLink(d.resolve("ghost.png"), d.resolve("gone.png"))
    def metrics(vocab: org.apache.spark.sql.DataFrame) = {
      val (observed, obs) = Images.withRunMetrics(
        Images.tagImages(spark, d.toString, vocab, Images.FixtureScorer(32)))
      observed.collect()
      obs.get
    }
    val fits = metrics(ImageFixtures.vocab(spark))
    assert(fits("n_ok") === 1L && fits("n_failed") === 2L)
    assert(fits("n_read_failed") === 1L && fits("n_decode_failed") === 1L &&
      fits("n_overrun_failed") === 0L)
    val wide = metrics(ImageFixtures.vocab(spark).unionByName(
      Seq((40L, "wide_tag", "general", 40L))
        .toDF("tag_idx", "tag_name", "category", "emit_pos")))
    assert(wide("n_ok") === 0L && wide("n_failed") === 3L)
    assert(wide("n_read_failed") === 1L && wide("n_decode_failed") === 1L &&
      wide("n_overrun_failed") === 1L)
  }

  test("EP2 full chain + R15 sidecar sink") {
    val tagged = Images.tagImages(spark, dir, ImageFixtures.vocab(spark),
      Images.FixtureScorer(32))
    val rows = tagged.collect()
    assert(rows.length === 33)
    val byName = rows.map(r => (r.getString(0).split('/').last,
      (r.getString(1), Option(r.getString(2))))).toMap
    assert(byName("corrupt.png")._1.startsWith("error:"))
    assert(byName("corrupt.png")._2.isEmpty) // no tags for failed rows
    assert(byName("landscape.png")._2.exists(_.nonEmpty))
    Images.writeSidecars(tagged.filter(col("status") === "ok"))
    val sidecar = Paths.get(dir, "landscape.txt")
    assert(Files.exists(sidecar))
    assert(new String(Files.readAllBytes(sidecar), "UTF-8") ===
      byName("landscape.png")._2.get)
  }

  test("R15 sidecar sink: failed rows (null tags) write NO .txt, like the reference") {
    // appV2.py:178 opens the .txt only after get_tags succeeded — a
    // failure leaves no file, and must not clobber a good sidecar from
    // a previous run with an empty one
    import spark.implicits._
    val d3 = Files.createTempDirectory("graft_sidecar_fail")
    Files.write(d3.resolve("old.png"), Array[Byte](1))
    Files.write(d3.resolve("old.txt"), "previous good tags".getBytes("UTF-8"))
    val rows = Seq(
      (d3.resolve("old.png").toUri.toString, null.asInstanceOf[String]),
      (d3.resolve("new.png").toUri.toString, "tag a"))
      .toDF("path", "tags")
    Images.writeSidecars(rows)
    assert(new String(Files.readAllBytes(d3.resolve("old.txt")), "UTF-8") ===
      "previous good tags", "failed row must not clobber an existing sidecar")
    assert(new String(Files.readAllBytes(d3.resolve("new.txt")), "UTF-8") ===
      "tag a")
  }

  test("R3 parity: a vocab overrunning the scorer dimension errors EVERY " +
      "image (numpy IndexError, appV2.py:79,92); decode errors keep their own") {
    import spark.implicits._
    val wide = ImageFixtures.vocab(spark).unionByName(
      Seq((40L, "wide_tag", "general", 40L))
        .toDF("tag_idx", "tag_name", "category", "emit_pos"))
    val rows = Images.tagImages(spark, dir, wide, Images.FixtureScorer(32))
      .collect()
      .map(r => r.getString(0).split('/').last ->
        ((r.getString(1), r.isNullAt(2)))).toMap
    assert(rows("landscape.png")._1 ===
      "error: index 40 is out of bounds for axis 0 with size 32")
    assert(rows("landscape.png")._2, "failed rows carry null tags")
    assert(rows("corrupt.png")._1.startsWith("error:") &&
      !rows("corrupt.png")._1.contains("out of bounds"),
      "decode failures precede get_tags and keep their own message")
  }

  test("tagImages persists nothing") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t1 = Images.tagImages(spark, dir, ImageFixtures.vocab(spark),
      Images.FixtureScorer(32))
    t1.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    val t2 = Images.tagImages(spark, dir, ImageFixtures.vocab(spark),
      Images.FixtureScorer(32))
    t2.count()
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }

  test("tagImages is one narrow stage: no Exchange after the read") {
    val tagged = Images.tagImages(spark, dir, ImageFixtures.vocab(spark),
      Images.FixtureScorer(32))
    tagged.collect()
    // the source's path partitioning is an RDD shuffle BEFORE the read;
    // from the scan of the read bytes on, the SQL plan is a single map
    val plan = tagged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("InMemory"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("R15 sidecar path handling: percent-encoded URI, dotted dir + extensionless name") {
    // os.path.splitext semantics: the extension splits on the file NAME
    // only, and binaryFile's percent-encoded file: URI must be decoded
    // (a space becomes %20 in the path column).
    import spark.implicits._
    val weird = Files.createTempDirectory("graft imgs.v1 ").toFile.getAbsolutePath
    Files.write(Paths.get(weird, "has space.png"), Array[Byte](1))
    Files.write(Paths.get(weird, "noext"), Array[Byte](1))
    val uriWithSpace = Paths.get(weird, "has space.png").toUri.toString // file:///...%20...
    assert(uriWithSpace.contains("%20"))
    val df = Seq(
      (uriWithSpace, "tag a, tag b"),
      // raw path, no extension, dot in the DIRECTORY name: must become
      // noext.txt, not truncate at the directory's dot
      (Paths.get(weird, "noext").toString, "tag c")).toDF("path", "tags")
    Images.writeSidecars(df)
    assert(Files.exists(Paths.get(weird, "has space.txt")))
    assert(new String(Files.readAllBytes(Paths.get(weird, "has space.txt")), "UTF-8")
      === "tag a, tag b")
    assert(Files.exists(Paths.get(weird, "noext.txt")))
  }
}
