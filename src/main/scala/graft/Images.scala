package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** The image-scoring stage — the reference's per-image chain R1, R5-R8,
  * R15-R16 (appV2.py:132-137, 20-49, 146-174, 178-185) on Spark:
  *
  *   - source: an explicit Hadoop-FS walk (os.walk parity — see
  *     [[source]]) with the reference's extension filter (appV2.py:17)
  *     and recursive toggle (appV2.py:129,137);
  *   - decode/preprocess: real pixel work via JDK ImageIO — RGBA/alpha
  *     composited over white (appV2.py:20-27), centered pad-to-square on
  *     a white canvas (appV2.py:29-36), PIL-algorithm antialiased
  *     bicubic resize to 448×448 (graft.images.PilResample), /255,
  *     HWC→CHW, RGB→BGR channel reverse, (x−0.5)/0.5 normalize
  *     (appV2.py:38-49). ImageIO covers png/jpg/jpeg/bmp/gif natively
  *     (4-component CMYK/YCCK JPEGs — which ImageIO.read() cannot
  *     color-convert — decode through the engine's own raw-raster
  *     replay of Pillow's libjpeg chain, [[decodeCmykJpeg]]);
  *     webp decodes through the engine's OWN pure-JVM readers
  *     (graft.images: Vp8l lossless, Vp8 lossy keyframes, Alpha for
  *     ALPH lossy-with-alpha, WebPContainer resolving animations to
  *     their first full-canvas frame — registered via an ImageIO SPI
  *     and validated bit-identical to libwebp on committed golden
  *     vectors); only corrupt bytes and partial-first-frame animations
  *     ride the error channel;
  *   - scoring: `mapPartitions` with ONE scorer instance per partition —
  *     the Spark dual of the reference's single ONNX session reused across
  *     the whole run (appV2.py:149,171). The ONNX model is not available
  *     in this environment, so `Scorer` is pluggable and tests/queries use
  *     the deterministic `FixtureScorer`; an ONNX Runtime implementation
  *     drops in without touching the plan;
  *   - error isolation: per-row Try → status column; one bad file never
  *     fails the job (appV2.py:165-185).
  *
  * Scale: decode+score is embarrassingly parallel narrow work; both the
  * recursive listing AND the byte reads are distributed (the driver
  * issues exactly one shallow listStatus on the root — executors walk
  * the first-level subdirectories in parallel, so no O(corpus)
  * driver-side stage remains); tagging runs in the same narrow map as
  * scoring, so the only shuffle in the full pipeline is the source's
  * hash partitioning of the listed paths, before the read. */
object Images {

  /** appV2.py:17 — lower-cased extension allow-list. */
  val imageExtensions: Seq[String] = Seq("jpg", "jpeg", "png", "webp", "bmp", "gif")

  /** R1 directory-scan source (appV2.py:132-137): an explicit Hadoop-FS
    * walk mirroring os.walk, NOT a binaryFile read — Spark's file index
    * unconditionally drops names starting with `_` or `.`
    * (shouldFilterOutPathName, even when such files are named
    * explicitly), silently losing images the reference tags (`_cover.jpg`,
    * `.photo.png`, anything under `_thumbs/`). The driver lists ONLY the
    * root's immediate children (one listStatus round-trip); the
    * recursive descent into subdirectories is DISTRIBUTED — each
    * executor task walks its slice of first-level directories with its
    * own FS client — so a 10⁸-file corpus never serializes through a
    * single driver-side RemoteIterator, and the full path list is never
    * materialized on the driver (it lives as an RDD straight into the
    * read stage). The byte reads are likewise distributed (one FS
    * client per (scheme, authority) per task, so the source works
    * against any scheme), and each read rides a per-row error channel:
    * a file deleted between listing and read, or one over the 2 GiB
    * array bound, yields a `read_error` row (null content) that
    * [[scoreImages]] passes through to the status column — the
    * reference's per-image try/except (appV2.py:165-185) never fails
    * the run on one bad file, so neither does the source.
    *
    * Extension matching mirrors os.path.splitext(f.lower()): the
    * extension splits on the file NAME only and a leading-dot-only name
    * (".webp") has NO extension.
    *
    * os.walk parity (r11 sweep): a missing or plain-file root yields
    * ZERO rows (os.walk of either is an empty generator — the reference
    * prints "no images" and returns, never crashes); on the local
    * scheme, broken symlinks list as FILES (error row at read, like the
    * reference's failed open) and symlinked DIRECTORIES are never
    * descended (followlinks=False — also the loop-safety property);
    * per-directory listing errors are swallowed like os.walk's
    * onerror=None.
    *
    * Output: (path STRING, content BINARY nullable, read_error STRING
    * nullable — null for healthy rows). */
  def source(spark: SparkSession, dir: String, recursive: Boolean = false): DataFrame = {
    import spark.implicits._
    val exts = imageExtensions.map("." + _).toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    // ONE splitext-parity predicate for driver and executors (a val
    // lambda, so the executor closure captures only the Set). Python's
    // os.path.splitext skips ALL leading dots: ".png" AND "..png" are
    // extensionless (excluded by the reference, appV2.py:135); the dot
    // counts as a separator only with a non-dot character before it.
    val extOk: String => Boolean = { name =>
      val i = name.lastIndexOf('.')
      i > 0 && name.substring(0, i).exists(_ != '.') &&
        exts.contains(name.substring(i).toLowerCase(java.util.Locale.ROOT))
    }
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val isLocal = "file" == Option(fs.getUri.getScheme).getOrElse("file")
    // LOCAL scheme: java.nio listing for exact os.walk SYMLINK semantics
    // (probed against Hadoop) — listStatus silently DROPS broken
    // symlinks while os.walk lists them as files (the reference then
    // fails the open and emits a per-image error row, appV2.py:183-185),
    // and os.walk(followlinks=False, the default) puts symlinked
    // directories in dirnames without ever DESCENDING into them, while
    // Hadoop's recursive listFiles follows them — double-listing every
    // file reachable both ways and LOOPING on a cyclic link. Listing
    // errors are swallowed per directory like os.walk's onerror=None
    // default: a dir deleted mid-walk contributes nothing, never a job
    // failure. Non-local schemes have no symlinks and keep the Hadoop
    // listing (listFiles' flat enumeration is the right scale shape on
    // object stores).
    val localChildren: java.nio.file.Path => (Seq[String], Seq[String]) = { d =>
      val files = Seq.newBuilder[String]
      val dirs = Seq.newBuilder[String]
      Try {
        val ds = java.nio.file.Files.newDirectoryStream(d)
        try {
          val it = ds.iterator()
          while (it.hasNext) {
            val e = it.next()
            if (java.nio.file.Files.isDirectory(e)) { // follows links, like scandir.is_dir()
              if (!java.nio.file.Files.isSymbolicLink(e))
                dirs += e.toUri.toString
            } else if (extOk(e.getFileName.toString)) files += e.toUri.toString
          }
        } finally ds.close()
      }
      (files.result(), dirs.result())
    }
    // os.walk parity for the ROOT itself (appV2.py:132-137): walking a
    // missing path or a plain file is an EMPTY generator — the reference
    // prints "no images found" and returns, it never crashes. listStatus
    // would throw on a missing root and return the file itself for a
    // file root, so the root is probed first.
    // driver work stays ONE shallow listing: root files + first-level dirs
    val (rootFiles: Seq[String], subDirs: Seq[String]) =
      if (isLocal) {
        val rp = java.nio.file.Paths.get(fs.makeQualified(root).toUri)
        if (!java.nio.file.Files.isDirectory(rp)) (Seq.empty, Seq.empty)
        else localChildren(rp)
      } else Try(fs.getFileStatus(root)) match {
        case Success(st) if st.isDirectory =>
          val cs = fs.listStatus(root)
          (cs.iterator.filter(st => st.isFile && extOk(st.getPath.getName))
            .map(_.getPath.toUri.toString).toSeq,
            cs.iterator.filter(_.isDirectory)
              .map(_.getPath.toUri.toString).toSeq)
        case _ => (Seq.empty, Seq.empty)
      }
    val sc = spark.sparkContext
    val (listed: org.apache.spark.rdd.RDD[String], knownCount: Option[Int]) =
      if (!recursive)
        (sc.parallelize(rootFiles,
          math.max(1, math.min(math.max(rootFiles.length, 1),
            sc.defaultParallelism * 2))),
          Some(rootFiles.length))
      else {
        // os.walk parity holds: neither listing has a hidden-name
        // filter, so `_thumbs/`, `_cover.jpg`, `.photo.png` all
        // survive — only Spark's own InMemoryFileIndex (bypassed here)
        // drops them
        val rootRdd = sc.parallelize(rootFiles,
          math.max(1, math.min(math.max(rootFiles.length, 1),
            sc.defaultParallelism)))
        if (subDirs.isEmpty) (rootRdd, Some(rootFiles.length))
        else {
          val walked = sc
            .parallelize(subDirs,
              math.max(1, math.min(subDirs.length, sc.defaultParallelism)))
            .flatMap { d =>
              if (isLocal) {
                // the driver's os.walk rules, iterated: files collected,
                // non-symlink dirs descended, symlink dirs listed-only
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                val stack = scala.collection.mutable.ArrayDeque(
                  java.nio.file.Paths.get(new java.net.URI(d)))
                while (stack.nonEmpty) {
                  val (fls, drs) = localChildren(stack.removeLast())
                  out ++= fls
                  stack ++= drs.map(u => java.nio.file.Paths.get(new java.net.URI(u)))
                }
                out
              } else {
                val p = new org.apache.hadoop.fs.Path(new java.net.URI(d))
                val f = p.getFileSystem(conf.value)
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                val it = f.listFiles(p, true)
                while (it.hasNext) {
                  val st = it.next()
                  if (extOk(st.getPath.getName)) out += st.getPath.toUri.toString
                }
                out
              }
            }
          (rootRdd.union(walked), None)
        }
      }
    // deterministic partition layout WITHOUT a global sort: a
    // HashPartitioner on the path string assigns each file the same
    // partition on every run with no RangePartitioner sampling job —
    // a sortBy here would execute the whole distributed walk TWICE per
    // action (the sampling collect plus the real shuffle map stage),
    // doubling listing I/O at exactly the 10⁸-file scale this path
    // targets. The walk stays fully lazy: no cluster job runs until the
    // caller's first action.
    val readParallelism = knownCount match {
      case Some(n) => math.max(1, math.min(n, sc.defaultParallelism * 2))
      case None    => math.max(1, sc.defaultParallelism * 2)
    }
    spark.createDataset(
      listed.map(u => (u, null: Null))
        .partitionBy(new org.apache.spark.HashPartitioner(readParallelism))
        .keys
        .mapPartitions { it =>
          // one FS client per (scheme, authority) per task; bytes read
          // executor-side — the driver never touches image content
          val fss = scala.collection.mutable.HashMap
            .empty[String, org.apache.hadoop.fs.FileSystem]
          it.map { uri =>
            Try {
              val p = new org.apache.hadoop.fs.Path(new java.net.URI(uri))
              val f = fss.getOrElseUpdate(
                s"${Option(p.toUri.getScheme).getOrElse("")}://" +
                  s"${Option(p.toUri.getAuthority).getOrElse("")}",
                p.getFileSystem(conf.value))
              val len = f.getFileStatus(p).getLen
              require(len <= Int.MaxValue, s"$uri exceeds 2 GiB")
              val buf = new Array[Byte](len.toInt)
              val in = f.open(p)
              try in.readFully(0, buf) finally in.close()
              buf
            } match {
              case Success(b) => (uri, b, null: String)
              case Failure(e) =>
                (uri, null: Array[Byte], ReadFailed +
                  Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
            }
          }
        })
      .toDF("path", "content", "read_error")
  }

  /** PNG (colorType, has tRNS chunk, bit depth) when `bytes` is a PNG —
    * the facts [[pilEnsureRgb]] needs that the decoded BufferedImage
    * cannot tell apart (a gray+alpha raster may be color type 4 OR
    * type 0 + tRNS, and PIL treats them OPPOSITELY; a 1/2/4-bit gray
    * raster surfaces its RAW index samples, which must be scaled the
    * way PIL's unpackers do). Bounded chunk walk, stops at IDAT/IEND. */
  private def pngColorTypeAndTrns(bytes: Array[Byte]): Option[(Int, Boolean, Int)] = {
    if (bytes.length < 33) return None
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    var i = 0
    while (i < 8) { if (bytes(i) != sig(i)) return None; i += 1 }
    val bitDepth = bytes(8 + 8 + 8) & 0xff // IHDR is first; data offset 8
    val colorType = bytes(8 + 8 + 9) & 0xff
    var off = 8L
    var trns = false
    var go = true
    while (go && off + 8 <= bytes.length) {
      val o = off.toInt
      val len = ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      val typ = new String(bytes, o + 4, 4, "US-ASCII")
      if (typ == "tRNS") { trns = true; go = false }
      else if (typ == "IDAT" || typ == "IEND") go = false
      else off += 12 + len
    }
    Some((colorType, trns, bitDepth))
  }

  /** Pillow's MULDIV255 rounding: round(a·b/255) in integer arithmetic
    * (libImaging/ImagingUtils.h — the arithmetic under Image.paste). */
  @inline private def mulDiv255(a: Int, b: Int): Int = {
    val t = a * b + 128
    ((t >> 8) + t) >> 8
  }

  /** JPEG marker walk — the [[pngColorTypeAndTrns]] counterpart for the
    * JPEG facts the decoded image cannot surface: the SOF component
    * count, the Adobe APP14 color transform, and WHICH SOFn opened the
    * frame. Returns (nComponents, adobeTransform, sofMarker), transform
    * −1 when no Adobe marker exists; walks every marker up to SOS
    * (libjpeg honors an APP14 anywhere in the header). None for
    * non-JPEG bytes or a broken marker stream. */
  private def jpegSofAndAdobe(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 4 ||
        (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var i = 2
    var adobe = -1
    var ncomp = -1
    var sof = -1
    var go = true
    while (go && i + 3 < bytes.length) {
      if ((bytes(i) & 0xff) != 0xff) return None // marker desync
      val m = bytes(i + 1) & 0xff
      if (m == 0xff) i += 1 // fill byte
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
      else {
        val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > bytes.length) return None
        // libjpeg reads the transform at FIXED payload offset 11
        // (jdmarker.c examine_app14: GETJOCTET(data[11]), data starting
        // after the 2 length bytes, requiring 12 payload bytes → len ≥
        // 14) — NOT the segment's last byte, which diverges for any
        // nonstandard APP14 with len > 14 (ADVICE r11)
        if (m == 0xee && len >= 14 &&
            new String(bytes, i + 4, 5, "US-ASCII") == "Adobe")
          adobe = bytes(i + 4 + 11) & 0xff
        else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          // SOFn payload: precision, h(2), w(2), ncomp — ncomp needs 6
          // payload bytes (len ≥ 8); a shorter declared len means the
          // read would escape the segment (malformed stream → None)
          if (len < 8) return None
          ncomp = bytes(i + 9) & 0xff // SOFn: len, precision, h, w, ncomp
          sof = m
        }
        else if (m == 0xda) go = false // SOS: header ends
        i += 2 + len
      }
    }
    if (ncomp > 0) Some((ncomp, adobe, sof)) else None
  }

  /** SOFn markers whose entropy coding is ARITHMETIC (ITU T.81 table
    * B.1: C9/CA/CB extended-sequential/progressive/lossless, CD/CE/CF
    * their differential forms). Pillow's bundled libjpeg-turbo decodes
    * these (D_ARITH_CODING_SUPPORTED), the JDK's reader does not — the
    * one known input class where the engine REFUSES what the reference
    * tags (COVERAGE.md R5; VERDICT r11 known-gap). Pinned as an
    * explicit, greppable error-channel message rather than whatever
    * incidental exception ImageIO's entropy decoder happens to die
    * with. */
  private def isArithmeticSof(sof: Int): Boolean =
    sof == 0xc9 || sof == 0xca || sof == 0xcb ||
      sof == 0xcd || sof == 0xce || sof == 0xcf

  /** GIF logical-screen facts the frame-rect decode cannot surface:
    * ImageIO's read(0) returns an image of the FIRST FRAME's dimensions
    * (probed: an 8×8 frame at (4,4) on a 20×16 screen reads back 8×8),
    * while PIL's Image.open sizes the image to the LOGICAL SCREEN and
    * draws the frame at its offset over a zero-filled canvas — palette
    * index 0, NOT the header's background index (Image.core.new zeroes
    * the buffer and the decoder only writes the tile rect). Returns
    * (screenW, screenH, frameX, frameY, frameW, frameH, fillArgb) with
    * fillArgb = the frame's effective palette entry 0 (local table if
    * the first frame has one, else global), fully transparent when the
    * first frame's GCE names index 0 as transparent. None for non-GIF
    * bytes or a broken stream. */
  private def gifScreenAndFirstFrame(bytes: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int, Int)] = {
    if (bytes.length < 14 || bytes(0) != 'G' || bytes(1) != 'I' ||
        bytes(2) != 'F') return None
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val sw = u16(6); val sh = u16(8)
    val packed = bytes(10) & 0xff
    var i = 13
    var gct = -1
    if ((packed & 0x80) != 0) { gct = 13; i += 3 << ((packed & 7) + 1) }
    var trans = -1
    while (i + 9 < bytes.length) {
      (bytes(i) & 0xff) match {
        case 0x21 => // extension block: label + sub-blocks
          val label = bytes(i + 1) & 0xff
          var j = i + 2
          while (j < bytes.length && (bytes(j) & 0xff) != 0) {
            val sz = bytes(j) & 0xff
            if (label == 0xf9 && sz >= 4 && j + 4 < bytes.length &&
                (bytes(j + 1) & 1) != 0)
              trans = bytes(j + 4) & 0xff
            j += 1 + sz
          }
          i = j + 1
        case 0x2c =>
          val fx = u16(i + 1); val fy = u16(i + 3)
          val fw = u16(i + 5); val fh = u16(i + 7)
          val lpacked = bytes(i + 9) & 0xff
          val palOff = if ((lpacked & 0x80) != 0) i + 10 else gct
          val fill =
            if (trans == 0) 0 // index 0 transparent: canvas is clear
            else if (palOff < 0 || palOff + 2 >= bytes.length) 0xff000000
            else 0xff000000 | ((bytes(palOff) & 0xff) << 16) |
              ((bytes(palOff + 1) & 0xff) << 8) | (bytes(palOff + 2) & 0xff)
          return Some((sw, sh, fx, fy, fw, fh, fill))
        case _ => return None // trailer/junk before any image descriptor
      }
    }
    None
  }

  /** Paste the decoded first frame onto the PIL-semantics logical-screen
    * canvas (see [[gifScreenAndFirstFrame]]): fill = palette index 0,
    * frame pixels written VERBATIM (the GIF decoder emits an index for
    * every rect pixel — a transparent-index pixel stays transparent, it
    * does not reveal the canvas). */
  private def expandGifToScreen(frame: BufferedImage, sw: Int, sh: Int,
                                fx: Int, fy: Int, fillArgb: Int): BufferedImage = {
    val out = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_ARGB)
    val row = new Array[Int](sw)
    java.util.Arrays.fill(row, fillArgb)
    var y = 0
    while (y < sh) { out.setRGB(0, y, sw, 1, row, 0, sw); y += 1 }
    val (fw, fh) = (frame.getWidth, frame.getHeight)
    val fr = frame.getRGB(0, 0, fw, fh, null, 0, fw)
    var yy = 0
    while (yy < fh && fy + yy < sh) {
      var xx = 0
      while (xx < fw && fx + xx < sw) {
        out.setRGB(fx + xx, fy + yy, fr(yy * fw + xx))
        xx += 1
      }
      yy += 1
    }
    out
  }

  /** PIL parity for ICC-profiled JPEGs: Pillow never color-manages at
    * decode — an embedded profile lands in info['icc_profile'] untouched
    * and the pixels stay raw JFIF samples (ImageCms is a separate,
    * opt-in API the reference never calls). Sun's JPEG reader instead
    * runs a ColorConvertOp through any embedded APP2 ICC profile
    * (probed: raw (64,128,192) under a linear-RGB profile reads back as
    * (137,188,225)) — every AdobeRGB / Display-P3 camera or web JPEG
    * would silently diverge from the reference, pixel by pixel, with
    * status 'ok'. Stripping the APP2 ICC_PROFILE segments before
    * ImageIO sees the stream restores PIL's raw-sample decode. Returns
    * the input array unchanged (no copy) when no such segment exists —
    * the overwhelmingly common case pays one marker walk. (The PNG
    * reader needs no twin: probed to ignore gAMA/iCCP, pinned in
    * ImagesSpec.) */
  private def stripJpegIcc(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 4 ||
        (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return bytes
    val iccHdr = "ICC_PROFILE".getBytes("US-ASCII") :+ 0.toByte
    var segments: List[(Int, Int)] = Nil // (start, total length) to drop
    var i = 2
    var go = true
    while (go && i + 3 < bytes.length) {
      if ((bytes(i) & 0xff) != 0xff) go = false // desync: leave as-is
      else {
        val m = bytes(i + 1) & 0xff
        if (m == 0xff) i += 1
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else {
          val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
          if (len < 2 || i + 2 + len > bytes.length) go = false
          else {
            if (m == 0xe2 && len >= 2 + iccHdr.length &&
                iccHdr.indices.forall(k => bytes(i + 4 + k) == iccHdr(k)))
              segments ::= ((i, 2 + len))
            if (m == 0xda) go = false // entropy data: stop walking
            i += 2 + len
          }
        }
      }
    }
    if (segments.isEmpty) bytes
    else {
      val out = new java.io.ByteArrayOutputStream(bytes.length)
      var pos = 0
      segments.reverse.foreach { case (s, l) =>
        out.write(bytes, pos, s - pos); pos = s + l
      }
      out.write(bytes, pos, bytes.length - pos)
      out.toByteArray
    }
  }

  /** PIL-parity CMYK JPEG decode (the reference tags CMYK JPEGs through
    * PIL mode "CMYK" → convert("RGB"), appV2.py:20-27,41). ImageIO's
    * read() has no CMYK color model — it materializes a 4-band
    * TYPE_CUSTOM image whose getRGB() is meaningless (probed: solid
    * black for every input), so a CMYK JPEG in the corpus would have
    * produced a silently WRONG tensor, not even an error row. The
    * pipeline instead reads the RAW raster (Sun's readRaster applies no
    * color transform — stored samples round-trip bit-exactly, probed
    * across all three Adobe variants) and replays Pillow's exact chain:
    *
    *   1. libjpeg color handling (jdapimin.c / jdcolor.c — Pillow's
    *      JpegDecode.c requests out_color_space JCS_CMYK): an Adobe
    *      APP14 transform of 2 — or any nonzero value, jdapimin warns
    *      and assumes YCCK — means the stream stores YCCK, where the
    *      YCC channels encode the complement of the STORED (Adobe-
    *      inverted) CMY; ycck_cmyk_convert reconstructs R'G'B' with the
    *      fixed-point tables of build_ycc_rgb_table and complements,
    *      leaving the output in the same inverted-storage convention as
    *      a transform-0/no-Adobe stream (passthrough), K untouched.
    *   2. Pillow's rawmode "CMYK;I" (JpegImagePlugin SOF handler:
    *      4-layer JPEGs "assume Adobe conventions") inverts all four
    *      channels — stored convention → true ink. (Pillow applies this
    *      unconditionally, so a rare NON-Adobe true-ink CMYK JPEG
    *      decodes inverted in PIL — and therefore here too: parity
    *      means reproducing that documented Pillow quirk, not fixing
    *      it.)
    *   3. convert("RGB") = libImaging/Convert.c cmyk2rgb: nk = 255 − K,
    *      channel = CLIP8(nk − MULDIV255(ink, nk)) — (255−ink)(255−K)
    *      / 255 with Pillow's rounding ([[mulDiv255]]).
    *
    * Anchors (ImagesSpec): paper-white and full-K decode to exact
    * white/black in the YCCK layout Photoshop writes; stored-CMYK
    * blocks match exact hand-computed values; a YCCK color block stays
    * within ±1 of an independent real-arithmetic reference. */
  private def decodeCmykJpeg(reader: javax.imageio.ImageReader,
                             adobeTransform: Int): BufferedImage = {
    val raster = reader.readRaster(0, null)
    val (w, h) = (raster.getWidth, raster.getHeight)
    val ycck = adobeTransform > 0 // 2 = YCCK; jdapimin: nonzero ⇒ YCCK
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val dst = new Array[Int](w)
    val row = new Array[Int](4 * w)
    // libjpeg6b build_ycc_rgb_table: FIX(x) = round(x·2^16), ONE_HALF
    // added before the arithmetic right shift
    val FIX_1_40200 = 91881; val FIX_1_77200 = 116130
    val FIX_0_71414 = 46802; val FIX_0_34414 = 22554
    @inline def clamp(v: Int) = if (v < 0) 0 else if (v > 255) 255 else v
    var y = 0
    while (y < h) {
      raster.getPixels(0, y, w, 1, row)
      var x = 0
      while (x < w) {
        val o = 4 * x
        var c = 0; var m = 0; var yl = 0
        if (ycck) {
          val lum = row(o); val cb = row(o + 1) - 128; val cr = row(o + 2) - 128
          c = clamp(lum + ((FIX_1_40200 * cr + 32768) >> 16))
          m = clamp(lum + ((-FIX_0_34414 * cb - FIX_0_71414 * cr + 32768) >> 16))
          yl = clamp(lum + ((FIX_1_77200 * cb + 32768) >> 16))
        } else {
          c = 255 - row(o); m = 255 - row(o + 1); yl = 255 - row(o + 2)
        }
        val nk = row(o + 3) // = 255 − (255 − storedK) = stored K
        val r = nk - mulDiv255(c, nk)
        val g = nk - mulDiv255(m, nk)
        val b = nk - mulDiv255(yl, nk)
        dst(x) = (r << 16) | (g << 8) | b
        x += 1
      }
      out.setRGB(0, y, w, 1, dst, 0, w)
      y += 1
    }
    out
  }

  /** R5, full PIL parity (appV2.py:20-27). `pil_ensure_rgb` branches on
    * the PIL MODE, which for PNGs maps from the color type in ways the
    * decoded raster alone cannot reproduce:
    *
    *   - type 4 (gray+alpha, mode "LA"): NOT in ["RGB","RGBA"] and
    *     carries no "transparency" key → `convert("RGB")` — the alpha
    *     channel is DROPPED and raw L replicates to RGB. (Java2D's own
    *     gray+alpha → RGB conversion also gamma-shifts L — 100 → 168 —
    *     so this path reads the raster band directly.)
    *   - type 0 + tRNS (mode "L" + transparency): `convert("RGBA")`
    *     then white-composite — raw L, Pillow paste arithmetic.
    *   - type 0, no tRNS (mode "L"): `convert("RGB")` — raw L
    *     replicates to RGB. Routing this through the generic path
    *     would gamma-shift (Java2D converts linear gray to sRGB,
    *     L=100 → 168); PIL does no color management here.
    *   - type 2 + tRNS (mode "RGB" + transparency key): mode IS in the
    *     list, so the transparency is IGNORED — raw RGB survives.
    *   - everything else (RGBA, palette±tRNS, plain RGB, and every
    *     non-PNG format): alpha — where present — composites over
    *     white, the [[ensureRgbOnWhite]] path (Pillow paste
    *     arithmetic; raw-L fast path for alphaless gray rasters). */
  private[graft] def pilEnsureRgb(bytes: Array[Byte], img: BufferedImage): BufferedImage =
    // 16bpp BMP first: a non-PNG class with its own raw-sample parity
    // path (bmp16Expand scaladoc); every other BMP falls through to the
    // PNG sniff (None) and the generic chain like before
    bmp16Mode(bytes) match {
      case Some(is565)
          if img.getType == BufferedImage.TYPE_USHORT_555_RGB ||
            img.getType == BufferedImage.TYPE_USHORT_565_RGB =>
        bmp16Expand(img, is565)
      case _ => pilEnsureRgbPng(bytes, img)
    }

  private def pilEnsureRgbPng(bytes: Array[Byte], img: BufferedImage): BufferedImage =
    pngColorTypeAndTrns(bytes) match {
      case Some((4, _, _))     => grayDropAlpha(img)
      case Some((0, true, _))  => grayCompositeWhite(img)
      case Some((0, false, _)) => grayDropAlpha(img)
      // 16-bit truecolor (types 2/6): Pillow's ;16B unpackers keep the
      // HIGH byte; Java2D getRGB scale-rounds — see rgb16HighBytes.
      // Covers 2+tRNS too (transparency ignored at any depth, the PIL
      // mode-"RGB" allow-list rule).
      case Some((2, _, 16)) | Some((6, _, 16)) => rgb16HighBytes(img)
      case Some((2, true, _))  => stripAlpha(img)
      case _                   => ensureRgbOnWhite(img)
    }

  /** BMP header facts the decoded image cannot surface: bits-per-pixel,
    * compression, and (for BI_BITFIELDS) the three channel masks.
    * Returns (bpp, compression, Some((rMask, gMask, bMask)) when
    * compression == 3 and the masks are present). None for non-BMP
    * bytes or a truncated header. Masks live at file offset 54 for
    * every header ≥ BITMAPINFOHEADER: the legacy layout appends three
    * DWORDs after the 40-byte header, and the V4/V5 headers place
    * their mask fields at the same absolute position. */
  private def bmpHeader(bytes: Array[Byte]): Option[(Int, Int, Option[(Long, Long, Long)])] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (u32(14) < 40) return None // BITMAPCOREHEADER: no compression field
    val bpp = u16(28)
    val comp = u32(30).toInt
    val masks =
      if (comp == 3 && bytes.length >= 66) Some((u32(54), u32(58), u32(62)))
      else None
    Some((bpp, comp, masks))
  }

  /** The FOUR BI_BITFIELDS mask DWORDs exactly as Pillow reads them
    * (BmpImagePlugin._bitmap, cited as specification): header size 40
    * (BITMAPINFOHEADER) carries three masks APPENDED after the header
    * (file offsets 54/58/62) and Pillow sets a_mask = 0; header sizes
    * ≥ 56 (V3/V4/V5) carry all four IN-header at the same absolute
    * offsets 54/58/62/66; the rare size-52 V2 header falls into
    * Pillow's read-after-header branch, which lands at 66/70/74 —
    * mirrored verbatim, divergent-looking as it is, because parity
    * with the reference is the contract. None when the bytes end
    * before the mask words (that class rides Pillow's truncated-file
    * error path, not the layout refusal — ADVICE r12). */
  private def bmpMasks4(bytes: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    def u32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    val hs = u32(14)
    if (hs == 40 && bytes.length >= 66)
      Some((u32(54), u32(58), u32(62), 0L))
    else if (hs >= 56 && bytes.length >= 70)
      Some((u32(54), u32(58), u32(62), u32(66)))
    else if (hs == 52 && bytes.length >= 78)
      Some((u32(66), u32(70), u32(74), 0L))
    else None
  }

  /** Pillow's SUPPORTED[32] / MASK_MODES accept list for 32bpp
    * BI_BITFIELDS (BmpImagePlugin, current Pillow — the reference's
    * requirements.txt floats the dependency, and the RGBA entry is a
    * Pillow 10.2 addition): the (r, g, b, a) mask set → the byte index
    * of each channel inside the little-endian 4-byte pixel, alpha −1
    * for the X (padding) layouts. Anything else raises "Unsupported
    * BMP bitfields layout" there, and therefore refuses here — closing
    * the r13 COVERAGE scope gap where non-canonical 32bpp masks
    * decoded generically through ImageIO. */
  private val bmp32Layouts: Map[(Long, Long, Long, Long), (Int, Int, Int, Int)] =
    Map(
      (0xff0000L, 0xff00L, 0xffL, 0L)          -> ((2, 1, 0, -1)), // BGRX
      (0xff000000L, 0xff0000L, 0xff00L, 0L)    -> ((3, 2, 1, -1)), // XBGR
      (0xff000000L, 0xff0000L, 0xff00L, 0xffL) -> ((3, 2, 1, 0)),  // ABGR
      (0xffL, 0xff00L, 0xff0000L, 0xff000000L) -> ((0, 1, 2, 3)),  // RGBA
      (0xff0000L, 0xff00L, 0xffL, 0xff000000L) -> ((2, 1, 0, 3)),  // BGRA
      (0L, 0L, 0L, 0L)                         -> ((2, 1, 0, -1))  // BGRX
    )

  /** Direct 32bpp BI_BITFIELDS raster decode for the accepted layouts:
    * a plain byte pick per channel (stride w·4, bottom-up unless the
    * height is negative), producing ARGB when the layout carries alpha
    * (PIL mode "RGBA" → the standard white composite downstream) and
    * RGB otherwise. Decoding here rather than through ImageIO keeps
    * ONE pinned semantics for the whole class — the JDK handles
    * arbitrary masks via its own sample model, which is exactly the
    * unpinned surface the SUPPORTED[32] gate exists to retire. */
  private def bmp32Decode(bytes: Array[Byte],
      layout: (Int, Int, Int, Int)): BufferedImage = {
    def s32(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    val off = s32(10)
    val w = s32(18)
    val hRaw = s32(22)
    val h = math.abs(hRaw)
    // own bomb check: this path runs BEFORE the reader-dims guard in
    // readGuarded (the JDK cannot even header-parse the zero-mask class)
    if (w.toLong * h > 178956970L)
      throw new IllegalArgumentException(
        s"decompression bomb: ${w}x$h exceeds the 178.9 Mpx limit")
    if (w <= 0 || h == 0 || off < 54 ||
        off.toLong + 4L * w * h > bytes.length)
      throw new IllegalArgumentException("not enough image data")
    val (ri, gi, bi, ai) = layout
    val out = new BufferedImage(w, h,
      if (ai >= 0) BufferedImage.TYPE_INT_ARGB else BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val base = off + (if (hRaw < 0) y else h - 1 - y) * 4 * w
      var x = 0
      while (x < w) {
        val o = base + 4 * x
        val a = if (ai >= 0) bytes(o + ai) & 0xff else 0xff
        out.setRGB(x, y, (a << 24) | ((bytes(o + ri) & 0xff) << 16) |
          ((bytes(o + gi) & 0xff) << 8) | (bytes(o + bi) & 0xff))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Coverage walk of an RLE8/RLE4 escape stream, mirroring Pillow's
    * BmpRleDecoder.decode accounting (Pillow ≥ 9.3 BmpImagePlugin,
    * cited as specification): encoded runs clamp at the row end, EOL
    * (00 00) zero-pads to the row boundary, delta (00 02 r u) skips
    * r + u·width pixels as zeros, absolute (00 n, n ≥ 3) yields n
    * pixels from n bytes (RLE8) or ceil(n/2) bytes (RLE4) then aligns
    * the ABSOLUTE file offset to a 16-bit word. True when the stream
    * ends — EOF,
    * end-of-bitmap (00 01), or a short absolute/delta read — before
    * covering width·height pixels: Pillow's set_as_raw then raises
    * ValueError("not enough image data") where the JDK zero-fills and
    * decodes (probed r13), so the SHORT class must refuse pre-decode
    * to stay on the reference's error channel. */
  private[graft] def rleCoverageShort(bytes: Array[Byte]): Boolean = {
    def s32(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    if (bytes.length < 54) return false // truncated header: generic path
    val off = s32(10)
    val w = s32(18)
    val h = math.abs(s32(22))
    val rle4 = u16(28) == 4
    if (w <= 0 || h == 0 || off < 54 || off > bytes.length) return false
    val dest = w.toLong * h
    var data = 0L
    var x = 0L
    var pos = off
    while (data < dest) {
      if (pos + 2 > bytes.length) return true // EOF mid-stream
      val n = bytes(pos) & 0xff
      val b = bytes(pos + 1) & 0xff
      pos += 2
      if (n > 0) { // encoded run, clamped at the row end
        val np = if (x + n > w) math.max(0L, w - x) else n.toLong
        data += np; x += np
      } else if (b == 0) { // end of line: pad to the row boundary
        if (data % w != 0) data += w - (data % w)
        x = 0
      } else if (b == 1) { // end of bitmap
        return data < dest
      } else if (b == 2) { // delta
        if (pos + 2 > bytes.length) return data < dest
        data += (bytes(pos) & 0xff) + (bytes(pos + 1) & 0xff).toLong * w
        pos += 2
        x = data % w
      } else { // absolute mode: b pixels from ceil(b/2) bytes (RLE4 —
        // the odd count's final low nibble is padding; pinned by the
        // ImagesSpec RLE4 matrix), b bytes (RLE8), then word-align
        val byteCount = if (rle4) (b + 1) / 2 else b
        val take = math.min(byteCount, bytes.length - pos)
        pos += take
        if (take < byteCount) { // short read: only the read bytes land
          data += (if (rle4) 2L * take else take.toLong)
          return data < dest
        }
        data += b
        x += b
        if (pos % 2 != 0) pos += 1
      }
    }
    false
  }

  /** PIL's accepted 16bpp BMP layouts (BmpImagePlugin SUPPORTED/
    * MASK_MODES): BI_RGB defaults to 555 ("BGR;15"); BI_BITFIELDS is
    * accepted ONLY with the canonical 565 (f800/7e0/1f → "BGR;16") or
    * 555 (7c00/3e0/1f → "BGR;15") masks. Returns Some(is565) for the
    * three accepted layouts, None otherwise (non-BMP, other depths —
    * and the unsupported-mask case, which [[readGuarded]] already
    * rejected before decode). */
  private def bmp16Mode(bytes: Array[Byte]): Option[Boolean] =
    bmpHeader(bytes) match {
      case Some((16, 0, _)) => Some(false)
      case Some((16, 3, Some((0xf800L, 0x7e0L, 0x1fL)))) => Some(true)
      case Some((16, 3, Some((0x7c00L, 0x3e0L, 0x1fL)))) => Some(false)
      case _ => None
    }

  /** 16bpp BMPs: Pillow's BGR;15/BGR;16 unpackers expand each 5/6-bit
    * sample with TRUNCATING integer math — `v * 255 / 31` (green:
    * `/ 63` at 565) — while the JDK's USHORT_555/565 getRGB
    * scale-ROUNDS: 5-bit 16 reads back 132 where PIL gives 131, a
    * systematic ±1 on roughly half the sample values (probed; Pillow
    * Unpack.c ImagingUnpackBGR15/BGR16). The decoded raster carries the
    * raw 5/6-bit samples (probed: TYPE_USHORT_*_RGB band samples), so
    * truncating expansion restores parity. 16bpp BMPs carry no alpha in
    * PIL (the unpackers set A = 255). */
  private def bmp16Expand(img: BufferedImage, is565: Boolean): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val raster = img.getRaster
    val gMax = if (is565) 63 else 31
    val dst = new Array[Int](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = raster.getSample(x, y, 0) * 255 / 31
        val g = raster.getSample(x, y, 1) * 255 / gMax
        val b = raster.getSample(x, y, 2) * 255 / 31
        dst(x) = (r << 16) | (g << 8) | b
        x += 1
      }
      out.setRGB(0, y, w, 1, dst, 0, w)
      y += 1
    }
    out
  }

  /** 16-bit truecolor PNGs (color types 2 and 6 at depth 16): Pillow's
    * ;16B unpackers keep each sample's HIGH byte — the same convention
    * as its I;16 → L gray conversion — while Java2D's getRGB
    * scale-rounds 16→8: sample 0x01FF reads back 2 where PIL gives 1, a
    * systematic ±1 on every channel (probed). The raster carries the
    * full 16-bit samples, so high-byte extraction restores parity; a
    * type-6 alpha band (also high-byte) then composites over white with
    * the standard Pillow paste arithmetic. */
  private def rgb16HighBytes(img: BufferedImage): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val raster = img.getRaster
    val hasAlpha = raster.getNumBands >= 4
    val dst = new Array[Int](w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = raster.getSample(x, y, 0) >> 8
        val g = raster.getSample(x, y, 1) >> 8
        val b = raster.getSample(x, y, 2) >> 8
        dst(x) =
          if (!hasAlpha) (r << 16) | (g << 8) | b
          else {
            val a = raster.getSample(x, y, 3) >> 8
            val inv = 255 - a
            ((mulDiv255(r, a) + inv) << 16) |
              ((mulDiv255(g, a) + inv) << 8) | (mulDiv255(b, a) + inv)
          }
        x += 1
      }
      out.setRGB(0, y, w, 1, dst, 0, w)
      y += 1
    }
    out
  }

  /** Mode "LA"/"L"/"1" → convert("RGB"): raw L replicated, alpha (if
    * any) ignored. Depth handling mirrors Pillow's unpackers exactly:
    * 8-bit samples pass through; 16-bit shifts down 8 (Pillow's
    * I;16 → L converter); 1/2/4-bit gray PNGs decode to an
    * IndexColorModel whose raster samples are palette INDICES — the
    * gray-ramp LUT ImageIO builds for them (0/255, ×0x55, ×0x11 —
    * probed empirically, literal table reads, no color management) is
    * the same scaling Pillow's 1/L;2/L;4 unpackers apply, so the LUT
    * red channel IS the PIL gray value. Reading the raw index instead
    * turned a 1-bit white pixel into RGB(1,1,1) — caught by the
    * round-11 review. */
  private def grayDropAlpha(img: BufferedImage): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val r = img.getRaster
    val lut = img.getColorModel match {
      case icm: java.awt.image.IndexColorModel =>
        val t = new Array[Int](icm.getMapSize)
        var i = 0
        while (i < t.length) { t(i) = icm.getRed(i); i += 1 }
        t
      case _ => null
    }
    val shift = math.max(0, r.getSampleModel.getSampleSize(0) - 8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = r.getSample(x, y, 0)
        val g = if (lut != null) lut(s) else s >> shift
        out.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Mode "L"+tRNS → convert("RGBA") then paste on white: raw L with
    * Pillow's paste rounding, fg·a/255 + 255·(255−a)/255. */
  private def grayCompositeWhite(img: BufferedImage): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val r = img.getRaster
    val nb = r.getNumBands
    val shift = math.max(0, r.getSampleModel.getSampleSize(0) - 8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = r.getSample(x, y, 0) >> shift
        val a = if (nb > 1) r.getSample(x, y, nb - 1) >> shift else 255
        val v = mulDiv255(g, a) + (255 - a) // white term is exact
        out.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Mode "RGB"+tRNS: the transparency key is ignored — keep raw RGB. */
  private def stripAlpha(img: BufferedImage): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB(x, y) & 0xffffff)
        x += 1
      }
      y += 1
    }
    out
  }

  /** R5 (appV2.py:20-27): force RGB, compositing any alpha over white
    * with Pillow's paste arithmetic — per channel,
    * `out = MULDIV255(fg, a) + (255 − a)` (the white term
    * 255·(255−a)/255 is exact, so only the foreground product rounds,
    * and it rounds exactly as libImaging does). The former Java2D
    * `drawImage` SRC_OVER was retired here (round 11): its integer
    * rounding — and, for premultiplied sources, the un-premultiply
    * round-trip — can differ from Pillow by ±1 per channel at
    * a ∈ 1..254, a divergence the committed expectation digests would
    * have baked in silently. Covers RGBA PNGs (color type 6), palette
    * PNGs with 8-bit tRNS alpha (type 3 — `img.getRGB` applies the
    * palette lookup, PIL's convert("RGBA") equivalent), GIF binary
    * transparency, and decoded WebP-alpha stills.
    *
    * Alphaless GRAY rasters (grayscale JPEG/BMP — mode "L" to PIL)
    * take the raw-band-replication fast path instead: `getRGB` would
    * run Java2D's linear-gray→sRGB conversion (L=100 → 168) where
    * PIL's convert("RGB") replicates raw L. (Gray PNGs never reach
    * here — [[pilEnsureRgb]] routes them by color type.) */
  private[graft] def ensureRgbOnWhite(img: BufferedImage): BufferedImage = {
    val cm = img.getColorModel
    if (!cm.hasAlpha &&
        cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY)
      return grayDropAlpha(img)
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // non-premultiplied ARGB — PNG/GIF/BMP ImageIO color models and the
    // engine's own WebP surface are straight-alpha, so no precision is
    // lost un-premultiplying here
    val argb = img.getRGB(0, 0, w, h, null, 0, w)
    val dst = new Array[Int](w * h)
    var i = 0
    while (i < argb.length) {
      val p = argb(i)
      val a = p >>> 24
      if (a == 255) dst(i) = p & 0xffffff
      else {
        val inv = 255 - a
        val r = mulDiv255((p >> 16) & 0xff, a) + inv
        val g = mulDiv255((p >> 8) & 0xff, a) + inv
        val b = mulDiv255(p & 0xff, a) + inv
        dst(i) = (r << 16) | (g << 8) | b
      }
      i += 1
    }
    out.setRGB(0, 0, w, h, dst, 0, w)
    out
  }

  /** R6 (appV2.py:29-36): centered paste on a white max(w,h)² canvas —
    * the (s−w)//2 integer arithmetic matches the reference. */
  private[graft] def padSquare(img: BufferedImage): BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    if (w == h) return img
    val s = math.max(w, h)
    val out = new BufferedImage(s, s, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setColor(java.awt.Color.WHITE)
    g.fillRect(0, 0, s, s)
    g.drawImage(img, (s - w) / 2, (s - h) / 2, null)
    g.dispose()
    out
  }

  /** R7 (appV2.py:38-49): bicubic resize → /255 → CHW → RGB→BGR →
    * (x−0.5)/0.5. Returns the flat CHW float tensor (batch dim implicit —
    * Spark's row-per-image IS the batch axis). */
  /** PIL-parity decompression-bomb guard for the ImageIO formats
    * (png/jpg/bmp/gif): reads ONLY the header via the format's
    * ImageReader and rejects above 2 × PIL.Image.MAX_IMAGE_PIXELS =
    * 178,956,970 px — the same limit the engine's own VP8/VP8L decoders
    * enforce (images/Vp8.scala, images/WebP.scala), so a hostile header
    * in ANY supported format rides the error channel instead of buying
    * a multi-hundred-MB executor allocation. */
  private[graft] def readGuarded(bytes: Array[Byte]): BufferedImage = {
    // PIL parity: decode ignores any embedded ICC profile (see
    // stripJpegIcc — Sun's reader would color-convert through it)
    val clean = stripJpegIcc(bytes)
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(clean))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext)
        throw new IllegalArgumentException("undecodable image bytes")
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        // BMP BI_BITFIELDS masks outside Pillow's accepted set: PIL
        // raises "Unsupported BMP bitfields layout" at open where the
        // JDK decodes ANY mask triple generically (probed: 4/4/4 masks
        // decode here, raise there) — an accept/reject divergence, so
        // the refusal is pinned with PIL's own message. Scope: 16bpp
        // (both accepted layouts are named in bmp16Mode), 24bpp (PIL
        // accepts only ff0000/ff00/ff) and — since r14, closing the
        // r13 COVERAGE scope gap — 32bpp against the full SUPPORTED[32]
        // set, whose six accepted layouts decode through the engine's
        // own byte-pick raster reader (bmp32Decode) instead of the
        // JDK's unpinned arbitrary-mask path. The refusal fires ONLY
        // when the mask DWORDs are actually PRESENT (ADVICE r12): a
        // file truncated before the masks gets Pillow's truncated-file
        // error class, not the layout refusal — it falls through to
        // the generic decoder-error path here too.
        //
        // RLE8/RLE4 streams that END before covering the pixel area
        // (EOF or early end-of-bitmap) refuse with Pillow's
        // "not enough image data" (VERDICT r13 #4): the JDK zero-fills
        // the remainder and decodes — resolved to the reference's
        // error channel via the pre-decode coverage walk.
        //
        // This whole block runs BEFORE the reader's getWidth/getHeight:
        // the JDK refuses to parse a zero-mask BITFIELDS header at all
        // ("There must be at least one component with > 0 pixel bits",
        // probed r14) while Pillow accepts it as BGRX, so the override
        // class can never touch the JDK header path; bmp32Decode does
        // its own bomb check on the header dims.
        val bmpOverride: Option[BufferedImage] = bmpHeader(bytes) match {
          case Some((16, 3, Some(m)))
              if m != ((0xf800L, 0x7e0L, 0x1fL)) &&
                m != ((0x7c00L, 0x3e0L, 0x1fL)) =>
            throw new IllegalArgumentException("Unsupported BMP bitfields layout")
          case Some((24, 3, Some(m))) if m != ((0xff0000L, 0xff00L, 0xffL)) =>
            throw new IllegalArgumentException("Unsupported BMP bitfields layout")
          case Some((32, 3, _)) =>
            bmpMasks4(bytes) match {
              case Some(m4) =>
                bmp32Layouts.get(m4) match {
                  case Some(layout) => Some(bmp32Decode(bytes, layout))
                  case None => throw new IllegalArgumentException(
                    "Unsupported BMP bitfields layout")
                }
              case None => None
            }
          case Some((8, 1, _)) | Some((4, 2, _)) =>
            if (rleCoverageShort(bytes))
              throw new IllegalArgumentException("not enough image data")
            None
          case _ => None
        }
        if (bmpOverride.isDefined) return bmpOverride.get
        val (w, h) = (reader.getWidth(0).toLong, reader.getHeight(0).toLong)
        if (w * h > 178956970L)
          throw new IllegalArgumentException(
            s"decompression bomb: ${w}x$h exceeds the 178.9 Mpx limit")
        // GIF: the reader's getWidth/getHeight above are the FRAME's, so
        // a small frame on a huge logical screen must be bomb-checked on
        // the SCREEN (the canvas the PIL-parity expansion allocates)
        val gifFacts = gifScreenAndFirstFrame(bytes)
        gifFacts.foreach { case (sw, sh, _, _, _, _, _) =>
          if (sw.toLong * sh > 178956970L)
            throw new IllegalArgumentException(
              s"decompression bomb: logical screen ${sw}x$sh exceeds the " +
                "178.9 Mpx limit")
        }
        jpegSofAndAdobe(bytes) match {
          // arithmetic entropy coding: the JDK cannot decode what
          // Pillow's libjpeg-turbo can — refuse EXPLICITLY (stable,
          // greppable message) instead of the incidental ImageIO
          // error; the known accept/reject divergence vs the reference
          // (appV2.py:167 tags such a file) is recorded in COVERAGE.md
          case Some((_, _, sof)) if isArithmeticSof(sof) =>
            throw new IllegalArgumentException(
              f"arithmetic-coded JPEG (SOF${sof - 0xc0}%d): unsupported " +
                "entropy coding — known divergence, the reference " +
                "(Pillow/libjpeg-turbo) decodes this class")
          // 4-component JPEG (PIL mode "CMYK"): ImageIO.read() would
          // return a 4-band TYPE_CUSTOM image with meaningless getRGB —
          // decode the raw raster through Pillow's exact chain instead
          case Some((4, transform, _)) => decodeCmykJpeg(reader, transform)
          case _ =>
            val img = reader.read(0)
            gifFacts match {
              case Some((sw, sh, fx, fy, fw, fh, fill))
                  if fx != 0 || fy != 0 || fw != sw || fh != sh =>
                expandGifToScreen(img, sw, sh, fx, fy, fill)
              case _ => img
            }
        }
      } catch {
        // ImageIO.read's own contract: decoder RuntimeExceptions surface
        // as IIOException(e.toString()) — keep the status messages (and
        // the committed expectation digests) byte-identical to it. The
        // bomb rejection above passes through un-wrapped by rethrow.
        case bomb: IllegalArgumentException
            if Option(bomb.getMessage).exists(m =>
              m.startsWith("decompression bomb") ||
                m.startsWith("arithmetic-coded JPEG") ||
                m.startsWith("Unsupported BMP bitfields") ||
                m.startsWith("not enough image data")) =>
          throw bomb
        case e: RuntimeException =>
          throw new javax.imageio.IIOException(e.toString, e)
      } finally reader.dispose()
    } finally iis.close()
  }

  def preprocess(bytes: Array[Byte], targetSize: Int = 448): Array[Float] = {
    val decoded = readGuarded(bytes)
    if (decoded == null) throw new IllegalArgumentException("undecodable image bytes")
    val squared = padSquare(pilEnsureRgb(bytes, decoded))
    // PIL-parity resize (appV2.py:41 image.resize(target, BICUBIC)):
    // graft.images.PilResample — antialiased scaled-support bicubic,
    // PIL's own fixed-point arithmetic. Java2D's BICUBIC hint samples a
    // fixed 4x4 neighborhood regardless of ratio and ALIASES on real
    // photo downscales — a systematic tensor divergence, not noise.
    val s = squared.getWidth
    val srcPix = squared.getRGB(0, 0, s, s, null, 0, s)
    val resizedPix = graft.images.PilResample.resizeRgb(
      srcPix, s, s, targetSize, targetSize)
    val n = targetSize * targetSize
    val out = new Array[Float](3 * n)
    var idx = 0
    while (idx < n) {
      val rgb = resizedPix(idx)
      val r = ((rgb >> 16) & 0xff) / 255.0f
      val gg = ((rgb >> 8) & 0xff) / 255.0f
      val b = (rgb & 0xff) / 255.0f
      // channel order BGR (appV2.py:44), normalize (x-0.5)/0.5
      out(idx) = b * 2f - 1f
      out(n + idx) = gg * 2f - 1f
      out(2 * n + idx) = r * 2f - 1f
      idx += 1
    }
    out
  }

  /** R8 — the pluggable black-box scoring boundary (appV2.py:146-158). */
  trait Scorer extends Serializable {
    def nTags: Int
    def score(tensor: Array[Float]): Array[Float]
  }

  /** Deterministic stand-in for the unavailable ONNX model: logits from
    * strided pixel samples through a fixed per-tag projection. Stable
    * across runs/partitions, so golden tests pin the full pipeline. */
  final case class FixtureScorer(nTags: Int) extends Scorer {
    def score(t: Array[Float]): Array[Float] = {
      val out = new Array[Float](nTags)
      val stride = math.max(1, t.length / 64)
      var j = 0
      while (j < nTags) {
        var acc = 0.0
        var i = 0
        var k = 1
        while (i < t.length) {
          acc += t(i) * math.sin(j + 1.0 + k * 0.1)
          i += stride
          k += 1
        }
        out(j) = (2.0 * math.tanh(acc / 8.0)).toFloat
        j += 1
      }
      out
    }
  }

  /** R8 for real — ONNX Runtime-backed `Scorer` mirroring the
    * reference's session semantics (appV2.py:146-158): ONE session per
    * scorer instance (created lazily executor-side, so each partition
    * reuses it — the Spark dual of the reference's session-per-run),
    * ordered execution-provider preference with silent fallback
    * (appV2.py:147 `['DmlExecutionProvider','CPUExecutionProvider']`;
    * the JVM binding has no DirectML, so the chain is CUDA→CPU), and
    * input/output names INTROSPECTED from the model rather than
    * hardcoded (appV2.py:156-157 `get_inputs()[0].name`).
    *
    * The onnxruntime jar cannot ship in this build (no new deps), so
    * the binding is resolved by REFLECTION at first use: the library
    * compiles and tests without it, and a deployment that drops
    * `ai.onnxruntime` on the executor classpath gets the real model
    * path with zero code changes. Absence fails fast per-row with a
    * clear status (row-level isolation turns it into the error
    * channel, exactly like an undecodable image). The session boundary
    * is the injectable `SessionLike`, so OnnxScorerSpec exercises the
    * full adapter against a stub session. */
  final class OnnxScorer(val nTags: Int,
                         sessionFactory: () => OnnxScorer.SessionLike)
      extends Scorer {
    // lazy + transient: the factory serializes to executors, the native
    // session never does; first score() on a partition builds it once
    @transient private lazy val session: OnnxScorer.SessionLike = sessionFactory()
    def score(tensor: Array[Float]): Array[Float] = {
      val side = math.sqrt(tensor.length / 3.0).toInt
      require(3 * side * side == tensor.length,
        s"expected a square CHW tensor, got ${tensor.length} floats")
      // batch dim explicit on the wire ([1,3,S,S]) — row-per-image IS
      // the batch axis, as in preprocess()
      val logits = session.run(tensor, Array(1L, 3L, side.toLong, side.toLong))
      require(logits.length == nTags,
        s"model emitted ${logits.length} logits; vocabulary expects $nTags")
      logits
    }
  }

  object OnnxScorer {
    /** The session seam: everything below it is ONNX Runtime, everything
      * above is testable. `run` feeds one [1,3,S,S] CHW tensor and
      * returns the first (only) output row's logits. */
    trait SessionLike extends Serializable {
      def run(chw: Array[Float], shape: Array[Long]): Array[Float]
    }

    /** Production entry: reflection-bound ONNX Runtime session over a
      * model file. `preferGpu` tries the accelerated provider first and
      * falls back to CPU, mirroring appV2.py:147-151. */
    def fromModel(modelPath: String, nTags: Int, preferGpu: Boolean = true): OnnxScorer =
      new OnnxScorer(nTags, () => new ReflectiveSession(modelPath, preferGpu))

    /** Test seam: same adapter, relocated runtime package. OnnxScorerSpec
      * points this at the compile-checked `ai.onnxruntime` API stubs on
      * the test classpath (exercising every reflected member against real
      * class files) and at an absent package (exercising the fail-fast
      * missing-runtime path without having to hide the stubs). */
    private[graft] def fromModelInPackage(modelPath: String, nTags: Int,
        preferGpu: Boolean, pkg: String): OnnxScorer =
      new OnnxScorer(nTags, () => new ReflectiveSession(modelPath, preferGpu, pkg))

    private final class ReflectiveSession(modelPath: String, preferGpu: Boolean,
        pkg: String = "ai.onnxruntime")
        extends SessionLike {
      // all resolution happens once per instance (= once per executor
      // partition chain); score() calls then pay only invoke cost — the
      // tensor class and the three hot-path Methods are resolved here
      // too, so run() does NO Class.forName/getMethod per image row
      private final case class Bound(env: AnyRef, session: AnyRef,
          inputName: String, outputName: String,
          createTensor: java.lang.reflect.Method,
          sessionRun: java.lang.reflect.Method,
          tensorClose: java.lang.reflect.Method,
          resultGet: java.lang.reflect.Method,
          resultClose: java.lang.reflect.Method,
          onnxValueGet: java.lang.reflect.Method)
      // resolve through the CONTEXT classloader first: on Spark executors
      // user jars (--jars / spark.jars — the way a real onnxruntime
      // lands) live in a child classloader that the context CL sees but
      // this class's own defining loader does NOT; caller-loader
      // Class.forName would miss them. Falls back to the defining loader
      // (plain JVM callers with the jar on the app classpath).
      private def loadClass(name: String): Class[_] = {
        val ctx = Thread.currentThread().getContextClassLoader
        if (ctx == null) Class.forName(name)
        else
          try Class.forName(name, true, ctx)
          catch { case _: ClassNotFoundException => Class.forName(name) }
      }

      @transient private lazy val bound: Bound =
        try {
          val envCls = loadClass(s"$pkg.OrtEnvironment")
          val env = envCls.getMethod("getEnvironment").invoke(null)
          val optCls = loadClass(s"$pkg.OrtSession$$SessionOptions")
          val opts = optCls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
          if (preferGpu) {
            // provider preference with fallback: a missing/broken CUDA
            // EP leaves the default (CPU) providers in place
            try optCls.getMethod("addCUDA").invoke(opts)
            catch { case _: Throwable => () }
          }
          val session = envCls
            .getMethod("createSession", classOf[String], optCls)
            .invoke(env, modelPath, opts)
          def firstName(getter: String): String = {
            val names = session.getClass.getMethod(getter).invoke(session)
              .asInstanceOf[java.util.Set[String]]
            val it = names.iterator()
            require(it.hasNext, s"model declares no names via $getter")
            it.next()
          }
          val tensorCls = loadClass(s"$pkg.OnnxTensor")
          // Result/OnnxValue methods resolve HERE too — run() must pay
          // only invoke cost per image row, no getMethod lookups
          val resultCls = loadClass(s"$pkg.OrtSession$$Result")
          val valueCls = loadClass(s"$pkg.OnnxValue")
          Bound(env, session,
            firstName("getInputNames"), firstName("getOutputNames"),
            tensorCls.getMethod("createTensor", envCls,
              classOf[java.nio.FloatBuffer], classOf[Array[Long]]),
            session.getClass.getMethod("run", classOf[java.util.Map[_, _]]),
            tensorCls.getMethod("close"),
            resultCls.getMethod("get", classOf[String]),
            resultCls.getMethod("close"),
            valueCls.getMethod("getValue"))
        } catch {
          case e: ClassNotFoundException =>
            throw new IllegalStateException(
              "onnxruntime not on classpath: add ai.onnxruntime (onnxruntime-java) " +
                "to the executor classpath to use OnnxScorer", e)
          case e: java.lang.reflect.InvocationTargetException =>
            // surface the runtime's own error (bad model path, init
            // failure), not the reflection wrapper — the row-level error
            // channel records this message verbatim
            throw new IllegalStateException(
              s"onnx session construction failed: ${e.getCause}", e.getCause)
        }

      def run(chw: Array[Float], shape: Array[Long]): Array[Float] = {
        val b = bound
        val tensor = b.createTensor
          .invoke(null, b.env, java.nio.FloatBuffer.wrap(chw), shape)
        try {
          val result = b.sessionRun
            .invoke(b.session, java.util.Collections.singletonMap(b.inputName, tensor))
          try {
            val value = b.resultGet.invoke(result, b.outputName)
              .asInstanceOf[java.util.Optional[AnyRef]]
            val onnxValue = value.orElseThrow(() =>
              new IllegalStateException(s"model produced no output '${b.outputName}'"))
            b.onnxValueGet.invoke(onnxValue) match {
              case rows: Array[Array[Float]] => rows(0) // [1, nTags] → row 0
              case flat: Array[Float]        => flat
              case other => throw new IllegalStateException(
                s"unexpected ONNX output shape: ${other.getClass}")
            }
          } finally b.resultClose.invoke(result)
        } finally b.tensorClose.invoke(tensor)
      }
    }
  }

  /** Decode + preprocess + score with per-partition scorer reuse and
    * row-level error isolation. Output:
    * (path STRING, logits ARRAY<FLOAT> nullable, status STRING). */
  def scoreImages(images: DataFrame, scorer: Scorer, targetSize: Int = 448): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    mapScored(images, scorer, targetSize)((path, logits, status) => (path, logits, status))
      .toDF("path", "logits", "status")
  }

  /** The one scoring map: every (path, content, read_error) row goes
    * through decode → preprocess → score, then `emit` turns (path,
    * logits, status) into the output row — logits is null exactly when
    * status is not "ok". One scorer per partition — mirror of the
    * one-session-per-run amortization in the reference (appV2.py:149). */
  private def mapScored[T: org.apache.spark.sql.Encoder](
      images: DataFrame, scorer: Scorer, targetSize: Int)(
      emit: (String, Array[Float], String) => T): org.apache.spark.sql.Dataset[T] = {
    val spark = images.sparkSession
    import spark.implicits._
    // sources without the read-error channel (hand-built frames in
    // tests, older connectors) still score — the column is optional
    val withErr =
      if (images.columns.contains("read_error")) images
      else images.withColumn("read_error", lit(null).cast("string"))
    withErr.select(col("path"), col("content"), col("read_error"))
      .as[(String, Array[Byte], String)]
      .mapPartitions { iter =>
        val s = scorer
        iter.map {
          // a failed READ rides the same per-row channel as a failed
          // decode (appV2.py:165-185): status row, null logits, job lives
          case (path, _, readErr) if readErr != null => emit(path, null, readErr)
          case (path, null, _) => emit(path, null, NullContent)
          case (path, bytes, _) =>
            Try(s.score(preprocess(bytes, targetSize))) match {
              case Success(logits) => emit(path, logits, "ok")
              case Failure(e) => emit(path, null,
                s"error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
            }
        }
      }
  }

  /** Kept for callers written against the cached form of [[tagImages]]:
    * tagImages now persists nothing, so there is nothing to release. */
  def releaseScored(spark: SparkSession): Unit = ()

  /** Full flagship chain EP2 (appV2.py:167-179) as ONE narrow map:
    * read → decode → score → tags → (path, status, tags), the reference's
    * per-image loop iteration (appV2.py:165-185). The vocab is collected
    * once on the driver and compiled into a [[Tagging.SelectionProgram]]
    * in REFERENCE mode; nothing is persisted, joined or shuffled after
    * the read.
    *
    * Failed rows keep their error status with a null tag string. A vocab
    * index at or past the scores' length (or below −length) fails every
    * scored row with numpy's IndexError text (appV2.py:79,92 — the
    * per-image try catches it), while decode failures keep their own,
    * earlier, message; a valid negative index wraps per row. */
  def tagImages(spark: SparkSession, dir: String, vocab: DataFrame, scorer: Scorer,
                recursive: Boolean = false,
                genThreshold: Double = 0.55, charThreshold: Double = 0.60): DataFrame = {
    import spark.implicits._
    val entries = Tagging.collectEntries(vocab)
    val program = Tagging.SelectionProgram(entries, genThreshold, charThreshold)
    mapScored(source(spark, dir, recursive), scorer, targetSize = 448) { (path, logits, status) =>
      if (logits == null) (path, status, null: String)
      else program.tags(UnsafeArrayData.fromPrimitiveArray(logits), floats = true) match {
        // the only way a scorer's (null-free) vector fails the program
        case null => (path, "error: " + Tagging.overrunError(entries, logits.length).get, null)
        case tags => (path, status, tags)
      }
    }.toDF("path", "status", "tags")
  }

  /** Status texts the error classes of [[withRunMetrics]] key on. */
  private val ReadFailed = "error: read failed: "
  private val NullContent = "error: null content"

  /** R17 run metrics (appV2.py:162-163,186-190): success/failed counters
    * attached via df.observe — computed DURING the same action that
    * processes the images, no second pass. Read `obs.get` after any
    * action on the returned frame. Failures are also counted by class,
    * from the status text: `n_read_failed` (the source could not read
    * the bytes), `n_overrun_failed` (the vocab overruns the scores,
    * numpy's IndexError) and `n_decode_failed` (every other failure —
    * decode, preprocess or scorer). */
  def withRunMetrics(tagged: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("tagger_run_metrics")
    val status = col("status")
    val isRead = status.startsWith(ReadFailed) || status === NullContent
    val isOverrun = status.rlike("^error: index -?[0-9]+ is out of bounds for axis 0 with size [0-9]+$")
    // coalesce: sum() over an EMPTY directory is null, and the
    // end-of-run report would print "success: null" instead of 0
    def countOf(p: Column) = coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L))
    val observed = tagged.observe(obs,
      count(lit(1)).as("n_total"),
      countOf(status === "ok").as("n_ok"),
      countOf(status =!= "ok").as("n_failed"),
      countOf(isRead).as("n_read_failed"),
      countOf(isOverrun).as("n_overrun_failed"),
      countOf(status =!= "ok" && !isRead && !isOverrun).as("n_decode_failed"))
    (observed, obs)
  }

  /** R15 per-item side-car sink (appV2.py:178-179): one UTF-8 .txt next
    * to each image, written executor-side (no driver collect).
    *
    * Path handling mirrors os.path.splitext (appV2.py:178): the extension
    * is split on the file NAME only — a dot in a directory name plus an
    * extensionless file must not truncate the directory. binaryFile's
    * `path` column is a percent-encoded URI; java.net.URI decodes it so
    * images under paths with spaces land their side-cars at the real
    * location. Writes go through the Hadoop FileSystem API, so the sink
    * works against ANY scheme the source can read (file:, hdfs:, s3a:) —
    * java.nio would treat "hdfs://ns/a.png" as a relative local path and
    * fail the job AFTER scoring completed. */
  def writeSidecars(tagged: DataFrame): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      tagged.sparkSession.sparkContext.hadoopConfiguration)
    tagged.select(col("path"), col("tags")).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        // PRIVATE FileSystem instances per partition (newInstance skips
        // the JVM-wide cache): the reference writes exactly one .txt per
        // image, so checksum twins (.x.txt.crc) are suppressed — but
        // setWriteChecksum on the CACHED instance would silently disable
        // checksums for every other user of that filesystem in the JVM.
        // One instance per (scheme, authority), closed when done.
        val fss = scala.collection.mutable.HashMap
          .empty[String, org.apache.hadoop.fs.FileSystem]
        try {
          // a NULL tags value is a FAILED row (tagImages keeps error rows
          // with null tags): the reference writes no .txt for a failure
          // (appV2.py:178 opens the file only after get_tags succeeded) —
          // writing "" would also CLOBBER a good sidecar from a previous
          // successful run
          rows.filter(r => !r.isNullAt(1)).foreach { r =>
            val raw = r.getString(0)
            // binaryFile emits percent-encoded URIs (file:/a%20b) — decode
            // through java.net.URI; a scheme-LESS raw path may contain
            // literal spaces URI.parse rejects, so it goes straight to Path
            val imgPath =
              if (raw.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"))
                new org.apache.hadoop.fs.Path(new java.net.URI(raw))
              else new org.apache.hadoop.fs.Path(raw)
            val txt = Option(r.getString(1)).getOrElse("")
            val name = imgPath.getName
            val stem = name.lastIndexOf('.') match {
              // os.path.splitext: a leading-dot-only name (".bashrc") has
              // no extension
              case i if i > 0 => name.substring(0, i)
              case _          => name
            }
            val uri = imgPath.toUri
            val fs = fss.getOrElseUpdate(
              s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}", {
                val f = org.apache.hadoop.fs.FileSystem.newInstance(uri, conf.value)
                f.setWriteChecksum(false)
                f
              })
            val out = new org.apache.hadoop.fs.Path(imgPath.getParent, stem + ".txt")
            val os = fs.create(out, true)
            try os.write(txt.getBytes("UTF-8")) finally os.close()
          }
        } finally fss.values.foreach(f => try f.close() catch { case _: Exception => () })
    }
  }
}
