package graft.tagbench

import java.awt.{Color, GradientPaint, RenderingHints}
import java.awt.geom.Ellipse2D
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Seeded photo tree for `tag_photos`: mostly JPEG photos whose long side
  * spans 300–1500 px (so the resize ratio to 448 varies), some PNGs (half
  * with alpha), and a known share of truncated or non-image files, spread
  * over a nested directory tree. The same seed writes the same bytes.
  *
  * Usage: GenPhotos <seed> <outDir>. Writes the tree under outDir/tree and
  * a manifest (outDir/photos.json) listing every file with its kind and
  * pixel size; the benchmark reads the manifest for its output checks. */
object GenPhotos {
  val Files_ = 40
  val Corrupt = 2 // 5%: one truncated JPEG, one non-image

  final case class Item(rel: String, kind: String, w: Int, h: Int, bytes: Long)

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val out = Paths.get(args(1))
    val items = generate(seed, out.resolve("tree"))
    Files.writeString(out.resolve("photos.json"), manifest(seed, items))
  }

  def generate(seed: Long, root: Path): Seq[Item] = {
    val rnd = new java.util.SplittableRandom(seed)
    // stratified long sides: every seed draws one size per stratum, so the
    // corpus pixel total (the work) is nearly the same for every seed
    val longSides = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0 until Files_).map(i => 300 + ((i + rnd.nextDouble()) * 1200 / Files_).toInt))
    val aspects = Seq(4.0 / 3, 3.0 / 2, 1.0, 16.0 / 9, 5.0 / 4)
    def file(i: Int, r: java.util.SplittableRandom): Item = {
      val dir = s"set${i % 4}/" + (if (i % 3 == 0) "" else s"batch${i % 5}/") +
        (if (i % 7 == 0) "deep/" else "")
      val long = longSides(i)
      val aspect = aspects(r.nextInt(aspects.size))
      val portrait = r.nextBoolean()
      val short = math.max(16, (long / aspect).toInt)
      val (w, h) = if (portrait) (short, long) else (long, short)
      val kind =
        if (i < Corrupt) (if (i % 2 == 0) "truncated" else "not_image")
        else if (i % 8 == 1) "png_alpha"
        else if (i % 8 == 5) "png"
        else "jpeg"
      val ext = if (kind.startsWith("png") || kind == "not_image" && i % 4 == 1) "png" else "jpg"
      val rel = f"$dir%simg_$i%04d.$ext%s"
      val bytes = kind match {
        case "jpeg"      => jpeg(paint(r, w, h, alpha = false))
        case "png"       => png(paint(r, w, h, alpha = false, noise = false))
        case "png_alpha" => png(paint(r, w, h, alpha = true, noise = false))
        // header and first scan bytes only: the decoder fails, no sidecar
        case "truncated" => jpeg(paint(r, w, h, alpha = false)).take(600)
        case _ =>
          val b = new Array[Byte](2048 + r.nextInt(4096)); var k = 0
          while (k < b.length) { b(k) = r.nextInt(256).toByte; k += 1 }
          b
      }
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      Item(rel, kind, w, h, bytes.length.toLong)
    }
    // one generator per file, split in file order, so files can be painted
    // and encoded in parallel and still get the same bytes for the same seed
    val rngs = (0 until Files_).map(_ => rnd.split())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try {
      val tasks = (0 until Files_).map(i => pool.submit(() => file(i, rngs(i))))
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** Photo-like content: a gradient sky, overlapping soft shapes and, for
    * photos, per-pixel sensor noise so the JPEG decoder does realistic
    * work. PNGs stay noise-free, like the illustrations PNG usually holds. */
  private def paint(r: java.util.SplittableRandom, w: Int, h: Int, alpha: Boolean,
                    noise: Boolean = true): BufferedImage = {
    val img = new BufferedImage(w, h,
      if (alpha) BufferedImage.TYPE_INT_ARGB else BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_ANTIALIASING, RenderingHints.VALUE_ANTIALIAS_ON)
    def color(a: Int = 255) = new Color(r.nextInt(256), r.nextInt(256), r.nextInt(256), a)
    g.setPaint(new GradientPaint(0, 0, color(), w.toFloat, h.toFloat, color()))
    g.fillRect(0, 0, w, h)
    for (_ <- 0 until 24) {
      g.setColor(color(if (alpha) r.nextInt(256) else 255))
      g.fill(new Ellipse2D.Double(r.nextInt(w) - w / 6.0, r.nextInt(h) - h / 6.0,
        w * (0.05 + r.nextDouble() * 0.4), h * (0.05 + r.nextDouble() * 0.4)))
    }
    g.dispose()
    val row = new Array[Int](w)
    var y = if (noise) 0 else h
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        val n = r.nextInt(17) - 8
        def ch(s: Int) = math.max(0, math.min(255, ((p >> s) & 0xff) + n)) << s
        row(x) = (p & 0xff000000) | ch(16) | ch(8) | ch(0)
        x += 1
      }
      img.setRGB(0, y, w, 1, row, 0, w)
      y += 1
    }
    img
  }

  private def jpeg(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.88f)
      writer.write(null, new IIOImage(img, null, null), p)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def manifest(seed: Long, items: Seq[Item]): String = {
    val ok = items.filter(i => !Set("truncated", "not_image")(i.kind))
    val longs = ok.map(i => math.max(i.w, i.h)).sorted
    Workloads.toJson(Map(
      "seed" -> seed,
      "files" -> items.size,
      "corrupt" -> (items.size - ok.size),
      "formats" -> items.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "long_side_px" -> Map("min" -> longs.head, "median" -> longs(longs.size / 2),
        "max" -> longs.last),
      "source_pixels" -> ok.map(i => i.w.toLong * i.h).sum,
      "bytes" -> items.map(_.bytes).sum,
      "items" -> items.map(i => Map("path" -> i.rel, "kind" -> i.kind,
        "w" -> i.w, "h" -> i.h))))
  }
}
