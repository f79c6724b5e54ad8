package graft

import org.apache.spark.sql.functions._

/** The reference tool's user surface (appV2.py main, EP1): point it at an
  * image folder, get one `.txt` tag side-car per image — but distributed.
  *
  * Usage:
  *   runMain graft.TagDirectory <imageDir> [--recursive] [--gen 0.55]
  *     [--char 0.60] [--vocab tag_mapping.json] [--tags N]
  *
  * The reference binds parameters interactively (appV2.py:107-129); a
  * batch engine takes them as arguments. Without --vocab a deterministic
  * synthetic vocabulary of N tags is used (no model weights ship in this
  * environment — README.md:10-12 — so scoring uses FixtureScorer; an
  * ONNX Runtime Scorer drops in via Images.Scorer without touching this
  * file's flow). Prints the reference's end-of-run metrics (success /
  * failed / total sec, appV2.py:186-190), computed via observe() during
  * the single pass, with the failures split by error class. Runs on
  * `local[SPARK_GRAFT_CPUS]`, all available cores when unset. */
object TagDirectory {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: TagDirectory <imageDir> [--recursive] " +
        "[--gen θ] [--char θ] [--vocab mapping.json] [--tags N]")
      sys.exit(2)
    }
    val dir = args(0)
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val recursive = args.contains("--recursive")
    val genT = opt("--gen").map(_.toDouble).getOrElse(0.55)
    val charT = opt("--char").map(_.toDouble).getOrElse(0.60)

    val spark = GraftSession.local(GraftSession.cpus, "graft-tag-directory")

    val vocab = opt("--vocab") match {
      case Some(path) => Vocab.fromJson(spark,
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
      case None => Tagging.syntheticVocab(spark, opt("--tags").map(_.toInt).getOrElse(32))
    }
    // the scorer must cover the vocabulary: with a loaded --vocab the
    // logit count defaults to maxTagIdx+1. An explicit --tags N smaller
    // than the vocab's max index now fails EVERY image with the
    // reference's IndexError (Tagging.overrunError parity) — loud and
    // faithful, where it used to skip the overrun entries silently
    val nTags = opt("--tags").map(_.toInt).getOrElse {
      if (opt("--vocab").isDefined) {
        val mx = vocab.agg(max(col("tag_idx"))).head
        // a mapping whose entries were ALL dropped (unrecognized
        // categories) or an empty object has no max — tell the user,
        // don't NPE on the null aggregate
        require(!mx.isNullAt(0),
          s"--vocab ${opt("--vocab").get} parsed to zero recognized entries")
        mx.getLong(0).toInt + 1
      } else 32
    }

    val t0 = System.nanoTime()
    val tagged = Images.tagImages(spark, dir, vocab,
      Images.FixtureScorer(nTags), recursive, genT, charT)
    val (observed, metrics) = Images.withRunMetrics(tagged)
    Images.writeSidecars(observed.filter(col("status") === "ok"))
    val sec = (System.nanoTime() - t0) / 1e9
    val m = metrics.get
    val n = m("n_total").asInstanceOf[Long]
    // end-of-run report, mirror of appV2.py:186-190
    println(f"=== done ===")
    println(f"total: $sec%.2f s (${if (n > 0) sec / n else 0.0}%.3f s/image)")
    println(s"success: ${m("n_ok")}, failed: ${m("n_failed")}" +
      s" (read: ${m("n_read_failed")}, decode: ${m("n_decode_failed")}," +
      s" vocab overrun: ${m("n_overrun_failed")})")
    spark.stop()
  }
}
