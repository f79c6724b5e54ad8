package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Regenerates the expectation fixtures that hash-check the binary-op
  * queries (img_tagger_e2e, mm_features, mm_thumbnails, mm_frame_sample
  * — ImageQueries). Their inputs are deterministic generated media, so
  * the correct output is a constant relation; materializing it once as
  * a single parquet file gives the driver's DuckDB oracle something to
  * replay (`SELECT * FROM read_parquet(...)`), upgrading these queries
  * from rows-only to full rows+schema+hash checks.
  *
  * The fixture is NOT self-fulfilling: the underlying kernels (decode,
  * pad, resize, PNG encode, frame sampling, tagging) are independently
  * pinned by ImagesSpec/MultimodalSpec/TaggingSpec golden tests, and
  * ExpectationsSpec fails the build if live output drifts from the
  * committed fixture, so regeneration is always a reviewed, deliberate
  * act (run `sbt "runMain graft.MakeExpectations"`, inspect the diff,
  * commit).
  */
object MakeExpectations {

  /** Committed location (absolute — the oracle SQL embeds it and the
    * driver may run DuckDB from any working directory). */
  val fixtureDir = "/root/repo/fixtures/expected"

  val queryNames: Seq[String] =
    Seq("img_tagger_e2e", "mm_features", "mm_thumbnails", "mm_frame_sample")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus, "graft-make-expectations")
    Files.createDirectories(Paths.get(fixtureDir))
    queryNames.foreach { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val tmp = Files.createTempDirectory(s"expect_$name").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS"))
        finally listing.close()
      require(part.length == 1, s"$name: expected 1 part file, got ${part.length}")
      val dest = Paths.get(s"$fixtureDir/$name.parquet")
      Files.move(Paths.get(part(0)), dest, StandardCopyOption.REPLACE_EXISTING)
      // row count from the WRITTEN file — `df.count()` here would re-run
      // the whole pipeline a second time just for the log line
      val rows = spark.read.parquet(dest.toString).count()
      println(s"[expectations] wrote $dest ($rows rows)")
    }
    spark.stop()
  }
}
