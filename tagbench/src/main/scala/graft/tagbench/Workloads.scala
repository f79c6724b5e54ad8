package graft.tagbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.{Images, SparkEntry, Tagging, Vocab}
import graft.tagbench.Tracer.span
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** One timed pass: its wall time, the items it completed and, for
  * query_mix, each query's latency. */
final case class Pass(wallS: Double, items: Long, opLatencyS: Seq[(String, Double)] = Nil)

/** Operations checked and operations that failed their check. */
final case class Tally(attempted: Long, failed: Long) {
  def +(o: Tally): Tally = Tally(attempted + o.attempted, failed + o.failed)
}

/** A workload drives the engine's public library functions in a closed
  * loop with one client. `pass` is the timed region; everything else runs
  * outside it. */
trait Workload {
  /** One pass over the fixed input; `tr` is set only in the traced pass. */
  def pass(tr: Option[Tracer]): Pass
  /** Part of set-up: the same calls as a pass, on all or part of the input,
    * so the JIT and Spark's code generation are warm before the timed
    * passes. Returns the wall time of each warm-up pass. */
  def warmUp(): Seq[Double]
  /** Untimed, before every pass: restore the input state. */
  def reset(): Unit = ()
  /** Untimed, after every pass: check what the pass produced. */
  def check(p: Pass): Tally
  /** Untimed, after the timed passes: checks against an independent path. */
  def finalCheck(): Tally
  /** Traced run only: per-layer numbers from the traced pass and from one
    * isolated call per layer. Values of `spanMetrics` are span ids whose
    * self time the caller reports under the key. */
  def layers(tr: Tracer, rt: RuntimeListener): (Map[String, Any], Map[String, Int])
  /** Input properties recorded in the run's output. */
  def inputInfo: Map[String, Any]
  /** Deliberately corrupt one output after the timed passes (self-tests). */
  def injectFault(): Unit
}

object Workloads {
  val GenThreshold = 0.55
  val CharThreshold = 0.60

  def readString(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  def parseJson(p: Path): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(readString(p)).values.asInstanceOf[Map[String, Any]]

  /** Maps, sequences, options and scalars as JSON text. */
  def toJson(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  /** Order-insensitive digest: row count and the wrapped sum of a 64-bit
    * hash of each row's rendering. */
  def digest(rows: Iterator[String]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { s =>
      n += 1
      sum += (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 2) & 0xffffffffL)
    }
    s"$n:$sum"
  }

  /** Renders a result value stably: floating values to 10 significant
    * digits, so summation order inside an aggregate cannot flip a digest. */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.10g"
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def dirBytes(dir: Path, suffix: String = ""): (Long, Long) = {
    val files = Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def tagCount(tags: DataFrame): Long =
    tags.select(sum(when(col("tags") === "", 0).otherwise(size(split(col("tags"), ", ")))))
      .head.getLong(0)
}

/** Wraps a scorer and adds its time and call count to accumulators. */
final class TimingScorer(inner: Images.Scorer, ns: LongAccumulator, calls: LongAccumulator)
    extends Images.Scorer {
  def nTags: Int = inner.nTags
  def score(t: Array[Float]): Array[Float] = {
    val a = System.nanoTime()
    val out = inner.score(t)
    ns.add(System.nanoTime() - a)
    calls.add(1)
    out
  }
}

/** The reference's own job: tag a directory tree, one sidecar per image. */
final class TagPhotos(spark: SparkSession, input: Path) extends Workload {
  import Workloads._
  private val tree = input.resolve("tree")
  private val treeUri = tree.toUri.toString
  private val manifest = parseJson(input.resolve("photos.json"))
  private val items = manifest("items").asInstanceOf[List[Map[String, Any]]]
  private def isCorrupt(i: Map[String, Any]) = Set("truncated", "not_image")(i("kind").toString)
  private val okItems = items.filterNot(isCorrupt)
  private val vocabJson = readString(input.resolve("vocab.json"))
  private val entries = Vocab.parseJson(vocabJson)
  private val vocab = Vocab.fromJson(spark, vocabJson)
  private val nTags = (entries.map(_.tagIdx).max + 1).toInt
  private var lastFailed = -1L

  private def sidecar(rel: String): Path = tree.resolve(rel.substring(0, rel.lastIndexOf('.')) + ".txt")

  /** A fixed number of full passes: the first (cold) pass takes about five
    * times a warm one, the third is within ~15% of the timed passes. */
  val WarmPasses = 3
  def warmUp(): Seq[Double] = (0 until WarmPasses).map { _ => reset(); pass(None).wallS }

  /** The timing scorer's totals over the last traced pass. */
  private var scoreNs, scoreCalls: LongAccumulator = _

  def pass(tr: Option[Tracer]): Pass = {
    val scorer: Images.Scorer = tr match {
      case Some(_) =>
        scoreNs = spark.sparkContext.longAccumulator("score.ns")
        scoreCalls = spark.sparkContext.longAccumulator("score.calls")
        new TimingScorer(Images.FixtureScorer(nTags), scoreNs, scoreCalls)
      case None => Images.FixtureScorer(nTags)
    }
    val t0 = System.nanoTime()
    val tagged = span(tr, "Images.tagImages") {
      Images.tagImages(spark, treeUri, vocab, scorer, recursive = true, GenThreshold, CharThreshold)
    }
    val (observed, obs) = span(tr, "Images.withRunMetrics")(Images.withRunMetrics(tagged))
    span(tr, "Images.writeSidecars")(Images.writeSidecars(observed.filter(col("status") === "ok")))
    span(tr, "Images.releaseScored")(Images.releaseScored(spark))
    val wall = (System.nanoTime() - t0) / 1e9
    val m = obs.get
    lastFailed = m("n_failed").asInstanceOf[Long]
    Pass(wall, m("n_total").asInstanceOf[Long])
  }

  override def reset(): Unit = okItems.foreach(i => Files.deleteIfExists(sidecar(i("path").toString)))

  /** One sidecar per ok image, none per corrupt file, and the observed
    * failure count equal to the generator's corrupt count. */
  def check(p: Pass): Tally = {
    val missing = okItems.count(i => !Files.exists(sidecar(i("path").toString)))
    val stray = items.filter(isCorrupt).count(i => Files.exists(sidecar(i("path").toString)))
    val wrongFailed = math.abs(lastFailed - (items.size - okItems.size))
    val wrongTotal = math.abs(p.items - items.size)
    Tally(items.size, math.min(items.size, missing + stray + wrongFailed + wrongTotal))
  }

  private val sample = okItems.sortBy(_("path").toString).grouped(okItems.size / 8).map(_.head).take(8).toSeq

  /** The sidecar text of a fixed sample equals Tagging.pipelineLocal over
    * logits re-scored serially with Images.preprocess + FixtureScorer. */
  def finalCheck(): Tally = {
    import spark.implicits._
    val scorer = Images.FixtureScorer(nTags)
    val rescored = sample.map { i =>
      val rel = i("path").toString
      rel -> scorer.score(Images.preprocess(Files.readAllBytes(tree.resolve(rel))))
    }
    val expected = Tagging.pipelineLocal(rescored.toDF("path", "logits"), entries,
      GenThreshold, CharThreshold, idCol = "path").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val failed = sample.count { i =>
      val f = sidecar(i("path").toString)
      !Files.exists(f) || readString(f) != expected(i("path").toString)
    }
    Tally(sample.size, failed)
  }

  def injectFault(): Unit = Files.writeString(sidecar(sample.head("path").toString), "wrong, tags")

  def layers(tr: Tracer, rt: RuntimeListener): (Map[String, Any], Map[String, Int]) = {
    import spark.implicits._
    reset()
    val sc = spark.sparkContext
    val src = Images.source(spark, treeUri, recursive = true)
    val sourced = tr("Images.source") {
      src.agg(count(lit(1)), sum(coalesce(length(col("content")), lit(0)))).head
    }
    // Images.preprocess inside Spark tasks, timed call by call; the logits
    // feed the isolated select and sink calls below
    val preNs = sc.longAccumulator("preprocess.ns")
    val preOk = sc.longAccumulator("preprocess.images")
    val scorer = Images.FixtureScorer(nTags)
    val scored = tr("Images.preprocess") {
      val df = src.select(col("path"), col("content")).as[(String, Array[Byte])].mapPartitions { it =>
        it.flatMap { case (path, bytes) =>
          val a = System.nanoTime()
          val t = Try(Images.preprocess(bytes))
          preNs.add(System.nanoTime() - a)
          t.toOption.map { x => preOk.add(1); (path, scorer.score(x)) }
        }
      }.toDF("path", "logits").persist()
      df.count()
      df
    }
    val select = () => Tagging.pipeline(scored, vocab, GenThreshold, CharThreshold, idCol = "path")
    tr("Tagging.pipeline#isolated")(select().write.format("noop").mode("overwrite").save())
    val tags = select().persist()
    tags.count()
    tr("Images.writeSidecars#isolated") {
      Images.writeSidecars(tags.select(col("image_id").as("path"), col("tags")))
    }
    val (sinkFiles, sinkBytes) = dirBytes(tree, ".txt")
    val emitted = tagCount(tags)
    tags.unpersist(true); scored.unpersist(true)
    reset()
    val srcPixels = okItems.map(i => i("w").asInstanceOf[BigInt].toLong * i("h").asInstanceOf[BigInt].toLong).sum
    val kernel = kernelPass()
    (Map(
      "source.files" -> sourced.getLong(0),
      "source.bytes" -> sourced.getLong(1),
      "preprocess.s" -> preNs.value / 1e9,
      "preprocess.ms_per_image" -> preNs.value / 1e6 / math.max(1L, preOk.value),
      "preprocess.ns_per_src_pixel" -> preNs.value.toDouble / srcPixels,
      "preprocess.decode_ms" -> kernel(0),
      "preprocess.rgb_pad_ms" -> kernel(1),
      "preprocess.resize_ms" -> kernel(2),
      "score.s" -> scoreNs.value / 1e9,
      "score.calls" -> scoreCalls.value,
      "select.rows_exploded" -> okItems.size.toLong * nTags,
      "select.tags_emitted" -> emitted,
      "sink.files" -> sinkFiles,
      "sink.bytes" -> sinkBytes),
      Map("source.s" -> tr.last("Images.source").id,
        "select.s" -> tr.last("Tagging.pipeline#isolated").id,
        "sink.s" -> tr.last("Images.writeSidecars#isolated").id))
  }

  /** Single-thread kernel pass over the fixed sample, calling the stage
    * functions Images.preprocess composes; per stage, the mean over images
    * of the median of three repetitions, in ms. Stage 1 includes the
    * packed-pixel extraction that feeds the resize. */
  private def kernelPass(): Seq[Double] = {
    val perImage = sample.map { i =>
      val bytes = Files.readAllBytes(tree.resolve(i("path").toString))
      val reps = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val decoded = Images.readGuarded(bytes)
        val t1 = System.nanoTime()
        val squared = Images.padSquare(Images.pilEnsureRgb(bytes, decoded))
        val s = squared.getWidth
        val px = squared.getRGB(0, 0, s, s, null, 0, s)
        val t2 = System.nanoTime()
        graft.images.PilResample.resizeRgb(px, s, s, 448, 448)
        val t3 = System.nanoTime()
        Seq(t1 - t0, t2 - t1, t3 - t2)
      }
      (0 until 3).map(k => reps.map(_(k)).sorted.apply(1) / 1e6)
    }
    (0 until 3).map(k => perImage.map(_(k)).sum / perImage.size)
  }

  def inputInfo: Map[String, Any] = manifest - "items" + ("vocab_size" -> entries.size)
}

/** Re-select tags from stored model outputs under new thresholds. */
final class RetagLogits(spark: SparkSession, input: Path, work: Path) extends Workload {
  import Workloads._
  // re-running with new --gen/--char thresholds
  val Gen = 0.35
  val Char = 0.85
  val WarmPasses = 4
  private val logitsDir = input.resolve("logits").toString
  private val outDir = work.resolve("retag_out").toString
  private val info = parseJson(input.resolve("logits.json"))
  private val rows = info("rows").asInstanceOf[BigInt].toLong
  private val vocabJson = readString(input.resolve("vocab.json"))
  private val entries = Vocab.parseJson(vocabJson)
  private val vocab = Vocab.fromJson(spark, vocabJson)

  def pass(tr: Option[Tracer]): Pass = run(logitsDir, tr)

  /** A slice, then a fixed number of full passes: the fourth full pass is
    * within ~20% of the timed passes. */
  def warmUp(): Seq[Double] = run(s"$logitsDir/part-00000.parquet", None).wallS +:
    (0 until WarmPasses).map(_ => run(logitsDir, None).wallS)

  private def run(logits: String, tr: Option[Tracer]): Pass = {
    val t0 = System.nanoTime()
    val scores = span(tr, "logits.read")(spark.read.parquet(logits))
    val tags = span(tr, "Tagging.pipeline")(Tagging.pipeline(scores, vocab, Gen, Char, idCol = "path_id"))
    span(tr, "tags.write")(tags.write.mode("overwrite").parquet(outDir))
    Pass((System.nanoTime() - t0) / 1e9, rows)
  }

  private def tagDigest(df: DataFrame): String =
    digest(df.select(col("image_id"), col("tags")).collect().iterator.map(r => s"${r.getLong(0)}|${r.getString(1)}"))

  /** Tagging.pipelineLocal over the same stored logits: the independent path. */
  private lazy val expected =
    tagDigest(Tagging.pipelineLocal(spark.read.parquet(logitsDir), entries, Gen, Char, idCol = "path_id"))

  /** An order-insensitive digest of the written tags equals that of
    * Tagging.pipelineLocal; on a mismatch every differing row fails. */
  def check(p: Pass): Tally = {
    val got = spark.read.parquet(outDir)
    if (tagDigest(got) == expected) Tally(rows, 0)
    else {
      val want = Tagging.pipelineLocal(spark.read.parquet(logitsDir), entries, Gen, Char, idCol = "path_id")
        .select("image_id", "tags")
      val g = got.select("image_id", "tags")
      Tally(rows, math.min(rows, g.exceptAll(want).count() + want.exceptAll(g).count()))
    }
  }

  def finalCheck(): Tally = Tally(0, 0)

  def injectFault(): Unit = {
    val bad = spark.read.parquet(outDir).withColumn("tags",
      when(col("image_id") === 0, lit("wrong")).otherwise(col("tags"))).collect()
    import spark.implicits._
    bad.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("image_id", "tags")
      .write.mode("overwrite").parquet(outDir)
  }

  def layers(tr: Tracer, rt: RuntimeListener): (Map[String, Any], Map[String, Int]) = {
    // the selection cannot run without its read, so its time is the
    // read-and-select call minus the read-only call
    val select = () => Tagging.pipeline(spark.read.parquet(logitsDir), vocab, Gen, Char, idCol = "path_id")
    tr("logits.read#isolated") {
      spark.read.parquet(logitsDir).write.format("noop").mode("overwrite").save()
    }
    tr("Tagging.pipeline#isolated")(select().write.format("noop").mode("overwrite").save())
    val tags = select().persist()
    tags.count()
    val probeOut = work.resolve("retag_probe")
    tr("tags.write#isolated")(tags.write.mode("overwrite").parquet(probeOut.toString))
    val emitted = tagCount(tags)
    tags.unpersist(true)
    val secs = (name: String) => { val s = tr.last(name); (s.endNs - s.startNs) / 1e9 }
    (Map(
      "select.s" -> (secs("Tagging.pipeline#isolated") - secs("logits.read#isolated")),
      "select.rows_exploded" -> rows * entries.size,
      "select.tags_emitted" -> emitted,
      "tags_write.bytes" -> dirBytes(probeOut, ".parquet")._2),
      Map("logits_read.s" -> tr.last("logits.read#isolated").id,
        "tags_write.s" -> tr.last("tags.write#isolated").id))
  }

  def inputInfo: Map[String, Any] = info + ("vocab_size" -> entries.size) +
    ("gen_threshold" -> Gen) + ("char_threshold" -> Char)
}

/** A fixed list of `SparkEntry.queries`, each result fully consumed. */
final class QueryMix(spark: SparkSession, tables: Path, warm: Path, seed: Long, work: Path)
    extends Workload {
  import Workloads._
  val Names = Seq("q1_pricing_summary", "q3_top_revenue_orders", "q_salted_join",
    "q_window_session", "q_assoc_rules", "q_pagerank", "q_topk_per_group", "q_topk_agg",
    "sim_cosine_topk_agg", "sim_ann_ivf", "text_bigram_pmi", "dedup_minhash_lsh",
    "dedup_ngram_capped", "dedup_clusters")
  /** The seed sets only the query order. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Names)
  private val fns = SparkEntry.queries
  private val dir = tables.toString
  private val digests = scala.collection.mutable.Map.empty[String, List[String]]
  private val lastRows = scala.collection.mutable.Map.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]
  private var errors = 0L

  /** One pass over a fiftieth of the tables (the --warm directory): a cold
    * pass costs class loading and compilation far more than rows. The
    * first full pass after it still runs ~20% slower than the second; a
    * full warm-up pass instead cost ~12 s more per run than the run budget
    * allows. */
  def warmUp(): Seq[Double] = Seq(run(warm.toString, None).wallS)

  def pass(tr: Option[Tracer]): Pass = run(dir, tr)

  private def run(dir: String, tr: Option[Tracer]): Pass = {
    val t0 = System.nanoTime()
    val lat = order.map { name =>
      val q0 = System.nanoTime()
      Try(span(tr, s"query.$name") {
        val df = span(tr, s"query.$name.build")(fns(name)(spark, dir))
        (df.schema, span(tr, s"query.$name.exec")(df.collect()))
      }) match {
        case Success(_) if dir != this.dir => ()
        case Success((schema, rows)) =>
          digests(name) = digest(rows.iterator.map(render)) :: digests.getOrElse(name, Nil)
          lastRows(name) = (schema, rows)
        case Failure(e) =>
          errors += 1
          System.err.println(s"query $name failed: $e")
      }
      name -> (System.nanoTime() - q0) / 1e9
    }
    Pass((System.nanoTime() - t0) / 1e9, order.size, lat)
  }

  /** Each query ran and its digest equals its first pass's. */
  def check(p: Pass): Tally = {
    val unstable = Names.count(n => digests.get(n).exists(_.distinct.size > 1))
    val t = Tally(Names.size, errors + unstable)
    errors = 0
    Names.foreach(n => digests.get(n).foreach(d => digests(n) = List(d.last)))
    t
  }

  /** Writes each query's last result and its DuckDB oracle SQL for the
    * comparison the caller runs under tools/verify_local.py's rules. */
  def finalCheck(): Tally = {
    val out = work.resolve("query_out")
    lastRows.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), toJson(oracle))
    Tally(0, 0)
  }

  /** Drops a row of the first query with rows (q_assoc_rules has none on
    * these tables: its support threshold is absolute). */
  def injectFault(): Unit = {
    val name = order.find(n => lastRows.get(n).exists(_._2.nonEmpty)).get
    val (schema, rows) = lastRows(name)
    lastRows(name) = (schema, rows.drop(1))
  }

  def layers(tr: Tracer, rt: RuntimeListener): (Map[String, Any], Map[String, Int]) = {
    def groups(n: String) = Seq(s"query.$n.build", s"query.$n.exec").flatMap(rt.groups.get)
    val spanOf = (n: String, part: String) => tr.last(s"query.$n.$part")
    val secs = (s: Span) => (s.endNs - s.startNs) / 1e9
    val build = Names.map(n => secs(spanOf(n, "build"))).sum
    val exec = Names.map(n => secs(spanOf(n, "exec"))).sum
    (Names.flatMap { n =>
      Seq(s"query.$n.jobs" -> groups(n).map(_.jobs).sum,
        s"query.$n.shuffle_bytes" -> groups(n).map(_.shuffleWrite).sum)
    }.toMap + ("query.build_share" -> build / (build + exec)),
      Names.flatMap { n =>
        Seq(s"query.$n.build_s" -> spanOf(n, "build").id, s"query.$n.exec_s" -> spanOf(n, "exec").id)
      }.toMap)
  }

  def inputInfo: Map[String, Any] = Map("queries" -> order)
}
