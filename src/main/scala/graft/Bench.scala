package graft

/** Benchmark entry point (driver contract): runs every declared query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE compact JSON line.
  *
  * The driver captures only the last ~2000 characters of stdout, so the line
  * must stay well under that or the trailing sbt epilogue pushes the JSON's
  * head out of the capture window (observed in rounds 1-2: `parsed: null`).
  * Therefore the stdout line carries the headline total plus a curated
  * per-query subset; the full per-query timing map is written to
  * `bench_full.json` (sf0.1, the committed snapshot) or
  * `bench_<sfdir>.json` / `$SPARK_GRAFT_BENCH_OUT` for other SFs, so an
  * iteration run can never clobber the committed snapshot.
  */
object Bench {
  /** Declared exact-correctness baselines (VERDICT r11 #2 / SCALE.md):
    * Ω(n²)-candidate reference implementations kept ONLY so the oracle can
    * pin the scale paths' exact semantics. Their sf3/sf1 ratios are measured
    * super-linear (dedup_ngram_jaccard 5.81×: Σdf² candidate growth;
    * dedup_embedding_cosine 5.52×: all-pairs), so counting them in the
    * headline total makes every future capture pay a known super-linear
    * constant that says nothing about the engine's scale posture. They are
    * still RUN and reported (per-query monitoring signal, `baselines` map +
    * `baseline_total`), just not summed into `value`; the benched scale
    * paths for the same semantics are dedup_ngram_capped / dedup_minhash_lsh
    * and dedup_embedding_blocked.
    */
  private val excludedBaselines: Set[String] =
    Set("dedup_ngram_jaccard", "dedup_embedding_cosine")

  /** Queries whose individual times appear in the stdout JSON line. Chosen to
    * cover each operator family plus the historically slowest entries.
    */
  private val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
    "q17_small_quantity", "dedup_exact_keepers", "dedup_minhash_lsh",
    "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_ngram_capped",
    "dedup_embedding_cosine", "dedup_embedding_blocked", "dedup_clusters",
    "sim_cosine_topk", "sim_ann_ivf", "tagger_pipeline",
    "tagger_throughput_500k", "text_quality_score", "pipeline_curate",
    "q_window_session", "q_asof_click_purchase", "q_salted_join",
    "q_exists_returns", "img_tagger_e2e", "dedup_incremental",
    "text_tfidf_top", "text_bigram_pmi", "text_chunking",
    "q_topk_per_group", "q_upsert_merge",
    "q_percentile_cont", "text_contamination", "q_sink_partitioned",
    "sim_knn_classify")

  // Locale.ROOT: a comma-decimal default locale would render 1,234 and
  // break the strict JSON parse this line exists for
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Single-thread md5 CPU probe — the identical 2M × update(50 B) loop
    * BENCH_DELTA_r11/r12 ran OUT-of-band to adjudicate capture drift
    * after the fact. Run INLINE (VERDICT r12 #1) so every capture
    * carries its own machine-speed evidence in the JSON it emits. */
  private def md5ProbeSec(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.fill[Byte](50)('x')
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** Committed acceptance band for the JVM probe (seconds). The
    * historical BENCH_DELTA probes were a PYTHON loop (r11 fast window
    * 0.245, r11 drifted 0.285, r12 close 0.303 — all adjudicated
    * comparable); the JVM loop runs ~1.5× faster on the same window
    * (calibrated r13: JVM 0.157–0.166 steady-state against Python
    * 0.235–0.265 back-to-back on one window), so the Python history
    * maps to JVM ≈ [0.16, 0.20]. The band brackets that with margin;
    * a probe outside it means another tenant is hammering the shared
    * VM (three rounds of post-hoc DRIFT verdicts, zero real
    * regressions — the false alarms this gate retires). */
  // The committed constants are calibrated to THIS shared VM's cores and
  // JDK MD5 intrinsics; on foreign hardware (or after a JDK bump) an
  // always-out-of-band probe would burn maxAttempts x 20s of sleep per
  // capture and then proceed stamped out-of-band anyway.
  // SPARK_GRAFT_PROBE_BAND=lo,hi overrides the band for such machines
  // (ADVICE r13); the band actually used is stamped into the JSON either
  // way, so every capture records what it was gated against.
  private val probeBand: (Double, Double) =
    sys.env.get("SPARK_GRAFT_PROBE_BAND") match {
      case Some(s) =>
        val p = s.split(",").map(_.trim.toDouble)
        require(p.length == 2 && p(0) < p(1),
          s"SPARK_GRAFT_PROBE_BAND must be 'lo,hi' with lo<hi, got: $s")
        (p(0), p(1))
      case None => (0.13, 0.22)
    }

  /** Probe until in-band or attempts exhausted: out-of-band windows
    * get a 20 s backoff and a re-probe instead of silently recording a
    * capture that the next round must adjudicate. Returns
    * (lastProbeSec, inBand, attempts). */
  private def probeGate(maxAttempts: Int = 6): (Double, Boolean, Int) = {
    md5ProbeSec() // discarded: the first loop pays MD5/JIT compilation
    var attempt = 1
    var p = md5ProbeSec()
    while ((p < probeBand._1 || p > probeBand._2) && attempt < maxAttempts) {
      System.err.println(f"[bench] probe $p%.3f s outside band " +
        f"[${probeBand._1}%.2f, ${probeBand._2}%.2f] — backing off 20 s " +
        s"(attempt $attempt/$maxAttempts)")
      Thread.sleep(20000)
      p = md5ProbeSec()
      attempt += 1
    }
    (p, p >= probeBand._1 && p <= probeBand._2, attempt)
  }

  /** Multi-thread probe: the md5 loop on 8 concurrent threads, wall
    * seconds for all to finish. The r14 close window showed 32-thread
    * query walls running 1.2–2× slow while BOTH existing instruments
    * passed — the md5 probe is single-thread (in-band) and
    * foreign_cpu_sec only counts busy jiffies; scheduler/frequency-level
    * slowdown is invisible to both (BENCH_DELTA_r14.md, controls
    * experiment). r14 stamped it; r15 GATES on it (VERDICT r14 #8):
    * stamped history reads 0.093–0.134 s across every clean capture
    * (r14 close 0.107/0.134, r14 driver 0.107/0.126, r15 open
    * 0.108/0.111 and 0.118/0.126), so the band accepts up to 2× the
    * slowest clean stamp — a window where 8 threads of pure CPU run 2×
    * slow is exactly the multi-core contention class the r14 close
    * demonstrated distorts query walls while both other gates pass. */
  private val mtProbeBand: (Double, Double) =
    sys.env.get("SPARK_GRAFT_MT_PROBE_BAND") match {
      case Some(s) =>
        val p = s.split(",").map(_.trim.toDouble)
        require(p.length == 2 && p(0) < p(1),
          s"SPARK_GRAFT_MT_PROBE_BAND must be 'lo,hi' with lo<hi, got: $s")
        (p(0), p(1))
      case None => (0.05, 0.27)
    }

  /** Gate twin of [[probeGate]] for the multi-thread probe: re-probe
    * with backoff until in-band or attempts exhausted. */
  private def mtProbeGate(maxAttempts: Int = 6): (Double, Boolean, Int) = {
    var attempt = 1
    var p = mtProbeSec()
    while ((p < mtProbeBand._1 || p > mtProbeBand._2) && attempt < maxAttempts) {
      System.err.println(f"[bench] mt8 probe $p%.3f s outside band " +
        f"[${mtProbeBand._1}%.2f, ${mtProbeBand._2}%.2f] — backing off 20 s " +
        s"(attempt $attempt/$maxAttempts)")
      Thread.sleep(20000)
      p = mtProbeSec()
      attempt += 1
    }
    (p, p >= mtProbeBand._1 && p <= mtProbeBand._2, attempt)
  }
  private def mtProbeSec(threads: Int = 8): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        val md = java.security.MessageDigest.getInstance("MD5")
        val buf = Array.fill[Byte](50)('x')
        var i = 0
        while (i < 1000000) { md.update(buf); i += 1 }
        md.digest(); ()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Foreign CPU seconds burned on this machine since [[markCpu]] —
    * system-wide busy jiffies minus THIS process's CPU time. The
    * single-thread md5 probe is BLIND to multi-core contention: another
    * tenant saturating cores leaves the probe fast while 32-thread
    * stages starve (observed r13 — two consecutive in-band captures
    * with DIFFERENT alphabetical blocks inflated 2-3×, machine idle
    * minutes later). A capture with foreign_cpu_sec comparable to its
    * own wall×cores is contended regardless of what the probe said. */
  private var cpuMark: (Long, Long) = (0L, 0L) // (systemBusyJiffies, procCpuNs)
  private def systemBusyJiffies(): Long = {
    val line = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next() // "cpu  user nice system idle iowait irq softirq steal ..."
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    f.sum - f(3) - f(4) // total minus idle minus iowait
  }
  private def procCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
  private def markCpu(): Unit = cpuMark = (systemBusyJiffies(), procCpuNs())
  private def foreignCpuSec(): Double =
    try {
      val busySec = (systemBusyJiffies() - cpuMark._1) / 100.0
      val oursSec = (procCpuNs() - cpuMark._2) / 1e9
      math.max(0.0, busySec - oursSec)
    } catch { case _: Throwable => -1.0 }

  /** One full timed pass over the registry plus its own adjudication
    * evidence: the md5 probe bracketing it and the foreign-CPU tally
    * over exactly the timed window. Re-runnable so the foreign-CPU
    * gate below can refuse a contended pass and capture again. */
  private final case class Capture(
      results: Seq[(String, Double)], failed: Seq[String],
      wallSec: Double, foreignCpu: Double,
      probePre: Double, probePreInBand: Boolean, probeAttempts: Int,
      probePost: Double, probeMtPre: Double, probeMtPost: Double,
      probeMtPreInBand: Boolean, probeMtAttempts: Int)

  /** One query's time: `run` three times, the MEDIAN wall seconds, or
    * the first failure. The first run absorbs that query's codegen/JIT
    * compilation (usually the max), and the median is robust to a
    * one-off shared-VM or GC hiccup in EITHER direction — a min can
    * flatter a genuinely slower plan off one lucky run, while a single
    * 32.5s-vs-6.0s spike (round-5 lesson) can't drag the median the way
    * it drags a mean. Rounds ≤8 reported min-of-2; cross-round deltas
    * normalize uniform shifts via tools/bench_delta.py --normalize.
    *
    * UNTIMED inter-rep hygiene (the System.gc() after each run): queries
    * that localCheckpoint internally leave their blocks in the block
    * manager until the driver GCs the RDD references and ContextCleaner
    * unpersists them. Left to accumulate, ~80 queries of dead blocks
    * turn into old-gen pressure that surfaces as multi-second GC pauses
    * *inside* some later query's timing. */
  def medianOf3(run: => Unit): Either[Throwable, Double] = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
    try {
      while (reps.size < 3) {
        val t0 = System.nanoTime()
        try { run; reps += (System.nanoTime() - t0) / 1e9 }
        finally System.gc()
      }
      Right(reps.sorted.apply(1))
    } catch { case e: Throwable => Left(e) }
  }

  def main(args: Array[String]): Unit = {
    // second CLI arg (dev loops from a persistent sbt shell): sfDir
    // override — the driver always uses the env form
    val sfDir = args.drop(1).headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = GraftSession.cpus
    // Foreign-CPU acceptance: a capture whose non-graft busy CPU exceeds
    // this fraction of wall x cores ran on a contended machine — refuse
    // it and re-capture, exactly as the probe band does for single-core
    // speed (VERDICT r13 #1: the stamp existed, the human still read it;
    // both r13 close rejections were hand-adjudicated).
    //
    // 1.5%, from the r14 three-point dose-response on one tree in one
    // session (BENCH_DELTA_r14.md): foreign 0.38% of wall x cores →
    // total 122.9 s (clean), 2.70% → 143.8 s (1.17x), 3.64% → 166.0 s
    // (1.35x). A co-tenant burning even ~1 of 32 cores costs far more
    // wall than its CPU share (frequency/LLC pressure), so the original
    // 5% accepted windows inflated 1.3x+. 1.5% sits 4x above the clean
    // capture's 0.38% daemon noise and well below the smallest window
    // measured to distort totals.
    val foreignFrac = sys.env.get("SPARK_GRAFT_FOREIGN_CPU_FRAC")
      .map(_.toDouble).getOrElse(0.015)
    val maxCaptures = sys.env.get("SPARK_GRAFT_CAPTURE_ATTEMPTS")
      .map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(cpus, "graft-bench")
    // warm the session (codegen/JIT, parquet footer + file-listing cache,
    // Dataset-encoder and checkpoint/observe machinery) so per-query
    // numbers measure plans, not first-job initialization — the
    // alphabetically-first query otherwise absorbs ~2s of it
    spark.range(1000000).selectExpr("sum(id)").collect()
    // page-cache warm: count() on parquet answers from row-group
    // metadata WITHOUT touching data pages, so the historical warmup
    // left the actual column bytes cold — the documented capture-drift
    // signature was the similarity/dedup family paying 2-4× cold reads
    // on run 1 whenever the capture followed a heavy oracle pass
    // (BENCH_DELTA_r11/r12 adjudications). These full-scan aggregates
    // pull every hot column through the OS page cache, untimed.
    Seq(Tables.lineitem _, Tables.documents _, Tables.embeddings _,
      Tables.orders _, Tables.events _, Tables.customer _,
      Tables.part _, Tables.supplier _)
      .foreach(t => t(spark, sfDir).selectExpr("sum(hash(*))").collect())
    locally {
      import spark.implicits._
      val tiny = Seq(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "x y z w v")
        .toDF("doc_id", "text")
      graft.ops.TextOps.jaccardPairsPrefix(tiny, "doc_id", "text", 3, 0.8).count()
      graft.ops.Components.connectedComponents(
        Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")).count()
    }
    // a curated headline name that drifts from the registry must fail
    // loudly HERE: byName.get below would silently drop it from the
    // stdout line and that family's monitoring signal would just vanish
    locally {
      val unknown = headline.filterNot(SparkEntry.queries.keySet.contains)
      require(unknown.isEmpty,
        s"headline names missing from the query registry: ${unknown.mkString(", ")}")
    }
    // SPARK_GRAFT_ONLY=a,b,c (or a first CLI arg, for dev loops driven
    // from a persistent sbt shell whose forked env is fixed at launch):
    // iterate on a subset without paying the full registry. Subset runs
    // NEVER write the committed snapshot names — see outName below.
    val only = args.headOption.filter(_.nonEmpty)
      .orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd subset name — or sfDir accidentally passed as the first
    // positional (subset comes first) — would silently filter the registry
    // to zero queries and exit 0 having measured nothing (ADVICE r14 #3);
    // a path is never a registry name, so this also catches the swap
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.keySet.contains)
      require(unknown.isEmpty,
        s"subset names missing from the query registry: ${unknown.mkString(", ")}")
    }

    // `last`: the final attempt always runs the suite, so the driver
    // always gets a result line; earlier attempts skip a suite whose
    // out-of-band 8-thread pre-probe already dooms it (see mtOk)
    def runCapture(last: Boolean): Capture = {
      // CPU-probe gate (VERDICT r12 #1): refuse to start on an
      // out-of-band machine window — re-probe with backoff until the
      // shared VM calms down, and stamp the probe into the JSON either
      // way so the capture self-adjudicates instead of burning the next
      // round's first act on post-hoc drift analysis.
      val (probePre, probePreInBand, probeAttempts) = probeGate()
      mtProbeSec() // discarded: thread-spawn + JIT warmup
      val (probeMtPre, probeMtPreInBand, mtAttempts) = mtProbeGate()
      if (!probeMtPreInBand && !last)
        return Capture(Nil, Nil, 0.0, 0.0, probePre, probePreInBand, probeAttempts,
          Double.NaN, probeMtPre, Double.NaN, probeMtPreInBand, mtAttempts)
      try markCpu() catch { case _: Throwable => () }
      val failed = scala.collection.mutable.ArrayBuffer.empty[String]
      val wallT0 = System.nanoTime()
      val results = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          val sec = medianOf3(fn(spark, sfDir).count())
          if (sec.isLeft) failed += name
          name -> sec.getOrElse(-1.0)
        }
      // total bench wall (includes all 3 reps + inter-rep GC) — reported
      // separately so "value" stays the sum of per-query medians
      val wallSec = (System.nanoTime() - wallT0) / 1e9
      // foreign CPU over EXACTLY the timed window (markCpu above), read
      // before the post-probe so the probe's own burn isn't counted
      val foreign = foreignCpuSec()
      // post-loop probe: a window that DRIFTED DURING the capture is as
      // adjudication-worthy as one that started bad
      val probePost = md5ProbeSec()
      val probeMtPost = mtProbeSec()
      Capture(results, failed.toSeq, wallSec, foreign,
        probePre, probePreInBand, probeAttempts, probePost,
        probeMtPre, probeMtPost, probeMtPreInBand, mtAttempts)
    }

    // Foreign-CPU gate (VERDICT r13 #1): the single-thread md5 probe is
    // blind to multi-core contention, so the acceptance decision the r13
    // close made BY HAND — "foreign_cpu_sec is hundreds, reject and
    // re-run" — runs here instead. Rejected passes are kept in the JSON
    // (wall + foreign CPU) so the capture still self-documents what it
    // refused and why.
    def foreignLimit(c: Capture): Double = foreignFrac * c.wallSec * cpus
    // mt-probe acceptance (VERDICT r14 #8, now gating): a capture whose
    // 8-thread probe ran out of band on EITHER side of the timed window
    // sat in multi-core contention the other two instruments are blind to
    def mtOk(c: Capture): Boolean = c.probeMtPreInBand &&
      c.probeMtPost >= mtProbeBand._1 && c.probeMtPost <= mtProbeBand._2
    /** Each failed instrument with its readings; None for a clean capture. */
    def contention(c: Capture): Option[String] = {
      val why = Seq(
        Option.when(c.foreignCpu > foreignLimit(c))(
          f"foreign_cpu_sec ${c.foreignCpu}%.1f exceeds limit " +
            f"${foreignLimit(c)}%.1f (= $foreignFrac x wall " +
            f"${c.wallSec}%.1f s x $cpus cores)"),
        Option.when(!mtOk(c))(
          f"mt8 probe ${c.probeMtPre}%.3f/${c.probeMtPost}%.3f s " +
            f"outside band [${mtProbeBand._1}%.2f, ${mtProbeBand._2}%.2f]")
      ).flatten
      Option.when(why.nonEmpty)(why.mkString("; "))
    }
    val rejected = scala.collection.mutable.ArrayBuffer.empty[Capture]
    var cap = runCapture(last = maxCaptures <= 1)
    var why = contention(cap)
    while (why.isDefined && rejected.size + 1 < maxCaptures) {
      // not the last attempt, so an out-of-band pre-probe skipped the suite
      val skipped = if (cap.probeMtPreInBand) "" else " (suite skipped)"
      System.err.println(s"[bench] ${why.get}$skipped — " +
        s"rejecting capture ${rejected.size + 1}/$maxCaptures, " +
        "backing off 30 s and re-capturing")
      rejected += cap
      Thread.sleep(30000)
      cap = runCapture(last = rejected.size + 1 >= maxCaptures)
      why = contention(cap)
    }
    // still over after maxCaptures passes: stamp it contended and route
    // the full map AWAY from the committed snapshot name (see outName)
    val contended = why.isDefined
    why.foreach(w => System.err.println(s"[bench] still contended after " +
      s"${rejected.size + 1} captures ($w) — stamping capture_contended " +
      "and writing the .contended snapshot"))

    val results = cap.results
    val failed = cap.failed
    val wallSec = cap.wallSec
    // a capture whose suite was skipped shows wall_sec 0
    val rejJson = rejected.map(r =>
      s"""{"wall_sec":${fmt(r.wallSec)},"foreign_cpu_sec":${fmt(r.foreignCpu)}}""")
      .mkString("[", ",", "]")
    val probeJson =
      s""""probe_pre_sec":${fmt(cap.probePre)},"probe_post_sec":${fmt(cap.probePost)},""" +
        s""""probe_band":[${fmt(probeBand._1)},${fmt(probeBand._2)}],""" +
        s""""probe_in_band":${cap.probePreInBand && cap.probePost >= probeBand._1 &&
          cap.probePost <= probeBand._2},"probe_attempts":${cap.probeAttempts},""" +
        s""""probe_mt8_pre_sec":${fmt(cap.probeMtPre)},""" +
        s""""probe_mt8_post_sec":${fmt(cap.probeMtPost)},""" +
        s""""probe_mt8_band":[${fmt(mtProbeBand._1)},${fmt(mtProbeBand._2)}],""" +
        s""""probe_mt8_in_band":${cap.probeMtPreInBand &&
          cap.probeMtPost >= mtProbeBand._1 && cap.probeMtPost <= mtProbeBand._2},""" +
        s""""probe_mt8_attempts":${cap.probeMtAttempts},""" +
        s""""foreign_cpu_sec":${fmt(cap.foreignCpu)},""" +
        s""""foreign_cpu_limit_sec":${fmt(foreignLimit(cap))},""" +
        s""""capture_contended":$contended,""" +
        s""""capture_attempts":${rejected.size + 1},""" +
        s""""rejected_captures":$rejJson"""
    // failures carry a -1.0 sentinel in the per-query map; summing them
    // would make the total SMALLER (read: better) the more queries crash
    val total = results
      .collect { case (k, v) if v >= 0 && !excludedBaselines(k) => v }.sum
    val baselineTotal = results
      .collect { case (k, v) if v >= 0 && excludedBaselines(k) => v }.sum
    val full = results.map { case (k, v) => s"\"$k\":${fmt(v)}" }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // gc_between_queries flags the round-4 methodology change: "total" is
    // the SUM of per-query times; the inter-query System.gc() pauses are
    // deliberately outside the timers (not comparable to round<=3 totals,
    // which let earlier queries' GC debt land in later queries' numbers)
    // `value` excludes the declared exact baselines (see excludedBaselines
    // scaladoc); they still appear in `queries` and their sum is reported
    // as `baseline_total` so the exclusion is visible in every capture
    val exc = excludedBaselines.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","agg":"median_of_3","wall_sec":${fmt(wallSec)},$probeJson,"n_queries":${results.size},"n_failed":${failed.size},"gc_between_queries":true,"excluded_baselines":$exc,"baseline_total":${fmt(baselineTotal)},"failed":$errs,"queries":$full,"sf":"$sfDir"}"""
    // the committed snapshot is the sf0.1 run; any other SF writes its own
    // file so an iteration run at sf0.01 (or the sf1 gate) can never
    // clobber it (SPARK_GRAFT_BENCH_OUT overrides explicitly)
    val outBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_only.json" // a subset map must never
      // overwrite a committed full snapshot (round-8 clobber lesson)
      else if (new java.io.File(sfDir).getName == "sf0.1") "bench_full.json"
      else s"bench_${new java.io.File(sfDir).getName}.json")
    // a contended capture must never clobber a clean committed snapshot:
    // it keeps its full map under a .contended suffix for forensics
    val outName = if (contended) outBase + ".contended" else outBase
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outName),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val byName = results.toMap
    val qs = headline.flatMap(n => byName.get(n).map(v => s"\"$n\":${fmt(v)}"))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","agg":"median_of_3","wall_sec":${fmt(wallSec)},$probeJson,"n_queries":${results.size},"n_failed":${failed.size},"gc_between_queries":true,"excluded_baselines":$exc,"baseline_total":${fmt(baselineTotal)},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
