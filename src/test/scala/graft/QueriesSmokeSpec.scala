package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Every declared query must build and execute on sf0.001 — a fast
  * regression net under `sbt test` (the oracle hash gate runs via
  * Verify + tools/verify_local.py).
  *
  * The execution sweep doubles as the RUNTIME job/stage budget
  * (ADVICE r11 watch item). PlanSweepSpec's repeated-subtree check is
  * static: it assumes Spark's exchange reuse engages at runtime, and
  * ops/Components.scala documents an observed shape where AQE's reuse
  * did NOT. Counting the jobs and EXECUTED stages each query actually
  * runs (skipped stages fire no completion event), and pinning them
  * against committed budgets in fixtures/job_budgets.txt, catches the
  * class at runtime: exchange reuse silently disengaging, a convergence
  * loop gaining rounds, an accidental extra action — anything that
  * makes a query run more Spark work than the day its budget was
  * recorded. Since r12 each budget line also pins SHUFFLE-WRITE BYTES
  * (format: `name jobs stages bytes`) with a 25%+64KB tolerance band —
  * the stage count can stay flat while a broadcast silently falls back
  * to sort-merge; the write volume is what grows. The counts come from
  * [[QueryMetrics]] (attribution by job group, attempt-0 executed
  * stages). Budgets are tied to the test config (local[4],
  * shuffle.partitions=4, sf0.001); after a deliberate plan change,
  * regenerate with
  * `GRAFT_REGEN_JOB_BUDGETS=1 sbt "testOnly graft.QueriesSmokeSpec"`.
  *
  * Job/stage tolerance (VERDICT r14 #1): AQE occasionally materializes
  * one extra stage per query run-to-run (observed as q_er_resolve
  * 18↔19 jobs — the gate flipped red/green across machine windows on a
  * byte-identical tree, r14 opened AND closed on opposite sides of it).
  * The gate therefore bands counts: +1 job / +2 executed stages over
  * budget pass (one AQE rematerialization is 1 job and 1-2 stages); a
  * real regression — an extra action per loop round, a disengaged
  * exchange reuse, a convergence loop gaining rounds — adds counts per
  * ROUND or per CONSUMER, blowing well past the band. Regeneration
  * takes max(observed, committed) per column so a lucky fast run can
  * never re-tighten a budget below a previously observed legitimate
  * run (ADVICE r14 #1), and it FAILS, naming the rows, when a count is
  * over its committed value by more than the gate's band: only in-band
  * variance may raise a budget silently, so regenerating cannot absorb
  * a regression. Set GRAFT_REGEN_JOB_BUDGETS=fresh to write the
  * observed counts exactly, after a deliberate plan change. */
class QueriesSmokeSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val budgetPath = Paths.get("fixtures/job_budgets.txt")

  /** Shuffle-byte tolerance: exact counts are NOT reproducible the way
    * job/stage counts are (lz4 block boundaries, AQE coalesce grouping,
    * map-side spill timing all move a few percent), so the gate flags
    * only growth past band — generous enough for codec noise, far
    * below the 2×+ a broadcast→sort-merge fallback or a lost partial
    * aggregation produces. */
  private def shuffleBytesOver(actual: Long, budget: Long): Boolean =
    actual > budget + (budget / 4) + 65536L

  // registered at construction so every test (and a filtered testOnly -z
  // run) records counts; closed in afterAll — the session is shared
  // per-JVM, so a listener left behind would accumulate one copy per
  // suite instantiation and double-count repeated runs (ADVICE r11)
  private val metrics = QueryMetrics.register(spark.sparkContext)

  override protected def afterAll(): Unit = {
    metrics.close()
    super.afterAll()
  }

  private def readBudgets(): Map[String, (Int, Int, Long)] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.lines(budgetPath).iterator).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(n, j, s, b) = line.split(" ")
        n -> ((j.toInt, s.toInt, b.toLong))
      }.toMap

  /** The gate: why `actual` (jobs, executed stages, shuffle-write bytes)
    * is over `budget` by more than its band, or None. +1 job / +2 stages
    * is the AQE rematerialization variance band (see class scaladoc);
    * real regressions scale with rounds or consumers and blow past it. */
  private def overBudget(n: String, actual: (Int, Int, Long),
                         budget: (Int, Int, Long)): Option[String] = {
    val ((j, s, b), (bj, bs, bb)) = (actual, budget)
    if (j > bj + 1 || s > bs + 2)
      Some(s"$n: jobs $j (budget $bj + 1), executed stages $s (budget $bs + 2)")
    else if (shuffleBytesOver(b, bb))
      Some(s"$n: shuffle-write $b bytes (budget $bb + 25% band) — a " +
        "broadcast fell back to shuffle, a partial agg disengaged, or " +
        "the exchange got wider")
    else None
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  test("the runtime stage counter sees repeated execution (not vacuously green)") {
    import org.apache.spark.sql.functions.{col, sum}
    def base() = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("v"))
    metrics.measure("selftest-once") { base().count() }
    // two separate actions re-plan from scratch: the scan + shuffle map
    // stage executes twice, and the counter must see it
    metrics.measure("selftest-twice") { val b = base(); b.count(); b.count() }
    val (once, twice) =
      (metrics.stages("selftest-once").size, metrics.stages("selftest-twice").size)
    assert(once > 0, "no stages recorded for a shuffling query")
    assert(twice > once,
      s"stage counter blind to repeated execution: once=$once twice=$twice")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name executes on sf0.001") {
      metrics.measure(name) { assert(fn(spark, sfDir).count() >= 0) }
    }
  }

  /** Second-SF budget coverage (VERDICT r12 #4): the sf0.001 budgets
    * pin a world where every dimension broadcasts and AQE coalesces to
    * minimum width — a broadcast→sort-merge flip or an AQE regime
    * change that only engages at 10× the data is invisible to them BY
    * CONSTRUCTION. The top-20 wall-time queries (BENCH_r12 ordering)
    * re-run at sf0.01 under the same listener, pinned as `sf0.01:name`
    * lines in the same budget file with the same 25%+64KB byte band. */
  private val sf01Dir = "/root/testdata/sf0.01"
  private val sf01Prefix = "sf0.01:"
  private val sf01Names: Seq[String] = Seq(
    "q_pagerank", "dedup_clusters", "q_er_resolve", "q_assoc_rules",
    "dedup_ngram_jaccard", "dedup_ngram_capped", "q_ntile_deciles",
    "sim_kmeans", "text_perplexity_buckets", "q2_min_cost_supplier",
    "q_er_gram_blocked", "q_edit_distance", "dedup_embedding_cosine",
    "dedup_source_matrix", "q21_sole_blame", "dedup_minhash_lsh",
    "q_salted_join", "q_model_lift", "q8_market_share", "q5_region_revenue")

  sf01Names.foreach { name =>
    test(s"query $name executes on sf0.01 (second-SF budget sweep)") {
      val fn = SparkEntry.queries(name)
      metrics.measure(sf01Prefix + name) { assert(fn(spark, sf01Dir).count() >= 0) }
    }
  }

  test("runtime job/stage/shuffle-byte costs stay within committed budgets") {
    // both sections: bare names are the sf0.001 full-registry sweep,
    // `sf0.01:`-prefixed names the second-SF top-20 sweep
    val names = SparkEntry.queries.keySet ++ sf01Names.map(sf01Prefix + _)
    val actual: Map[String, (Int, Int, Long)] = names.iterator.map { n =>
      n -> ((metrics.jobs(n), metrics.stages(n).size, metrics.shuffleWriteBytes(n)))
    }.toMap
    // a filtered run (testOnly -z) records nothing for skipped queries —
    // only judge what actually ran in this suite instance
    val ran = actual.filter(_._2._1 > 0)
    assume(ran.nonEmpty, "no budgeted query ran in this suite instance")
    // env OR system property: a persistent sbt server's forked-test env
    // is pinned at launch, but -D flags can be set per command
    // (`set Test/javaOptions += "-DGRAFT_REGEN_JOB_BUDGETS=1"`)
    val regenMode = sys.env.get("GRAFT_REGEN_JOB_BUDGETS")
      .orElse(sys.props.get("GRAFT_REGEN_JOB_BUDGETS"))
      .filter(v => v == "1" || v == "fresh")
    if (regenMode.isDefined) {
      assert(ran.size == names.size,
        s"budget regeneration needs a full-suite run; ran ${ran.size}/${names.size}")
      // default regen keeps committed values as a floor (max per column)
      // so scheduler-variance can't silently re-tighten a budget below a
      // previously observed run and re-arm the flake (ADVICE r14 #1), and
      // refuses growth past the gate's band, which would otherwise ratchet
      // a regression into the budget; `fresh` writes exact observed
      // counts for deliberate plan changes
      val floor: Map[String, (Int, Int, Long)] =
        if (regenMode.contains("fresh") || !Files.exists(budgetPath)) Map.empty
        else readBudgets().filter { case (n, _) => names.contains(n) }
      val over = ran.toSeq.sortBy(_._1).flatMap { case (n, a) =>
        floor.get(n).flatMap(overBudget(n, a, _))
      }
      assert(over.isEmpty,
        s"\n${over.size} queries grew past their committed budget's band; " +
          s"regeneration raises budgets only within the band — fix the " +
          s"regression, or regenerate with GRAFT_REGEN_JOB_BUDGETS=fresh " +
          s"if the growth is deliberate:\n${over.mkString("\n")}")
      val body = ran.toSeq.sortBy(_._1)
        .map { case (n, (j, s, b)) =>
          val (fj, fs, fb) = floor.getOrElse(n, (0, 0, 0L))
          s"$n ${j max fj} ${s max fs} ${b max fb}"
        }.mkString("", "\n", "\n")
      val tmp = Files.createTempFile(budgetPath.getParent, "job_budgets", ".tmp")
      Files.write(tmp, body.getBytes("UTF-8"))
      Files.move(tmp, budgetPath, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      info(s"wrote ${ran.size} budgets to $budgetPath")
    } else {
      assert(Files.exists(budgetPath),
        s"$budgetPath missing — regenerate with GRAFT_REGEN_JOB_BUDGETS=1")
      val budget = readBudgets()
      val stale = budget.keySet -- names
      assert(stale.isEmpty,
        s"budgets for queries no longer in the registry (regenerate): $stale")
      val missing = ran.keySet -- budget.keySet
      assert(missing.isEmpty,
        s"queries without a committed job budget (regenerate): $missing")
      val over = ran.toSeq.sortBy(_._1).flatMap { case (n, a) => overBudget(n, a, budget(n)) }
      assert(over.isEmpty,
        s"\n${over.size} queries ran more Spark work than their committed " +
          s"budget — a repeated subtree, a disengaged exchange reuse, a " +
          s"wider shuffle, or an extra action (regenerate only if " +
          s"deliberate):\n${over.mkString("\n")}")
    }
  }

  test("the shuffle-byte detector fires for real (not vacuously green)") {
    import org.apache.spark.sql.functions.{col, sum}
    // a shuffling query must RECORD bytes through the listener path...
    metrics.measure("selftest-bytes") {
      Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("v")).count()
    }
    val recorded = metrics.shuffleWriteBytes("selftest-bytes")
    assert(recorded > 0L,
      "listener recorded zero shuffle-write bytes for a shuffling query")
    // ...and the comparator must flag a broadcast→shuffle-scale jump
    // while tolerating codec/AQE noise inside the band
    assert(shuffleBytesOver(recorded * 2 + 200000L, recorded),
      "comparator blind to a 2x shuffle growth")
    assert(!shuffleBytesOver(recorded + recorded / 10, recorded),
      "comparator flags 10% codec noise — band too tight")
  }

  test("jobs run while a query is being built count toward that query") {
    import org.apache.spark.sql.functions.{col, sum}
    // the dedup/graph shape: an eager localCheckpoint while the DataFrame
    // is constructed runs a job before the caller's action does
    def build() = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("v"))
      .localCheckpoint()
    metrics.measure("selftest-build") { build() }
    metrics.measure("selftest-build-run") { build().count() }
    val (built, run) = (metrics.jobs("selftest-build"), metrics.jobs("selftest-build-run"))
    assert(built > 0 && metrics.stages("selftest-build").nonEmpty,
      "the checkpoint job run during construction was not attributed")
    assert(run > built, s"the action after construction was not counted: $built vs $run")
  }

  test("plan hygiene: no query plans an un-broadcast CartesianProduct") {
    // a CartesianProduct (as opposed to a BroadcastNestedLoopJoin with a
    // deliberately broadcast small side) means a full n×m shuffle-less
    // cross product — never acceptable at scale; any intentional cross
    // join in the engine must broadcast() its small side
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.sparkPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"queries with CartesianProduct: $offenders")
  }
}
