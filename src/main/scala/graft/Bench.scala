package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. `runMain graft.Bench --explain [names…]` instead
  * prints `explain("formatted")` for the named queries (all of them when
  * none are named) and times nothing: the per-operator plan audit
  * (shuffles, pushed filters, read schemas, codegen spans). The session
  * is `GraftSession.builder`'s; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides
  * its shuffle partition count for the scale legs. Methodology (VERDICT
  * r1 item 9, hardened r5):
  *  - a per-query warmup pass immediately before its timed runs, so
  *    JVM/codegen warmup isn't billed to the measurement;
  *  - the timed action is a `noop`-format write, which materializes every
  *    output column (a bare `.count()` lets Catalyst prune all projection
  *    work for scan-shaped queries);
  *  - the reported number is the MEDIAN of three timed passes — a single
  *    pass let one noisy co-tenant forge a 3-14× "regression" (or hide a
  *    real one) in two successive round artifacts (VERDICT r4); the
  *    per-query MIN is stamped alongside (`queries_min`) because a
  *    co-tenant burst shorter than the whole query window inflates the
  *    median but rarely all three passes — a query whose median ≫ min
  *    is contention-suspect even when every calibration checkpoint
  *    around it read clean (observed in r7: a burst fit entirely inside
  *    one query's three passes between two flat checkpoints);
  *  - every timed pass is counted by [[SparkCounts]]: the Spark jobs,
  *    stages and tasks it ran and the MB it read and shuffle-wrote. The
  *    counts of the pass whose time the median reports go to
  *    `queries_counts`, so a slower query with unchanged counts reads as
  *    sitting noise and a changed count shows the work that moved. The
  *    clock runs inside the counted block; the listener-bus drains that
  *    make the counts exact stay outside the timed region;
  *  - failures are never swallowed: a throwing query is reported in a
  *    `failures` map, its timing omitted, and the process exits nonzero —
  *    a broken query previously recorded a tiny wall time and read as a
  *    speedup;
  *  - the artifact self-diagnoses contention (VERDICT r6 item 1): a fixed
  *    calibration query is re-timed at a CHECKPOINT every ten queries and
  *    after the last one. Its cost is data-size-fixed, so the checkpoint
  *    series should be flat; co-tenant load during ANY stretch of the
  *    suite (the failure mode median-of-3 cannot defend against — it
  *    inflated three of six round artifacts 3-8×) skews the probes
  *    bracketing that stretch. The JSON carries the full series
  *    (`"calibration":[...]`) and `"contended":true` when max/min exceeds
  *    2.5×, so a forged number can never silently drive a verdict. An
  *    endpoint-only before/after pair (the first r7 design) missed a
  *    10-minute mid-run contamination whose window closed before the
  *    final probe, and its pre-suite probe false-flagged idle runs
  *    (young-JVM noise survives even two warmup passes); the first
  *    checkpoint therefore runs only after ten real queries have warmed
  *    the JVM.
  *  - the artifact SELF-REMEDIATES (r8 verdict item 1): detection alone
  *    still burned a judge re-run every contended round, because the
  *    flagged artifact carried unusable numbers. After the suite (and its
  *    closing checkpoint), any query that is contention-suspect — its
  *    median exceeds 2.5× its min, or the two calibration probes
  *    bracketing its stretch disagree by >2.5× — is re-timed once with
  *    the same warmup + median-of-passes methodology and stamped into
  *    `"queries_retimed"` alongside the originals (empty object when
  *    nothing was suspect), with `"total_retimed"` = the suite total
  *    using retimed values where present. The retime stretch is itself
  *    bracketed by calibration probes (appended to the same series), so
  *    a retime taken under STILL-ongoing load remains detectable via
  *    `contended` rather than silently trusted.
  */
object Bench {
  /** Fixed probe for the contention self-diagnosis checkpoints. q20
    * (top-k orders) is small, stable, and has been in every round
    * artifact since r1.
    */
  private val CalibrationQuery = "q20_topk_orders"

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query's timing: the median and min of its timed passes, and the
    * Spark work of the pass the median reports.
    */
  private final case class Timed(median: Double, min: Double, counts: SparkCounts)

  /** Times `query` (built afresh for every pass): a warm-up pass
    * immediately before the timed ones (a single global warm-up lets the
    * codegen cache evict earlier plans while later ones warm, re-billing
    * Janino compilation to the timed pass), then `passes` counted, timed
    * passes. The query's pins are dropped afterwards, never between its
    * own passes, which share them by design: accumulated pins slow every
    * later query's cache lookup, compete with execution memory, and let a
    * later query read an earlier one's cached subtree instead of
    * computing it.
    */
  private def time(spark: SparkSession, passes: Int)(query: => DataFrame): Timed = {
    run(query)
    val samples = (1 to passes).map { _ =>
      SparkCounts.of(spark) {
        val t0 = System.nanoTime()
        run(query)
        (System.nanoTime() - t0) / 1e9
      }
    }.sortBy(_._1)
    val (median, counts) = samples(samples.size / 2)
    spark.catalog.clearCache()
    Timed(median, samples.head._1, counts)
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of already-rendered values, in `kvs` order. */
  private def jobj(kvs: Iterable[(String, Any)]): String =
    kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** The `queries_counts` object (pure — unit-tested in BenchSpec): one
    * entry per query in `names` order that has counts; a failed query has
    * none.
    */
  private[graft] def countsJson(names: Seq[String], counts: Map[String, SparkCounts]): String =
    jobj(names.flatMap(n => counts.get(n).map { c =>
      n -> (s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""input_mb":${c.inputBytes / 1e6},"shuffle_write_mb":${c.shuffleWriteBytes / 1e6}}""")
    }))

  /** Contention-suspect selection for the self-remediation pass (pure —
    * unit-tested in BenchSpec). A query is suspect when
    *  - its median exceeds 2.5× its min by more than 0.05 s (a co-tenant
    *    burst inside its own timed passes), or
    *  - either calibration probe bracketing its stretch reads more than
    *    2.5× the series MINIMUM — the machine's demonstrated idle cost.
    *    Elevation-vs-series-min rather than adjacent-probe disagreement:
    *    the opening stretch has no left probe, and a burst spanning
    *    several checkpoints leaves adjacent probes agreeing with each
    *    other while both sit far above idle. A burst covering EVERY
    *    probe equally still defeats this — nothing in-process can tell a
    *    uniformly slow machine from a uniformly loaded one; `contended`
    *    stays the backstop for that case.
    *
    * @param probeAt probes.size at the instant each query STARTED — i.e.
    *   the index of the first probe taken after it finished; index−1 is
    *   the last probe before it started
    */
  private[graft] def suspectQueries(names: Seq[String],
      timings: Map[String, Double], minTimings: Map[String, Double],
      probeAt: Map[String, Int], probes: IndexedSeq[Double]): Seq[String] = {
    val probeMin = if (probes.nonEmpty) probes.min else 0.0
    def elevated(p: Double): Boolean = p > 2.5 * probeMin
    names.filter { n =>
      timings.contains(n) && {
        val med = timings(n)
        val mn = minTimings(n)
        val ownSpread = med > 2.5 * mn && med - mn > 0.05
        val bracket = probeAt.get(n).exists { at =>
          (at > 0 && elevated(probes(at - 1))) ||
            (at < probes.size && elevated(probes(at)))
        }
        ownSpread || bracket
      }
    }
  }

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The engine's session. SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the
    * cpus default — the scale-ladder knob: 32 reducers over a 100×-data
    * leg concentrate ~20M rows of agg hash state per task (spill regime,
    * measured in SCALE.md round 20); a real cluster's reducer count scales
    * with executors, so the big legs set this to what AQE would coalesce
    * FROM, not the local core count.
    */
  private def session(): SparkSession = {
    val builder = GraftSession.builder("graft-bench")
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").flatMap(_.trim.toIntOption).filter(_ >= 1)
      .foreach(n => builder.config("spark.sql.shuffle.partitions", n.toString))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => bench()
    case "--explain" :: names => explain(names)
    case other => sys.error(
      s"unknown arguments: ${other.mkString(" ")}; usage: graft.Bench [--explain [names…]]")
  }

  private def explain(only: Seq[String]): Unit = {
    val spark = session()
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  private def bench(): Unit = {
    val spark = session()
    // Optional subset (comma-separated names) for scale-curve runs and
    // single-query iteration; default remains the full suite.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_BENCH_RUNS=1 opts into single-pass timing for quick
    // iteration; the round artifact uses the median-of-3 default. Clamped
    // to >= 1 and parsed leniently so a typo'd value can't turn into an
    // empty sample list or kill the run before any query executes.
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.trim.toIntOption).getOrElse(3))

    // Calibration checkpoints: MIN of three timed probe passes. Min, not
    // median: the probe estimates the machine's steady-state cost of a
    // fixed plan, and min is the sample least touched by transient noise.
    // Sustained co-tenant load — the failure mode the series exists to
    // catch — inflates every sample including the min, so the >2.5×
    // spread test keeps its meaning. No probe runs before the suite: a
    // young-JVM measurement is unreliably slow even after warmup passes
    // (false contended flags on idle machines), and the checkpoint after
    // the first ten queries brackets the early stretch anyway.
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def checkpoint(): Unit =
      SparkEntry.queries.get(CalibrationQuery).foreach { q =>
        try {
          // first checkpoint pays q20's one-time codegen in a warmup pass
          // (the probe plan hasn't run yet — q20 the QUERY benches later)
          if (probes.isEmpty) run(q(spark, sfDir))
          probes += (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            run(q(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }.min
        } catch { case _: Throwable => () }
      }

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val minTimings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, SparkCounts]
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // probes.size when each query started = the index of the first probe
    // appended AFTER it finishes (checkpoints only run between queries),
    // and index-1 is the last probe before it — its contention bracket.
    val probeAt = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    names.zipWithIndex.foreach { case (name, i) =>
      try {
        probeAt(name) = probes.size
        val t = time(spark, passes)(SparkEntry.queries(name)(spark, sfDir))
        timings(name) = t.median
        minTimings(name) = t.min
        counts(name) = t.counts
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          failures(name) = msg
          System.err.println(s"[bench] FAILED $name — $msg")
      }
      // Short (filtered) suites would otherwise reach only the single
      // end-of-run checkpoint, where max/min spread is vacuously 1.0 and
      // `contended` can never trip — force a midpoint probe so even a
      // 2-query scale-curve run carries a real spread measurement.
      // Every-5 (was every-10 through r8): a burst that starts AND ends
      // between two probes is invisible to the bracket rule, and the r9
      // retime demo showed a 45 s burst slipping entirely inside one
      // 10-query gap — at ~0.25 s per probe the 98-query suite pays ~5 s
      // for double the bracket resolution. The FIRST probe still waits
      // for ten real queries (the r8 young-JVM rule): moving it to query
      // 5 produced a smoothly declining 0.243→0.079 s series on an IDLE
      // box — JIT warmup, not load — tripping `contended` falsely.
      val ckEvery = if (names.size < 10) math.max(1, names.size / 2) else 5
      val jvmWarmed = names.size < 10 || (i + 1) >= 10
      if (jvmWarmed && ((i + 1) % ckEvery == 0 || i == names.size - 1)) checkpoint()
    }

    // Self-remediation pass: re-time contention-suspect queries once the
    // suite (and whatever co-tenant burst it overlapped) has finished —
    // see [[suspectQueries]] for the selection rule.
    val suspects = suspectQueries(names, timings.toMap, minTimings.toMap,
      probeAt.toMap, probes.toIndexedSeq)
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val retimeFailures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (suspects.nonEmpty) {
      System.err.println(
        s"[bench] re-timing ${suspects.size} contention-suspect queries: ${suspects.mkString(", ")}")
      suspects.foreach { name =>
        try {
          retimed(name) = time(spark, passes)(SparkEntry.queries(name)(spark, sfDir)).median
        } catch {
          // a query that passed the main pass but fails during retime is
          // a real signal — record it, so a consumer can tell "not
          // suspect" from "retime failed" (total_retimed falls back to
          // the contention-suspect original timing for this query)
          case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            retimeFailures(name) = msg
            System.err.println(s"[bench] RETIME FAILED $name — $msg")
        }
      }
      // close the bracket around the retime stretch: a retime taken under
      // still-ongoing load shows up as probe spread, not as silent truth
      checkpoint()
    }

    // WARM-EXECUTION pass (VERDICT r14 item 8): the timed noop write
    // re-analyzes, re-optimizes, and re-compiles the plan on every
    // pass — for the wide readers (q23/q24: 53-column plans) that
    // per-run cost is ~2-3 s of data-size-independent work a
    // long-running deployment pays once, not per query. For every
    // query whose median exceeds 1 s, ALSO time execution on a REUSED
    // QueryExecution (build once, materialize once, then min of two
    // re-executions of the cached toRdd): what re-running the same
    // compiled plan costs. A lower bound on steady-state re-execution
    // (shuffle outputs may be reused across the re-runs); the cold
    // number above stays the honest fresh-run anchor.
    val warmTimings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // coverage (VERDICT r15 item 7): every query over 1 s PLUS the 20
    // slowest overall, so the steady-state number exists for the whole
    // expensive tail (q24 was the second-slowest reader with no warm
    // number because it sat just under the old threshold's radar).
    // SPARK_GRAFT_WARM=0 skips the pass entirely — warm numbers are
    // ADVISORY (the anchor metric is the cold min), and at sf100 the
    // pass re-executes every data-sized gate ~3 more times, which is
    // what pushed the full protocol past its own 150-min abort.
    val warmEnabled =
      !sys.env.get("SPARK_GRAFT_WARM").exists(_.trim == "0")
    val slowest20 = names.filter(timings.contains)
      .sortBy(n => -timings(n)).take(20).toSet
    names.filter(n => warmEnabled &&
        (timings.get(n).exists(_ > 1.0) || slowest20.contains(n)))
      .foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.foreach(_ => ()) // compile + first materialization
        warmTimings(name) = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          qe.toRdd.foreach(_ => ())
          (System.nanoTime() - t0) / 1e9
        }.min
        spark.catalog.clearCache()
      } catch { case _: Throwable => () } // warm numbers are advisory
    }

    val fs = jobj(failures.view.mapValues(jstr))
    val rtf = jobj(retimeFailures.view.mapValues(jstr))
    val total = timings.values.sum
    val totalRetimed = timings.map { case (k, v) => retimed.getOrElse(k, v) }.sum
    // total_retimed falls back to the contention-suspect original timing
    // for any query whose retime failed — surface that as a boolean so a
    // consumer reading only the total knows whether it is fully clean
    // without cross-checking retime_failures
    val totalRetimedComplete = retimeFailures.isEmpty
    // 2.5× max/min spread across the checkpoint series flags contention:
    // the documented co-tenant contamination inflated 3-8×, while an
    // idle machine's warmed-JVM probe spread stays well under 2×.
    // A single-probe (or empty) series cannot measure spread: emit
    // explicit nulls so consumers can tell "clean" from "unmeasurable"
    // (a 1-query run's max/min is always 1.0 and would read as clean).
    val calJson = if (probes.size < 2) {
      s""","calibration":null,"contended":null"""
    } else {
      val contended = probes.max > 2.5 * probes.min
      if (contended)
        System.err.println(
          f"[bench] WARNING: calibration spread ${probes.min}%.3fs..${probes.max}%.3fs " +
            "(>2.5x); artifact timings are contention-suspect — prefer queries_retimed")
      s""","calibration":[${probes.mkString(",")}],"contended":$contended"""
    }
    val artifact = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jobj(timings)},"queries_min":${jobj(minTimings)},"queries_warm":${jobj(warmTimings)},"queries_counts":${countsJson(names, counts.toMap)},"queries_retimed":${jobj(retimed)},"retime_failures":$rtf,"total_retimed":$totalRetimed,"total_retimed_complete":$totalRetimedComplete,"failures":$fs$calJson,"sf":"$sfDir"}"""
    println(artifact)
    // ALSO write the artifact straight to a file: stdout passes through
    // sbt, which prefixes the line with "[info] " — every round's driver
    // artifact has parsed:null because of it, and the r11 local artifact
    // was unparseable for the same reason. The file is bare JSON.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").filter(_.nonEmpty).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), artifact + "\n")
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[bench] ${failures.size}/${names.size} queries FAILED")
      sys.exit(1)
    }
  }
}
