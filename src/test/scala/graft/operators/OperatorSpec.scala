package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Seeded pseudo-property tests for the consolidation operators (D1, G1,
  * P2/P4/P6). Deterministic seeds, many random cases per law.
  */
class OperatorSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  // ------------------------------------------------------- KeepLastDedup

  private def randomRows(n: Int): Seq[(Integer, Int, Int, String)] =
    (0 until n).map { i =>
      val key: Integer = if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(8))
      (key, rnd.nextInt(5), i, s"p$i")
    }

  test("D1: kept side has exactly one row per key (null keys form one group)") {
    val df = randomRows(300).toDF("k", "ord", "tie", "payload")
    val (kept, _) = KeepLastDedup(df, Seq("k"), Seq(col("ord"), col("tie")))
    val nKeys = df.select("k").distinct().count() // distinct counts null once
    assert(kept.count() === nKeys)
    assert(kept.groupBy("k").count().filter(col("count") > 1).count() === 0)
  }

  test("D1: kept + dups partition the input exactly") {
    val df = randomRows(300).toDF("k", "ord", "tie", "payload")
    val (kept, dups) = KeepLastDedup(df, Seq("k"), Seq(col("ord"), col("tie")))
    assert(kept.count() + dups.count() === df.count())
    // multiset equality via payload (unique per row)
    val union = kept.select("payload").union(dups.select("payload"))
    assert(union.distinct().count() === df.count())
  }

  test("D1: kept row maximizes the ordering tuple within its key") {
    val df = randomRows(300).toDF("k", "ord", "tie", "payload")
    val (kept, _) = KeepLastDedup(df, Seq("k"), Seq(col("ord"), col("tie")))
    val maxes = df.groupBy("k").agg(max(struct(col("ord"), col("tie"))).as("m"))
    val joined = kept.join(maxes, kept("k") <=> maxes("k"))
      .filter(struct(kept("ord"), kept("tie")) =!= col("m"))
    assert(joined.count() === 0)
  }

  test("D1: null ordering value wins — pandas ascending-nulls-last keep-last parity") {
    val df = Seq(
      ("k", Integer.valueOf(1), "low"),
      ("k", Integer.valueOf(2), "high"),
      ("k", null.asInstanceOf[Integer], "nullrow")).toDF("k", "ord", "tag")
    val (kept, dups) = KeepLastDedup(df, Seq("k"), Seq(col("ord")))
    assert(kept.select("tag").as[String].collect().toSeq === Seq("nullrow"))
    assert(dups.count() === 2)
  }

  test("D1: empty dedup keys handled by Consolidate as no-dedup") {
    val df = Seq((1, "a"), (1, "a")).toDF("k", "v")
    val (kept, dups) = Consolidate(Seq(df, df), Seq.empty, Seq(col("k")))
    assert(kept.count() === 4)
    assert(dups.count() === 0)
  }

  // ----------------------------------------------------------- DateStreaks

  test("G1: streaks exactly cover the distinct-date set, with gaps between islands") {
    for (trial <- 1 to 5) {
      val dates = (0 until 120).filter(_ => rnd.nextInt(3) > 0)
        .map(d => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
      if (dates.nonEmpty) {
        val df = (dates ++ dates.take(5)).toDF("d") // dupes must not matter
        val streaks = DateStreaks(df, "d").collect()
        val covered = streaks.flatMap { r =>
          val s = r.getDate(0).toLocalDate
          val e = r.getDate(1).toLocalDate
          assert(r.getInt(2) === (e.toEpochDay - s.toEpochDay + 1), s"trial $trial n_days")
          Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e)).toSeq
        }.toSet
        assert(covered === dates.map(_.toLocalDate).toSet, s"trial $trial coverage")
        // island maximality: the day before each start / after each end is absent
        streaks.foreach { r =>
          assert(!covered.contains(r.getDate(0).toLocalDate.minusDays(1)))
          assert(!covered.contains(r.getDate(1).toLocalDate.plusDays(1)))
        }
      }
    }
  }

  test("G1: single date is a one-day streak") {
    val df = Seq(java.sql.Date.valueOf("2024-05-05")).toDF("d")
    val r = DateStreaks(df, "d").collect()
    assert(r.length === 1 && r(0).getInt(2) === 1)
  }

  test("G1 property: DateStreaks.local equals DateStreaks.apply on generated day sets") {
    // unsorted day lists with gaps and repeats, plus one day and none
    val dayOffsets = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> Gen.choose(0, 30), 1 -> Gen.choose(0, 400))))
    val cases = Gen.listOfN(40, dayOffsets).apply(Gen.Parameters.default, Seed(42L)).get ++
      Seq(List(0), Nil)
    assert(cases.exists(c => c.distinct.size < c.size), "no case repeats a day")
    // ONE DataFrame pass: case i's days sit at i*1000 + offset, so islands
    // of different cases are always more than a day apart
    val epoch = LocalDate.of(2000, 1, 1)
    val all = cases.zipWithIndex.flatMap { case (c, i) => c.map(o => epoch.plusDays(i * 1000L + o)) }
    val fromFrame = DateStreaks(all.map(java.sql.Date.valueOf).toDF("d"), "d").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate))
      .groupBy { case (a, _) => (a.toEpochDay - epoch.toEpochDay) / 1000 }
    cases.zipWithIndex.foreach { case (c, i) =>
      val days = c.map(o => epoch.plusDays(i * 1000L + o)).sorted
      val expected = fromFrame.getOrElse(i.toLong, Array.empty[(LocalDate, LocalDate)]).sortBy(_._1.toEpochDay).toSeq
      assert(DateStreaks.local(days) === expected, s"case $i: $c")
    }
  }

  // --------------------------------------------------------------- Sketches

  test("HLL distinct count lands within the documented error bound") {
    val df = (0 until 20000).map(i => (s"g${i % 4}", i % 3000)).toDF("g", "v")
    val approx = Sketches.approxDistinct(df, Seq("g"), "v", rsd = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy("g").agg(countDistinct(col("v")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, e) =>
      assert(math.abs(approx(g) - e) <= e * 0.15, s"group $g: approx ${approx(g)} vs exact $e")
    }
  }

  test("approx quantiles bracket the exact quantiles") {
    val df = (1 to 10001).map(_.toDouble).toDF("v")
    val qs = df.select(Sketches.approxQuantiles(df, "v", Seq(0.1, 0.5, 0.9)))
      .head().getSeq[Double](0)
    assert(math.abs(qs(0) - 1000) < 50)
    assert(math.abs(qs(1) - 5000) < 50)
    assert(math.abs(qs(2) - 9000) < 50)
  }

  test("heavy hitters returns exactly the keys above the support threshold") {
    val rows = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++ (0 until 15).map(i => s"cold$i")
    val hh = Sketches.heavyHitters(rows.toDF("k"), "k", minSupport = 0.2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq === Seq(("hot", 60L), ("warm", 25L)))
  }

  // ------------------------------------------------------------------- Skew

  test("salting: salted aggregate equals plain aggregate (skewed input)") {
    // 90% of rows share one hot key
    val rows = (0 until 2000).map(i => (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toLong))
    val df = rows.toDF("k", "v")
    val salted = Skew.saltedAggregate(df, Seq("k"),
      Seq(Skew.SaltedSum("v", "s"), Skew.SaltedCount("n"),
        Skew.SaltedMin("v", "mn"), Skew.SaltedMax("v", "mx")), numSalts = 8)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val plain = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(salted === plain)
  }

  test("salting: salted join equals plain join (skewed probe)") {
    val probe = (0 until 1000).map(i => (if (i % 5 == 0) i % 20 else 7, i)).toDF("k", "p")
    val build = (0 until 20).map(i => (i, s"b$i")).toDF("k", "b")
    val salted = Skew.saltedJoin(probe, build, "k", numSalts = 4)
      .select("k", "p", "b").collect().map(_.toSeq).toSet
    val plain = probe.join(build, Seq("k")).select("k", "p", "b")
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  // --------------------------------------------------------------- Cleaning

  test("P4: emptyToNull nulls exactly \"\" and \" \" — no trim") {
    val df = Seq(("", "keep"), (" ", "x"), ("  ", "y"), ("a", "z")).toDF("c", "o")
    val out = Cleaning.emptyToNull(df, Seq("c")).collect().map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(None, None, Some("  "), Some("a")))
  }

  test("P2: split is a partition; empty-string passes the null check (reference semantics)") {
    val df = Seq((null: String, "r1"), ("", "r2"), ("v", "r3")).toDF("m", "o")
    val (good, bad) = Cleaning.notNullSplit(df, Seq("m"))
    assert(good.select("o").as[String].collect().toSet === Set("r2", "r3"))
    assert(bad.select("o").as[String].collect().toSet === Set("r1"))
  }

  test("P6: renameAll rejects arity mismatch") {
    val df = Seq((1, 2)).toDF("a", "b")
    assertThrows[IllegalArgumentException](Cleaning.renameAll(df, Seq("x")))
    assert(Cleaning.renameAll(df, Seq("x", "y")).columns.toSeq === Seq("x", "y"))
  }

  test("heavy hitters without a hint reuses one scan+shuffle for counts and total") {
    val rows = Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++ (0 until 15).map(i => s"cold$i")
    val hh = Sketches.heavyHitters(rows.toDF("k"), "k", minSupport = 0.2)
    assert(hh.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("hot", 60L), ("warm", 25L)))
    // after execution the adaptive plan must show the count exchange
    // consumed twice via reuse, not two independent scans
    val executed = hh.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"expected exchange reuse in:\n$executed")
  }

  test("salt assignment is recompute-stable and spreads identical rows") {
    val df = (0 until 300).map(i => (i % 3, i)).toDF("k", "v").repartition(4)
    def salts(): Map[Int, Int] =
      df.withColumn("s", Skew.saltExpr(df, Nil, 8, 42L))
        .select("v", "s").as[(Int, Int)].collect().toMap
    val a = salts()
    assert(a === salts()) // re-evaluating the same plan re-derives the same salts
    assert(a.values.toSet.size > 1)
    // byte-identical rows (the classic hot key) must NOT collapse onto
    // one salt — the partition id in the hash spreads them
    val dupes = Seq.fill(400)("hot").toDF("k").repartition(8)
    val dupSalts = dupes.withColumn("s", Skew.saltExpr(dupes, Nil, 8, 42L))
      .select("s").as[Int].collect().toSet
    assert(dupSalts.size > 1, "identical rows collapsed onto a single salt")
  }

  test("O2: numeric sort mode keeps '10' where lexicographic keeps '9'") {
    val df = Seq(("k", "9"), ("k", "10"), ("k", "7")).toDF("key", "ticket")
    def keep(mode: Consolidate.SortMode): String =
      Consolidate(Seq(df), Seq("key"),
        Consolidate.ordering(Seq("ticket"), mode))._1
        .select("ticket").as[String].head()
    assert(keep(Consolidate.SortMode.Lexicographic) === "9")  // "9" > "7" > "10"
    assert(keep(Consolidate.SortMode.Numeric) === "10")
  }

  // ------------------------------------------------------------ AsOfJoin

  test("as-of join: greatest right ts <= left ts per key, equal ts matches, no prior is null") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),  // between r1 and r2 -> r1
      (2L, 7L, ts("2024-01-01 12:00:00")),  // exactly at r2 -> r2 (<= semantics)
      (3L, 7L, ts("2024-01-01 08:00:00")),  // before everything -> null
      (4L, 8L, ts("2024-01-01 12:00:00")))  // other key, after its only right row
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 7L, ts("2024-01-01 09:00:00")),
      (102L, 7L, ts("2024-01-01 12:00:00")),
      (103L, 8L, ts("2024-01-01 00:30:00")))
      .toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id"))
    val got = AsOfJoin(left, right, "user_id", "ts", Seq("val_id"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.toString))).toMap
    assert(got(1L) === ((Some(101L), Some("2024-01-01 09:00:00.0"))))
    assert(got(2L) === ((Some(102L), Some("2024-01-01 12:00:00.0"))))
    assert(got(3L) === ((None, None)))
    assert(got(4L) === ((Some(103L), Some("2024-01-01 00:30:00.0"))))
  }

  test("as-of join agrees with the per-row reference on random data and keeps all left rows") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val leftRows = (0 until 120).map(i => (i.toLong, rnd.nextInt(6).toLong, t(rnd.nextInt(600))))
    val rightRows = (0 until 60).map(i => (1000L + i, rnd.nextInt(6).toLong, t(rnd.nextInt(600))))
    // unique (key, ts) on the right: keep max id (the operator contract)
    val rightDedup = rightRows.groupBy(r => (r._2, r._3)).values.map(_.maxBy(_._1)).toSeq
    val got = AsOfJoin(
        leftRows.toDF("event_id", "user_id", "ts"),
        rightDedup.toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id")),
        "user_id", "ts", Seq("val_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got.size === leftRows.size)
    leftRows.foreach { case (id, k, lts) =>
      val expect = rightDedup.filter(r => r._2 == k && !r._3.after(lts))
        .sortBy(r => (r._3.getTime, r._1)).lastOption.map(_._1)
      assert(got(id) === expect, s"left row $id")
    }
  }

  // -------------------------------------------------------- IntervalJoin

  test("interval join agrees with the per-row reference: multi-match overlaps, half-open bounds, empty windows dropped") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val pts = (0 until 150).map(i => (i.toLong, rnd.nextInt(5).toLong, t(rnd.nextInt(600))))
    val ivs = (0 until 60).map { i =>
      val s = rnd.nextInt(600)
      // some empty (len 0) and some long windows; overlaps guaranteed
      (1000L + i, rnd.nextInt(5).toLong, t(s), t(math.min(600, s + rnd.nextInt(4) * 45)))
    }
    val got = IntervalJoin.byGrid(
        pts.toDF("event_id", "user_id", "ts"),
        ivs.toDF("interval_id", "user_id", "start_ts", "end_ts")
          .select(col("user_id"), col("start_ts"), col("end_ts"), col("interval_id")),
        "user_id", "ts", "start_ts", "end_ts",
        cellMicros = 30L * 60 * 1000000, rightCols = Seq("interval_id"))
      .select(col("event_id"), col("interval_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (pid, pk, pts0) <- pts
      (iid, ik, s, e) <- ivs
      if pk == ik && !pts0.before(s) && pts0.before(e)
    } yield (pid, iid)).toSet
    assert(got === want)
    assert(want.nonEmpty, "fixture must produce matches")
  }

  test("broadcast interval join equals byGrid on the random fixture (overlaps, half-open, empty windows)") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val pts = (0 until 150).map(i => (i.toLong, rnd.nextInt(5).toLong, t(rnd.nextInt(600))))
    val ivs = (0 until 60).map { i =>
      val s = rnd.nextInt(600)
      (1000L + i, rnd.nextInt(5).toLong, t(s), t(math.min(600, s + rnd.nextInt(4) * 45)))
    }
    val ptsDf = pts.toDF("event_id", "user_id", "ts")
    val ivsDf = ivs.toDF("interval_id", "user_id", "start_ts", "end_ts")
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("interval_id"))
    def run(f: => org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      f.select(col("event_id"), col("interval_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broadcastRes = run(IntervalJoin.broadcastByKey(
      ptsDf, ivsDf, "user_id", "ts", "start_ts", "end_ts", Seq("interval_id")))
    val gridRes = run(IntervalJoin.byGrid(
      ptsDf, ivsDf, "user_id", "ts", "start_ts", "end_ts",
      cellMicros = 30L * 60 * 1000000, Seq("interval_id")))
    assert(broadcastRes === gridRes)
    assert(broadcastRes.nonEmpty)
  }

  test("interval join clamps sentinel open-ended windows to the observed point range") {
    // a 9999-12-31 'current' SCD-2 row at 1h cells is ~70M grid cells if
    // exploded raw — with the clamp it costs <= the point range (~10 cells)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, 7L, t("2024-01-01 02:30:00")),
      (2L, 7L, t("2024-01-01 08:30:00")),
      (3L, 9L, t("2024-01-01 05:00:00")))
    val ivs = Seq(
      (100L, 7L, t("2024-01-01 00:00:00"), t("2024-01-01 06:00:00")),
      // open-ended current row: sentinel end date
      (101L, 7L, t("2024-01-01 06:00:00"), t("9999-12-31 00:00:00")),
      // sentinel window on a key with no points in range after clamping
      (102L, 9L, t("2030-01-01 00:00:00"), t("9999-12-31 00:00:00")))
    val got = IntervalJoin.byGrid(
        pts.toDF("event_id", "user_id", "ts"),
        ivs.toDF("interval_id", "user_id", "start_ts", "end_ts")
          .select(col("user_id"), col("start_ts"), col("end_ts"), col("interval_id")),
        "user_id", "ts", "start_ts", "end_ts",
        cellMicros = 3600L * 1000000, rightCols = Seq("interval_id"))
      .select(col("event_id"), col("interval_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L), (2L, 101L)))
  }

  test("byGrid with boundsHint stays lazy and plans identically to the eager bounds job") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, 7L, t("2024-01-01 02:30:00")),
      (2L, 7L, t("2024-01-01 08:30:00")))
    val ivs = Seq(
      (100L, 7L, t("2024-01-01 00:00:00"), t("2024-01-01 06:00:00")),
      (101L, 7L, t("2024-01-01 06:00:00"), t("9999-12-31 00:00:00")))
    val ptsDf = pts.toDF("event_id", "user_id", "ts")
    val ivsDf = ivs.toDF("interval_id", "user_id", "start_ts", "end_ts")
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("interval_id"))
    def micros(s: String) = t(s).getTime * 1000L
    val eager = IntervalJoin.byGrid(ptsDf, ivsDf, "user_id", "ts",
      "start_ts", "end_ts", cellMicros = 3600L * 1000000, Seq("interval_id"))
    // the hint covering exactly the observed range folds to the SAME
    // clamp literals the eager job collects — plan-identical
    val hinted = IntervalJoin.byGrid(ptsDf, ivsDf, "user_id", "ts",
      "start_ts", "end_ts", cellMicros = 3600L * 1000000, Seq("interval_id"),
      boundsHint = Some((micros("2024-01-01 02:30:00"), micros("2024-01-01 08:30:00"))))
    assert(hinted.queryExecution.optimizedPlan
      .sameResult(eager.queryExecution.optimizedPlan),
      "hinted plan must equal the eager-bounds plan")
    // a wider (covering, not exact) hint still returns the same rows
    val wide = IntervalJoin.byGrid(ptsDf, ivsDf, "user_id", "ts",
      "start_ts", "end_ts", cellMicros = 3600L * 1000000, Seq("interval_id"),
      boundsHint = Some((micros("2023-06-01 00:00:00"), micros("2024-06-01 00:00:00"))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("interval_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(wide) === rows(eager))
    assert(rows(eager) === Set((1L, 100L), (2L, 101L)))
  }

  test("broadcastByKey rejects reserved names and fact-sized interval sides") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq((1L, 7L, t("2024-01-01 02:30:00"))).toDF("event_id", "user_id", "ts")
    val ivs = Seq((100L, 7L, t("2024-01-01 00:00:00"), t("2024-01-02 00:00:00")),
        (101L, 7L, t("2024-01-02 00:00:00"), t("2024-01-03 00:00:00")))
      .toDF("interval_id", "user_id", "start_ts", "end_ts")
    val e1 = intercept[IllegalArgumentException] {
      IntervalJoin.broadcastByKey(pts, ivs.withColumnRenamed("interval_id", "__s"),
        "user_id", "ts", "start_ts", "end_ts", Seq("__s"))
    }
    assert(e1.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.broadcastByKey(pts.withColumn("__hit", lit(1)), ivs,
        "user_id", "ts", "start_ts", "end_ts", Seq("interval_id"))
    }
    assert(e2.getMessage.contains("reserved"))
    val e3 = intercept[IllegalArgumentException] {
      IntervalJoin.broadcastByKey(pts, ivs, "user_id", "ts", "start_ts", "end_ts",
        Seq("interval_id"), maxBroadcastRows = 1L)
    }
    assert(e3.getMessage.contains("byGrid"), "must point to the shuffle variant")
  }

  test("broadcastAsOf rejects fact-sized history sides with a pointer to the merged-stream form") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 7L, t("2024-01-01 02:30:00"))).toDF("event_id", "key", "ts")
    val hist = Seq((7L, t("2024-01-01 00:00:00"), "a"), (7L, t("2024-01-01 01:00:00"), "b"))
      .toDF("key", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.broadcastAsOf(left, hist, "key", "ts", Seq("v"), maxBroadcastRows = 1L)
    }
    assert(e.getMessage.contains("AsOfJoin.apply"), "must point to the shuffle variant")
  }

  test("interval join with an empty point side returns empty, not an explode of every window") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq.empty[(Long, Long, java.sql.Timestamp)]
    val ivs = Seq((100L, 7L, t("2024-01-01 00:00:00"), t("9999-12-31 00:00:00")))
    val got = IntervalJoin.byGrid(
      pts.toDF("event_id", "user_id", "ts"),
      ivs.toDF("interval_id", "user_id", "start_ts", "end_ts"),
      "user_id", "ts", "start_ts", "end_ts",
      cellMicros = 3600L * 1000000, rightCols = Seq("interval_id"))
    assert(got.count() === 0)
    assert(got.columns.toSeq === Seq("event_id", "user_id", "ts", "interval_id"))
  }

  // ----------------------------------------------------------------- Scd2

  test("Scd2.build: gap-free half-open tiling, last-writer-wins on equal ts, one current row per key") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, t("2024-01-01 00:00:00"), "a", 10L),
      (1L, t("2024-01-02 00:00:00"), "b", 11L),
      // simultaneous change: seq 13 must win over 12
      (1L, t("2024-01-03 00:00:00"), "stale", 12L),
      (1L, t("2024-01-03 00:00:00"), "c", 13L),
      (2L, t("2024-01-05 00:00:00"), "x", 14L))
      .toDF("key", "ts", "attr", "seq")
    val rows = Scd2.build(changes, "key", "ts", Seq("attr"), "seq")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4), r.getBoolean(5)))
    val k1 = rows.filter(_._1 == 1L).sortBy(_._5)
    assert(k1.map(_._2).toSeq === Seq("a", "b", "c"), "last writer wins within equal ts")
    assert(k1.map(_._5).toSeq === Seq(1L, 2L, 3L))
    // half-open tiling: each valid_to equals the next valid_from
    assert(k1.init.map(_._4).toSeq === k1.tail.map(r => Some(r._3)).toSeq)
    assert(k1.count(_._6) === 1 && k1.last._6, "exactly the final row is current")
    val k2 = rows.filter(_._1 == 2L)
    assert(k2.map(r => (r._2, r._4, r._5, r._6)).toSeq === Seq(("x", None, 1L, true)))
  }

  test("Scd2.build feeds IntervalJoin: points resolve to the validity window containing them") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, t("2024-01-01 00:00:00"), "v1", 1L),
      (1L, t("2024-01-10 00:00:00"), "v2", 2L))
      .toDF("key", "ts", "attr", "seq")
    val dim = Scd2.build(changes, "key", "ts", Seq("attr"), "seq")
      // interval join needs closed windows: clamp the open current row
      .withColumn("valid_to",
        coalesce(col("valid_to"), lit(t("2024-02-01 00:00:00"))))
    val pts = Seq((100L, 1L, t("2024-01-05 12:00:00")), (101L, 1L, t("2024-01-20 12:00:00")))
      .toDF("event_id", "key", "ts")
    val got = IntervalJoin.byGrid(pts, dim, "key", "ts", "valid_from", "valid_to",
        cellMicros = 24L * 3600 * 1000000, rightCols = Seq("attr"))
      .select(col("event_id"), col("attr"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((100L, "v1"), (101L, "v2")))
  }

  // ------------------------------------------- TIMESTAMP_NTZ hardening
  // Parquet written without UTC adjustment reads as TIMESTAMP_NTZ in
  // Spark 4 (the r11 testdata regeneration did exactly this), and
  // unix_micros rejects NTZ at analysis. The public time operators must
  // accept NTZ columns directly; under the pinned UTC session the
  // results must be value-identical to the TimestampType run.

  test("broadcastAsOf accepts TIMESTAMP_NTZ time columns and matches the TimestampType result") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, t("2024-01-01 10:00:00")),
      (2L, 7L, t("2024-01-01 12:00:00")),
      (3L, 7L, t("2024-01-01 08:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 7L, t("2024-01-01 09:00:00")),
      (102L, 7L, t("2024-01-01 12:00:00")))
      .toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id"))
    def ntz(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    def matches(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOfJoin.broadcastAsOf(l, r, "user_id", "ts", Seq("val_id"))
        .select(col("event_id"), col("val_id"))
        .collect().map(r0 => r0.getLong(0) -> Option(r0.get(1))).toMap
    assert(ntz(left).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(matches(ntz(left), ntz(right)) === matches(left, right))
  }

  test("merged-stream as-of join accepts TIMESTAMP_NTZ time columns and matches the TimestampType result") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, t("2024-01-01 10:00:00")),
      (2L, 7L, t("2024-01-01 12:00:00")),
      (3L, 8L, t("2024-01-01 08:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 7L, t("2024-01-01 09:00:00")),
      (102L, 8L, t("2024-01-01 12:00:00")))
      .toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id"))
    def ntz(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    def matches(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOfJoin(l, r, "user_id", "ts", Seq("val_id"))
        .select(col("event_id"), col("val_id"))
        .collect().map(r0 => r0.getLong(0) -> Option(r0.get(1))).toMap
    assert(matches(ntz(left), ntz(right)) === matches(left, right))
    assert(matches(left, right) ===
      Map(1L -> Some(101L), 2L -> Some(101L), 3L -> None))
  }

  test("byGrid accepts TIMESTAMP_NTZ time columns and matches the TimestampType result") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, 7L, t("2024-01-01 02:30:00")),
      (2L, 7L, t("2024-01-01 08:30:00")))
      .toDF("event_id", "user_id", "ts")
    val ivs = Seq(
      (100L, 7L, t("2024-01-01 00:00:00"), t("2024-01-01 06:00:00")),
      (101L, 7L, t("2024-01-01 06:00:00"), t("2024-01-02 00:00:00")))
      .toDF("interval_id", "user_id", "start_ts", "end_ts")
    def run(p: org.apache.spark.sql.DataFrame, iv: org.apache.spark.sql.DataFrame) =
      IntervalJoin.byGrid(p, iv, "user_id", "ts", "start_ts", "end_ts",
          cellMicros = 3600L * 1000000, rightCols = Seq("interval_id"))
        .select(col("event_id"), col("interval_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ptsNtz = pts.withColumn("ts", col("ts").cast("timestamp_ntz"))
    val ivsNtz = ivs
      .withColumn("start_ts", col("start_ts").cast("timestamp_ntz"))
      .withColumn("end_ts", col("end_ts").cast("timestamp_ntz"))
    assert(run(ptsNtz, ivsNtz) === run(pts, ivs))
    assert(run(pts, ivs) === Set((1L, 100L), (2L, 101L)))
  }

  test("Scd2.build accepts TIMESTAMP_NTZ change timestamps and matches the TimestampType tiling") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val changes = Seq(
      (1L, t("2024-01-01 00:00:00"), "a", 10L),
      (1L, t("2024-01-02 00:00:00"), "b", 11L),
      (1L, t("2024-01-02 00:00:00"), "c", 12L))
      .toDF("key", "ts", "attr", "seq")
    def run(df: org.apache.spark.sql.DataFrame) =
      Scd2.build(df, "key", "ts", Seq("attr"), "seq")
        .select(col("key"), col("attr"),
          col("valid_from").cast("timestamp"), col("valid_to").cast("timestamp"),
          col("version"), col("is_current"))
        .collect().map(_.toSeq).toSet
    val ntzRun = run(changes.withColumn("ts", col("ts").cast("timestamp_ntz")))
    assert(ntzRun === run(changes))
    assert(ntzRun.size === 2, "last-writer-wins must still collapse the equal-ts pair")
  }

  // ------------------------------------------------------ BloomJoinReduce

  test("bloom-reduced join equals the plain join even when false positives pass the filter") {
    val fact = (0 until 2000).map(i => (i.toLong, s"p$i")).toDF("k", "payload")
    val dim = (0 until 2000 by 20).map(i => (i.toLong, i / 20)).toDF("k", "grp")
    // deliberately under-sized, high-fpp filter so false positives are
    // exercised, not just possible — exactness must survive them
    val reduced = BloomJoinReduce.inner(fact, dim, "k", "k",
      expectedDimKeys = 10L, fpp = 0.4)
    val plain = fact.join(dim, Seq("k"))
    assert(reduced.orderBy("k").collect() === plain.orderBy("k").collect())
    assert(plain.count() === 100L)
  }

  test("the bloom filter actually reduces the fact side before the join") {
    val fact = (0 until 5000).map(i => (i.toLong, i)).toDF("k", "v")
    val dim = Seq((17L, "a"), (4242L, "b")).toDF("k", "name")
    val bloom = dim.stat.bloomFilter("k", 2L, 0.01)
    val survivors = fact
      .filter(graft.functions.BloomContainsLong(col("k"), bloom)).count()
    assert(survivors >= 2, "no false negatives: both matching keys survive")
    assert(survivors < 100,
      s"a 2-key 1% filter must drop almost all 5000 fact rows, kept $survivors")
  }

  // ----------------------------------------------------------- StableIds

  test("StableIds: contiguous 1..N in key order on a unique-key permutation") {
    // id*37 % 1000 is a bijection on 0..999 — shuffled unique keys
    val df = spark.range(1000).select((col("id") * 37 % 1000).as("k")).repartition(7)
    val (out, release) = StableIds.byKeyReleasable(df, numPartitions = 5, col("k"))
    val rows = out.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).toSeq === (0L until 1000L))
    assert(rows.map(_._2).toSeq === (1L to 1000L), "ids must follow key order")
    release()
  }

  test("StableIds: tie groups get contiguous id intervals, intervals ordered by key") {
    val df = (0 until 500).map(i => i % 7).toDF("k").repartition(9)
    val (out, release) = StableIds.byKeyReleasable(df, numPartitions = 3, col("k"))
    val byKey = out.collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
    val intervals = byKey.toSeq.sortBy(_._1).map { case (k, rs) =>
      val ids = rs.map(_._2).sorted
      assert(ids.last - ids.head + 1 === ids.length, s"ids of key $k not contiguous")
      (k, ids.head, ids.last)
    }
    assert(intervals.map(_._2).head === 1L)
    intervals.sliding(2).foreach {
      case Seq((_, _, hiA), (_, loB, _)) => assert(loB === hiA + 1)
      case _ =>
    }
    assert(intervals.last._3 === 500L)
    release()
  }

  test("Resample.forwardFill: hourly grid, carry-forward, id tie-break, null before first event") {
    import java.sql.Timestamp
    val rows = Seq(
      // user 1: first event mid-bucket -> 10:00 bucket fills NULL
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 5L),
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), 2L, 7L),  // same ts: id 2 wins
      (1L, Timestamp.valueOf("2024-01-01 13:00:00"), 3L, 9L),  // exactly on the bucket
      // user 2: single event on the hour -> one bucket, filled
      (2L, Timestamp.valueOf("2024-01-01 00:00:00"), 4L, 1L))
      .toDF("k", "ts", "id", "v")
    val out = Resample.forwardFill(rows, "k", "ts", "id", "v", stepSec = 3600L)
      .orderBy("k", "bucket_ts")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      (1L, "2024-01-01 10:00:00.0", None),      // before the first event
      (1L, "2024-01-01 11:00:00.0", Some(7L)),  // id tie-break: 7, not 5
      (1L, "2024-01-01 12:00:00.0", Some(7L)),  // gap carries forward
      (1L, "2024-01-01 13:00:00.0", Some(9L)),  // on-bucket event included
      (2L, "2024-01-01 00:00:00.0", Some(1L))))
  }

  test("Resample.interpolate: linear between neighbors, floor on negative slope, ffill tail, null head") {
    import java.sql.Timestamp
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 100L),
      (1L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, 300L),
      (1L, Timestamp.valueOf("2024-01-01 13:30:00"), 3L, 50L))
      .toDF("k", "ts", "id", "v")
    val out = Resample.interpolate(rows, "k", "ts", "id", "v", stepSec = 3600L)
      .orderBy("bucket_ts")
      .collect()
      .map(r => (r.getTimestamp(1).toString, Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      ("2024-01-01 10:00:00.0", Some(100L)), // exact point
      ("2024-01-01 11:00:00.0", Some(200L)), // midway up the +200 slope
      ("2024-01-01 12:00:00.0", Some(300L)), // exact point
      // 13:00 sits 2/3 along the 12:00→13:30 drop of −250:
      // 300 + floor(−250 · 2/3) = 300 + (−167) = 133 (floor, not trunc)
      ("2024-01-01 13:00:00.0", Some(133L))))
  }

  // -------------------------------------------- IncrementalSessions

  test("incremental session fold law: any time-ordered split folds to the one-shot sessionize (random trials)") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val gap = 10L * 60 * 1000 // 10 minutes
    (1 to 3).foreach { trial =>
      val rows = (0 until 200).map(i =>
        (i.toLong, rnd.nextInt(5).toLong, t(rnd.nextInt(20 * 60))))
      val ev = rows.toDF("event_id", "user_id", "ts")
      // direct one-shot reference
      val direct = graft.streaming.EventStreams.batchSessions(ev, gap)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2))
      // fold over a random 3-way time split
      val cut1 = (5 + rnd.nextInt(5)) * 60L * 60 * 1000
      val cut2 = cut1 + (2 + rnd.nextInt(5)) * 60L * 60 * 1000
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def slice(lo: Long, hi: Long) =
        ev.filter(unix_millis(col("ts")) >= base + lo && unix_millis(col("ts")) < base + hi)
      import scala.jdk.CollectionConverters._
      var state = IncrementalSessions.emptyState(spark)
      var closed = Seq.empty[(Long, Long, Long, Long)]
      Seq((0L, cut1, base + cut1), (cut1, cut2, base + cut2),
          (cut2, Long.MaxValue - base, Long.MaxValue)).foreach { case (lo, hi, end) =>
        val (c, o) = IncrementalSessions.fold(state, slice(lo, hi), gap, end)
        closed = closed ++ c.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        state = o
        // re-materialize the state so the next fold does not recompute
        // this one's lineage (the store write of a real deployment)
        state = spark.createDataFrame(state.collect().toList.asJava, state.schema)
      }
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      val folded = closed.map(c =>
          (c._1, fmt.format(new java.util.Date(c._2)), fmt.format(new java.util.Date(c._3)), c._4))
        .sortBy(x => (x._1, x._2))
      assert(folded === direct.toSeq, s"trial $trial (cuts $cut1/$cut2)")
    }
  }

  // ------------------------------------------------------- Quality

  test("quality report: clean table passes everything; planted defects counted exactly; NULL FK keys are not orphans") {
    val t = Seq(
      (1L, Option(10L), Option("a")),
      (2L, Option(20L), None),          // null s -> null_count:s = 1
      (3L, Option(99L), Option("b")),   // fk 99 has no dim match
      (4L, None, Option("a")))          // NULL fk key: NOT an orphan
      .toDF("id", "fk", "s")
    val dim = Seq(10L, 20L).toDF("k")
    val got = graft.operators.Quality.report(t,
        notNull = Seq("s"),
        unique = Seq("id", "s"),
        violations = Seq("neg_id" -> (col("id") < 0)),
        fks = Seq(("fk", dim, "k")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got("row_count") === ((4L, true)))
    assert(got("null_count:s") === ((1L, false)))
    assert(got("distinct_count:id") === ((4L, true)))
    // 2 distinct non-null s over 4 rows: not a total unique key
    assert(got("distinct_count:s") === ((2L, false)))
    assert(got("violations:neg_id") === ((0L, true)))
    assert(got("fk_orphans:fk") === ((1L, false)))
  }

  // ------------------------------------------------- AsOfJoin.nearest

  test("nearest join: closer side wins, exact-distance tie takes the earlier right row, equal ts is distance 0") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:10:00")), // r@10:00 d=10m vs r@11:00 d=50m -> prev
      (2L, 7L, ts("2024-01-01 10:50:00")), // r@10:00 d=50m vs r@11:00 d=10m -> next
      (3L, 7L, ts("2024-01-01 10:30:00")), // exact tie 30m/30m -> EARLIER (10:00)
      (4L, 7L, ts("2024-01-01 11:00:00")), // equal ts -> distance 0
      (5L, 9L, ts("2024-01-01 10:00:00"))) // key with no right rows -> unmatched
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 7L, ts("2024-01-01 10:00:00")),
      (102L, 7L, ts("2024-01-01 11:00:00")))
      .toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id"))
    val got = AsOfJoin.nearest(left, right, "user_id", "ts", Seq("val_id"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    assert(got(1L) === ((Some(101L), Some(600L * 1000000))))
    assert(got(2L) === ((Some(102L), Some(600L * 1000000))))
    assert(got(3L) === ((Some(101L), Some(1800L * 1000000))))
    assert(got(4L) === ((Some(102L), Some(0L))))
    assert(got(5L) === ((None, None)))
  }

  test("nearest join: tolerance excludes far matches; unmatched rows keep null payload AND null distance") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:20:00")),  // 20m away -> inside 30m tolerance
      (2L, 7L, ts("2024-01-01 12:00:00")))  // 120m away -> outside
      .toDF("event_id", "user_id", "ts")
    val right = Seq((101L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id"))
    val got = AsOfJoin.nearest(left, right, "user_id", "ts", Seq("val_id"),
        toleranceMicros = 30L * 60 * 1000000L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toMap
    assert(got(1L)._1 === Some(101L))
    assert(got(2L) === ((None, None, None)))
  }

  test("nearest join agrees with the per-row reference on random data and keeps all left rows") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val leftRows = (0 until 150).map(i => (i.toLong, rnd.nextInt(6).toLong, t(rnd.nextInt(600))))
    val rightRows = (0 until 50).map(i => (1000L + i, rnd.nextInt(6).toLong, t(rnd.nextInt(600))))
    val rightDedup = rightRows.groupBy(r => (r._2, r._3)).values.map(_.maxBy(_._1)).toSeq
    val tol = 45L * 60 * 1000000L
    val got = AsOfJoin.nearest(
        leftRows.toDF("event_id", "user_id", "ts"),
        rightDedup.toDF("val_id", "user_id", "ts").select(col("user_id"), col("ts"), col("val_id")),
        "user_id", "ts", Seq("val_id"), toleranceMicros = tol)
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got.size === leftRows.size)
    leftRows.foreach { case (id, k, lts) =>
      val cands = rightDedup.filter(_._2 == k)
        .map(r => (math.abs(r._3.getTime - lts.getTime) * 1000L, r._3.getTime, r._1))
        .filter(_._1 <= tol)
      // min distance, tie -> earlier right ts (unique per ts by contract)
      val expect = cands.sortBy(c => (c._1, c._2)).headOption.map(_._3)
      assert(got(id) === expect, s"left row $id")
    }
  }

  test("incrementalJoinDelta: V ∪ ΔV equals the full join across random insert splits, with no duplicates") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    (1 to 3).foreach { trial =>
      val as = (0 until 300).map(i => (i.toLong, rnd.nextInt(40).toLong))   // (a_id, k)
      val bs = (0 until 60).map(i => (rnd.nextInt(50).toLong, i.toLong))    // (k, b_id)
      val aCut = rnd.nextInt(300)
      val bCut = rnd.nextInt(60)
      val (a0s, das) = as.splitAt(aCut)
      val (b0s, dbs) = bs.splitAt(bCut)
      def dfA(xs: Seq[(Long, Long)]) = xs.toDF("a_id", "k")
      def dfB(xs: Seq[(Long, Long)]) = xs.toDF("k", "b_id")
      val refreshed = dfA(a0s).join(dfB(b0s), Seq("k"))
        .unionByName(ViewMaintenance.incrementalJoinDelta(
          dfA(a0s), dfA(das), dfB(b0s), dfB(dbs), Seq("k")))
        .select("k", "a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val full = dfA(as).join(dfB(bs), Seq("k")).select("k", "a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(refreshed.toSeq === full.toSeq, s"trial $trial (aCut=$aCut, bCut=$bCut)")
    }
    intercept[IllegalArgumentException] {
      ViewMaintenance.incrementalJoinDelta(
        Seq((1L, 1L)).toDF("a", "k"), Seq((1L, 1L)).toDF("a", "k"),
        Seq((1L, 1L)).toDF("k", "b"), Seq((1L, 1L)).toDF("k", "b"), Nil)
    }: Unit
  }
}
