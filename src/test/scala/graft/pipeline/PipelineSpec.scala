package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkCounts, SparkSuite}
import graft.classify.HeaderSniffer
import graft.readers.{BookingPaymentReader, OccupancyReader, TrainListReader}
import graft.schema.{ReportType, Schemas}
import graft.sinks.PartitionOverwriteSink

/** End-to-end pipeline coverage: classification on files, reader dispatch
  * with failure isolation, side channels, partition-overwrite sink.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  /** Most Spark jobs `Main.run` may issue on `writeMultiReportInputs`.
    * Measured: 29 in every run, since each report's reader runs once over
    * the union of its inputs (one broadcast of each dimension and one J2
    * semi-join per report). It was 33 while each input had its own reader
    * chain, 39 while each input ran its own guard jobs, 48 or 49 while
    * each load also ran a day-streak query beside its write (adaptive
    * execution planned that in 3 or 4 jobs, depending on which of the two
    * built the load's cached input first), and 69 when every sink re-ran
    * the readers and the window.
    */
  private val MainRunJobs = 29

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** A tiny occupancy CSV: junk rows above the header exercise the sniff
    * offset; one reject row (empty mandatory Date cell); duplicate keys.
    */
  private def occCsv(rows: Seq[String], junkRows: Int): String = {
    val header = Schemas.occupancy.header.mkString(",")
    val junk = (0 until junkRows).map(i => s"junk$i,x")
    (junk ++ Seq(header) ++ rows).mkString("\n")
  }

  private def occRow(date: String, od: String, train: String, cls: String,
      reserved: String, quota: String): String = {
    // 24 cells in schema order; non-mandatory cells filled with "1"
    val m = Map(0 -> date, 1 -> od, 5 -> train, 6 -> cls, 14 -> reserved, 8 -> quota)
    (0 until 24).map(i => m.getOrElse(i, "1")).mkString(",")
  }

  private def tlRow(dep: String, train: String, ticket: String): String = {
    val h = Schemas.trainList.header
    val m = Map("Departure Date" -> dep, "Train Number" -> train, "Ticket Number" -> ticket)
    h.map(c => m.getOrElse(c, "1")).mkString(",")
  }

  private def tlCsv(rows: Seq[String]): String =
    (Schemas.trainList.header.mkString(",") +: rows).mkString("\n")

  /** Train-hours and ticket-history dimensions covering train T1 and
    * tickets tk1, tk2.
    */
  private def tlDims() = (
    Seq(("T1", "09:30:00")).toDF("train_number", "departure_time"),
    Seq(("tk1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00")),
      ("tk2", java.sql.Timestamp.valueOf("2024-01-02 08:00:00")))
      .toDF("ticket_number", "operation_date_time"))

  /** Two Occupancy and two Train List inputs. Each report has a key
    * repeated across its two files; Occupancy also has one reject row.
    */
  private def writeMultiReportInputs(in: String): Unit = {
    Files.writeString(Paths.get(s"$in/occ_a.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1"),
      occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q2"),
      occRow("", "AB", "T1", "C1", "9", "q0")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/occ_b.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "7", "q3")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/tl_a.csv"), tlCsv(Seq(
      tlRow("2024-01-01 10:00:00", "T1", "tk1"),
      tlRow("2024-01-02 10:00:00", "T1", "tk2"))))
    Files.writeString(Paths.get(s"$in/tl_b.csv"), tlCsv(Seq(
      tlRow("2024-01-03 10:00:00", "T1", "tk1"))))
  }

  /** Unpersists what earlier suites left in the shared session (some
    * operators keep cached plans and RDDs after they return), so the
    * persisted-state laws below see only the leftovers of their own call.
    */
  private def startFromEmptyCache(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assertNothingRunningOrPersisted()
  }

  /** No Spark job is running, and no plan or RDD is persisted. */
  private def assertNothingRunningOrPersisted(): Unit = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("S3/S4: classifyCsv finds the occupancy header behind junk rows") {
    val dir = tmpDir("graft-cls")
    val path = s"$dir/occ.csv"
    Files.writeString(Paths.get(path), occCsv(Seq(occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q")), junkRows = 2))
    val got = HeaderSniffer.classifyCsv(spark, path)
    assert(got === Some((2, ReportType.Occupancy)))
  }

  test("S5: readClassified skips junk above an offset header and parses all rows") {
    val dir = tmpDir("graft-read")
    val path = s"$dir/occ.csv"
    Files.writeString(Paths.get(path),
      occCsv(Seq(
        occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q"),
        occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q")), junkRows = 3))
    val df = HeaderSniffer.readClassified(spark, path, 3, ReportType.Occupancy)
    assert(df.count() === 2)
    assert(df.columns.length === 24)

    // blank and whitespace-only lines above the header: the sniff's record
    // index skips them, as the CSV reader does, and so must the body read
    val blank = s"$dir/occ_blank.csv"
    Files.writeString(Paths.get(blank), Seq("junk0,x", "", "  ",
      Schemas.occupancy.header.mkString(","),
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q"),
      occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q")).mkString("\n"))
    val sniffed = HeaderSniffer.classifyCsv(spark, blank)
    assert(sniffed === Some((1, ReportType.Occupancy)))
    val out = OccupancyReader(HeaderSniffer.readClassified(spark, blank, 1, ReportType.Occupancy))
    assert(out.good.count() === 2)
    assert(out.rejects.isEmpty)
  }

  test("pipeline run: consolidation, keep-last dedup, rejects, bad input isolated") {
    val in = tmpDir("graft-in")
    val out = tmpDir("graft-out")
    // file A: one good row + one reject (empty mandatory Date)
    Files.writeString(Paths.get(s"$in/a.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1"),
      occRow("", "AB", "T1", "C1", "9", "q0")), junkRows = 0))
    // file B: duplicate of A's key with higher sort value → wins keep-last
    Files.writeString(Paths.get(s"$in/b.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "7", "q2")), junkRows = 0))
    // file C: unclassifiable garbage
    Files.writeString(Paths.get(s"$in/c.csv"), "what,is,this\n1,2,3")

    val empty = spark.emptyDataFrame
    val res = Pipeline.run(spark, in, out, "20240101T000000", empty, empty)

    assert(res.unclassified === Seq(s"$in/c.csv"))
    assert(res.errors.isEmpty)
    val occ = res.results.find(_.report == ReportType.Occupancy).get
    val kept = occ.kept.collect()
    assert(kept.length === 1)
    // keep-last on lexicographic ticket_reserved: "7" > "5"
    assert(occ.kept.select("ticket_reserved").as[String].collect().toSeq === Seq("7"))
    assert(occ.duplicates.count() === 1)
    assert(occ.rejects.count() === 1)
    // side channels written (gzip csv directories) with the right content
    val exported = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(exported.exists(_.contains("error rows")))
    assert(exported.exists(_.contains("duplicates")))
    assert(exported.exists(_.contains("data exported")))
    def readBack(channel: String) =
      spark.read.option("header", "true")
        .csv(s"$out/${Schemas.occupancy.name} $channel 20240101T000000")
    val dupRows = readBack("duplicates")
    assert(dupRows.count() === 1)
    assert(dupRows.select("ticket_reserved").as[String].head() === "5")
    val snap = readBack("data exported")
    assert(snap.count() === 1)
    assert(snap.select("ticket_reserved").as[String].head() === "7")
    val errs = readBack("error rows")
    assert(errs.count() === 1)
  }

  test("pipeline run: equal sort keys across files — later input wins (pandas stable keep-last parity)") {
    val in = tmpDir("graft-tie-in")
    val out = tmpDir("graft-tie-out")
    // same dedup key AND same sort keys; only a non-key cell differs
    def row(origin: String) =
      (0 until 24).map(i => Map(0 -> "2024-01-01 00:00:00", 1 -> "AB", 5 -> "T1", 6 -> "C1",
        14 -> "5", 8 -> "q", 2 -> origin).getOrElse(i, "1")).mkString(",")
    val header = Schemas.occupancy.header.mkString(",")
    Files.writeString(Paths.get(s"$in/a.csv"), (Seq(header) :+ row("fromA")).mkString("\n"))
    Files.writeString(Paths.get(s"$in/b.csv"), (Seq(header) :+ row("fromB")).mkString("\n"))
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    val occ = res.results.find(_.report == ReportType.Occupancy).get
    // files are discovered sorted (a, b) → b is the later input → keep-last keeps b
    assert(occ.kept.select("origin_station").as[String].collect().toSeq === Seq("fromB"))
    assert(occ.duplicates.select("origin_station").as[String].collect().toSeq === Seq("fromA"))
  }

  test("pipeline run: TL path with dims; missing train number isolates the file") {
    val in = tmpDir("graft-tl-in")
    val out = tmpDir("graft-tl-out")
    // file A: train T1 exists in the dim
    Files.writeString(Paths.get(s"$in/a.csv"), tlCsv(Seq(tlRow("2024-01-01 10:00:00", "T1", "tk1"))))
    // file B: train T9 missing from the dim → input isolated as an error
    Files.writeString(Paths.get(s"$in/b.csv"), tlCsv(Seq(tlRow("2024-01-02 10:00:00", "T9", "tk2"))))
    val hours = Seq(("T1", "09:30:00")).toDF("train_number", "departure_time")
    val hist = Seq(("tk1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00")))
      .toDF("ticket_number", "operation_date_time")
    val res = Pipeline.run(spark, in, out, "20240101T000000", hours, hist)
    assert(res.errors.map(_.path) === Seq(s"$in/b.csv"))
    assert(res.errors.head.message.contains("T9"))
    val tl = res.results.find(_.report == ReportType.TrainList).get
    val kept = tl.kept.collect()
    assert(kept.length === 1)
    val row = tl.kept.select("ticket_number", "train_hour", "train_key",
      "operation_date").head()
    assert(row.getString(0) === "tk1")
    assert(row.getString(1) === "09:30")
    assert(row.getString(2) === "2024-01-01 - T1 - 1") // OD filler "1"
    assert(row.getString(3) === "2024-01-01")
  }

  test("readers: column counts and reject capture per schema") {
    import graft.readers.ReportReader
    // Occupancy: 24 source cols → 26 output
    val occRaw = Seq(
      ("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q"),
      (null, "AB", "T1", "C1", "5", "q")).toDF("Date", "OD", "Train Number", "Class",
      "Ticket Reserved (Usual + Carer + PRM)", "Quota Configuration")
    val full = Schemas.occupancy.header.foldLeft(occRaw) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit("1"))
    }
    val r = OccupancyReader(full, to_date(lit("2024-06-01")))
    assert(r.good.columns.length === 26)
    assert(r.good.count() === 1 && r.rejects.count() === 1)
    assert(r.good.select("train_key").as[String].head() === "2024-01-01 - T1 - AB")
  }

  test("P3: an input whose every row is rejected is isolated as an empty batch") {
    val in = tmpDir("graft-p3-in")
    val out = tmpDir("graft-p3-out")
    // all rows have an unparseable mandatory Date → all rejected
    Files.writeString(Paths.get(s"$in/bad.csv"), occCsv(Seq(
      occRow("", "AB", "T1", "C1", "5", "q"),
      occRow("", "CD", "T2", "C2", "6", "q")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/good.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "EF", "T3", "C3", "7", "q")), junkRows = 0))
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    assert(res.errors.map(_.path) === Seq(s"$in/bad.csv"))
    assert(res.errors.head.message.contains("empty batch"))
    assert(res.results.find(_.report == ReportType.Occupancy).get.kept.count() === 1)
  }

  /** Minimal all-string workbook (rels-less fallback path): its
    * `workbook.xml` lists `listed` sheets, and only the first has a part.
    */
  private def writeStrXlsx(path: String, rows: Seq[Seq[String]], listed: Int = 1): Unit = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    val sheets = (1 to listed).map(i => s"""<sheet name="Report$i" sheetId="$i"/>""").mkString
    put("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets>$sheets</sheets></workbook>""")
    val body = rows.zipWithIndex.map { case (cells, ri) =>
      val cs = cells.zipWithIndex.map { case (v, ci) =>
        s"""<c r="${('A' + ci).toChar}${ri + 1}" t="str"><v>${scala.xml.Utility.escape(v)}</v></c>"""
      }.mkString
      s"""<row r="${ri + 1}">$cs</row>"""
    }.mkString
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""")
    zos.close()
  }

  test("classifyAll over a workbook batch: pool fan-out equals sequential, and runs concurrently") {
    val in = tmpDir("graft-par-in")
    val occCells = (0 until 24).map(i => Map(0 -> "2024-01-01 00:00:00", 1 -> "AB",
      5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q").getOrElse(i, "1"))
    (0 until 6).foreach { i =>
      writeStrXlsx(s"$in/w$i.xlsx", Seq(Schemas.occupancy.header, occCells))
    }
    val sequential = Pipeline.classifyAll(spark, in, parallelism = 1)
    val pooled = Pipeline.classifyAll(spark, in)
    // identical output (content AND order — fileOrd tiebreakers depend on it)
    assert(pooled === sequential)
    assert(sequential._1.size === 6 && sequential._2.isEmpty)
    assert(sequential._1.forall(_.report == ReportType.Occupancy))

    // the pool genuinely overlaps units — asserted STRUCTURALLY (peak
    // observed in-flight count), not by wall-clock, which flakes under
    // CI load (ADVICE r5). A latch forces every unit to be in flight at
    // once before any may finish, so a sequential pool would deadlock
    // the await (bounded by its timeout) rather than flakily pass.
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val allIn = new java.util.concurrent.CountDownLatch(8)
    val out = Pipeline.parMap((0 until 8).toSeq, 8) { i =>
      val now = inFlight.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, now))
      allIn.countDown()
      // wait for full overlap; a 1-thread pool would time out here, and
      // the peak assertion below fails loudly instead of hanging the suite
      allIn.await(5, java.util.concurrent.TimeUnit.SECONDS)
      inFlight.decrementAndGet()
      i * 2
    }
    assert(out === (0 until 8).map(_ * 2))
    assert(peak.get() === 8, s"expected all 8 units concurrently in flight (peak was ${peak.get()})")
  }

  test("S6 routing: a workbook over the byte threshold reads via the executor-side parse, frame-identical to the driver path") {
    import graft.sources.Xlsx
    val in = tmpDir("graft-dist-route")
    val occCells = (d: String, od: String) => (0 until 24).map(i =>
      Map(0 -> d, 1 -> od, 5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q")
        .getOrElse(i, "1"))
    writeStrXlsx(s"$in/big.xlsx",
      Seq(Seq("junk above"), Schemas.occupancy.header,
        occCells("2024-01-01 00:00:00", "AB"),
        occCells("2024-01-02 00:00:00", "CD"),
        occCells("2024-01-03 00:00:00", "EF")))
    val (classified, un) = Pipeline.classifyAll(spark, in)
    assert(classified.size === 1 && un.isEmpty)
    val ci = classified.head

    // 32 MB and over parses on an executor, anything smaller on the driver
    val threshold = 32L * 1024 * 1024
    assert(!Xlsx.parsesOnExecutor(threshold - 1))
    assert(Xlsx.parsesOnExecutor(threshold))

    // the two execution venues must produce the IDENTICAL frame
    val driverSide = Xlsx.readOnDriver(spark, ci.path, ci.sheet.get, ci.headerIdx, ci.report.schema)
    val executorSide = Xlsx.readOnExecutor(spark, ci.path, ci.sheet.get, ci.headerIdx,
      ci.report.schema)
    assert(executorSide.schema === driverSide.schema)
    assert(executorSide.collect().toSeq === driverSide.collect().toSeq)

    // end to end: readInput's output (this small workbook routes to the
    // driver) equals the reader's output over the executor-side frame,
    // minus the venue-dependent physical tiebreaker ids
    val viaDriver = Pipeline.readInput(spark, ci, 0, spark.emptyDataFrame,
        spark.emptyDataFrame).toOption.get.good.drop("__file_ord", "__row_ord")
    val viaExecutor = OccupancyReader(executorSide
        .withColumn("__file_ord", lit(0))
        .withColumn("__row_ord", monotonically_increasing_id()))
      .good.drop("__file_ord", "__row_ord")
    assert(viaExecutor.columns.toSeq === viaDriver.columns.toSeq)
    assert(viaExecutor.collect().toSeq.sortBy(_.toString)
      === viaDriver.collect().toSeq.sortBy(_.toString))
    assert(viaExecutor.count() === 3L)
  }

  test("classifyAll: an unopenable workbook is unclassified whole, a missing sheet part by sheet, in input order") {
    val in = tmpDir("graft-cls-books")
    Files.writeString(Paths.get(s"$in/occ.csv"),
      occCsv(Seq(occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/bad.xlsx"), "not a zip")
    val occCells = (0 until 24).map(i => Map(0 -> "2024-01-01 00:00:00", 1 -> "AB",
      5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q").getOrElse(i, "1"))
    writeStrXlsx(s"$in/book.xlsx", Seq(Seq("junk above"), Schemas.occupancy.header, occCells),
      listed = 2)
    val (classified, unclassified) = Pipeline.classifyAll(spark, in)
    assert(classified === Seq(
      Pipeline.ClassifiedInput(s"$in/occ.csv", None, 0, ReportType.Occupancy),
      Pipeline.ClassifiedInput(s"$in/book.xlsx", Some(0), 1, ReportType.Occupancy)))
    assert(unclassified === Seq(s"$in/bad.xlsx", s"$in/book.xlsx#sheet1"))
  }

  test("J1: a dimension key with a NULL probe value counts as missing (reference null-check parity)") {
    val raw0 = Seq("T1", "T2", "T3").map(t => ("2024-01-01 10:00:00", t, "AB", "tk1"))
      .toDF("Departure Date", "Train Number", "OD", "Ticket Number")
    val raw = Schemas.trainList.header.foldLeft(raw0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit("1"))
    }
    val hours = Seq(("T1", "09:00:00"), ("T2", null)).toDF("train_number", "departure_time")
    val (_, hist) = tlDims()
    val good = TrainListReader(raw, hours, hist).good
    // T2 exists but carries a null hour; T3 is absent — both missing
    assert(good.filter(TrainListReader.missingDeparture).select("train_number")
      .as[String].collect().toSet === Set("T2", "T3"))
    assert(good.count() === 3)
  }

  test("TL reader: missing train numbers surfaced for abort") {
    val raw0 = Seq(("2024-01-01 10:00:00", "T9", "AB", "tkt1")).toDF(
      "Departure Date", "Train Number", "OD", "Ticket Number")
    val raw = Schemas.trainList.header.foldLeft(raw0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit("1"))
    }
    val hours = Seq(("T1", "09:00:00")).toDF("train_number", "departure_time")
    val hist = Seq(("tkt1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00")))
      .toDF("ticket_number", "operation_date_time")
    val res = TrainListReader(raw, hours, hist)
    assert(res.good.filter(TrainListReader.missingDeparture).select("train_number")
      .as[String].collect().toSeq === Seq("T9"))
    assert(res.good.columns.length === 53)
  }

  test("BPD reader: VAT Penalty consumed by gross-up, 56 output columns") {
    val raw0 = Seq(("B1", "t1", "2024-01-01 10:00:00", "100", "10", "200")).toDF(
      "Booking Code", "Ticket Number", "Operation Date", "Base Price", "VAT Penalty", "Penalty Tariff")
    val raw = Schemas.bookingPayment.header.foldLeft(raw0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c,
        if (c.contains("Date")) lit("2024-01-01 10:00:00") else lit("1"))
    }
    val r = BookingPaymentReader(raw)
    assert(r.good.columns.length === 56)
    assert(!r.good.columns.contains("vat_penalty"))
    assert(r.good.select("penalty_tariff").as[Double].head() === 200 * 1.15)
  }

  test("Main.run: full control loop — gate, load, archive, exit code") {
    // a '#' in the directory must not be read as a sheet suffix
    val in = tmpDir("graft-main#in")
    val exp = tmpDir("graft-main-exp")
    val tgt = tmpDir("graft-main-tgt")
    val arc = tmpDir("graft-main-arc")
    Files.writeString(Paths.get(s"$in/good.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1"),
      occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q2")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/junk.csv"), "not,a,report\n1,2,3")

    val code = Main.run(spark, in, exp, tgt, arc,
      spark.emptyDataFrame, spark.emptyDataFrame, s"$tgt/version_control.txt")
    // junk.csv is unclassified → recorded error → nonzero exit
    assert(code === 1)
    // good file loaded into the partitioned target
    val loaded = spark.read.parquet(s"$tgt/occupancy")
    assert(loaded.count() === 2)
    assert(loaded.columns.contains("date"))
    // audit rows: one per loaded day
    assert(spark.read.parquet(s"$tgt/audit").count() === 2)
    // processed input archived, failed one left in place
    assert(!Files.exists(Paths.get(s"$in/good.csv")))
    assert(Files.exists(Paths.get(s"$arc/good.csv")))
    assert(Files.exists(Paths.get(s"$in/junk.csv")))
  }

  test("Pipeline.run: the load hook reads the pinned consolidation; returned frames are unpinned and recompute") {
    startFromEmptyCache()
    val in = tmpDir("graft-pin-in")
    writeMultiReportInputs(in)
    val (hours, hist) = tlDims()
    // plans built from a NEW Dataset, so the returned frames' own plans
    // are never resolved against the pin
    def readsPin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.select("*").queryExecution.withCachedData.toString.contains("InMemoryRelation")
    // hooks of different reports may run at once: record thread-safely,
    // compare in report order
    val seen = new ConcurrentLinkedQueue[(ReportType, Boolean, Boolean, Long)]
    val res = Pipeline.run(spark, in, tmpDir("graft-pin-out"), "20240101T000000", hours, hist,
      load = r => { seen.add((r.report, readsPin(r.kept), readsPin(r.duplicates), r.kept.count())); () })
    assert(seen.asScala.toSeq.sortBy(s => ReportType.all.indexOf(s._1)) === Seq(
      (ReportType.TrainList, true, true, 2L), (ReportType.Occupancy, true, true, 2L)))
    assertNothingRunningOrPersisted()
    res.results.foreach { r =>
      assert(!readsPin(r.kept) && !readsPin(r.duplicates))
      assert(r.kept.count() === 2 && r.duplicates.count() === 1 && r.kept.collect().length === 2)
    }
    assertNothingRunningOrPersisted()
  }

  test("Pipeline.run reads the by-name dimensions at most once per run, and not without a Train List input") {
    val in = tmpDir("graft-dims-in")
    writeMultiReportInputs(in)
    val (hoursDf, histDf) = tlDims()
    val hoursReads = new java.util.concurrent.atomic.AtomicInteger
    val histReads = new java.util.concurrent.atomic.AtomicInteger
    def hours = { hoursReads.incrementAndGet(); hoursDf }
    def hist = { histReads.incrementAndGet(); histDf }
    val res = Pipeline.run(spark, in, tmpDir("graft-dims-out"), "20240101T000000", hours, hist)
    assert(res.errors.isEmpty)
    // two Train List inputs, one read of each dimension
    assert(hoursReads.get === 1 && histReads.get === 1)

    val occOnly = tmpDir("graft-dims-occ")
    Files.writeString(Paths.get(s"$occOnly/a.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1")), junkRows = 0))
    Pipeline.run(spark, occOnly, tmpDir("graft-dims-out2"), "20240101T000000", hours, hist)
    assert(hoursReads.get === 1 && histReads.get === 1)
  }

  test("Pipeline.run reads the two by-name dimensions at once") {
    val in = tmpDir("graft-dims-both-in")
    writeMultiReportInputs(in)
    val (hoursDf, histDf) = tlDims()
    // each dimension waits until both are being read: a serial read times out here
    val bothIn = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[(String, Boolean)]
    def hours = { bothIn.countDown(); met.add(("hours", bothIn.await(30, TimeUnit.SECONDS))); hoursDf }
    def hist = { bothIn.countDown(); met.add(("history", bothIn.await(30, TimeUnit.SECONDS))); histDf }
    val res = Pipeline.run(spark, in, tmpDir("graft-dims-both-out"), "20240101T000000", hours, hist)
    assert(res.errors.isEmpty)
    assert(met.asScala.toSeq.sorted === Seq(("history", true), ("hours", true)))
  }

  test("Pipeline.run: the dimension reads hold back no other report's chain") {
    val in = tmpDir("graft-dims-aside-in")
    writeMultiReportInputs(in)
    val (hoursDf, histDf) = tlDims()
    // each dimension waits for the Occupancy load: a read ahead of the report chains times out here
    val occLoaded = new CountDownLatch(1)
    val met = new ConcurrentLinkedQueue[(String, Boolean)]
    def hours = { met.add(("hours", occLoaded.await(30, TimeUnit.SECONDS))); hoursDf }
    def hist = { met.add(("history", occLoaded.await(30, TimeUnit.SECONDS))); histDf }
    val res = Pipeline.run(spark, in, tmpDir("graft-dims-aside-out"), "20240101T000000",
      hours, hist, parallelism = 3,
      load = r => if (r.report == ReportType.Occupancy) occLoaded.countDown())
    assert(res.errors.isEmpty)
    assert(met.asScala.toSeq.sorted === Seq(("history", true), ("hours", true)))
  }

  test("J1 on the pin: the message lists the input's 20 smallest missing train numbers, sorted") {
    val in = tmpDir("graft-j1-cap-in")
    val missing = (10 until 35).map(i => s"T$i")
    Files.writeString(Paths.get(s"$in/a.csv"), tlCsv(
      (missing.reverse :+ "T1").map(t => tlRow("2024-01-01 10:00:00", t, "tk1"))))
    val (hours, hist) = tlDims()
    val res = Pipeline.run(spark, in, tmpDir("graft-j1-cap-out"), "20240101T000000", hours, hist)
    assert(res.errors === Seq(Pipeline.InputError(s"$in/a.csv",
      s"train numbers missing from departure times: ${missing.take(20).mkString(", ")}")))
  }

  test("Pipeline.run: the reads of passing header-row-0 CSVs run no Spark job") {
    val in = tmpDir("graft-noread-in")
    writeMultiReportInputs(in)
    val (hours, hist) = tlDims()
    val (res, counts) = SparkCounts.of(spark) {
      Pipeline.run(spark, in, tmpDir("graft-noread-out"), "20240101T000000", hours, hist)
    }
    assert(res.errors.isEmpty && res.done.size === 4)
    // the guards ride each report's pin instead of a job per input
    assert(counts.jobsLabelled("graft:read") === 0, counts)
    assert(counts.jobsLabelled("graft:report") > 0, counts)
  }

  /** Scans of the file or directory named `name` in the optimized plan. */
  private def scansOf(df: org.apache.spark.sql.DataFrame, name: String): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.count {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location.rootPaths.exists(_.getName == name)
      case _ => false
    }

  test("Pipeline.run: a report's reader runs once over the union, so each dimension is scanned once") {
    val in = tmpDir("graft-union-in")
    for (i <- 1 to 3)
      Files.writeString(Paths.get(s"$in/tl_$i.csv"), tlCsv(Seq(
        tlRow(s"2024-01-0$i 10:00:00", "T1", "tk1"), tlRow(s"2024-01-0$i 11:00:00", "T1", "tk2"))))
    val dims = tmpDir("graft-union-dims")
    val (hoursDf, histDf) = tlDims()
    hoursDf.write.option("header", "true").csv(s"$dims/train_hours.csv")
    histDf.write.parquet(s"$dims/history.parquet")
    val res = Pipeline.run(spark, in, tmpDir("graft-union-out"), "20240101T000000",
      spark.read.option("header", "true").csv(s"$dims/train_hours.csv"),
      spark.read.parquet(s"$dims/history.parquet"))
    assert(res.errors.isEmpty && res.done.size === 3)
    // a new Dataset: the plan of the recomputed frame, not of the released pin
    val kept = res.results.find(_.report == ReportType.TrainList).get.kept.select("*")
    assert(kept.count() === 2) // tk1 and tk2, each kept from the last input
    assert(scansOf(kept, "history.parquet") === 1, kept.queryExecution.optimizedPlan)
    assert(scansOf(kept, "train_hours.csv") === 1, kept.queryExecution.optimizedPlan)
  }

  /** The decompressed bytes of one side-channel artifact, part by part. */
  private def artifactBytes(exportDir: String, report: String, channel: String): Seq[Byte] =
    new java.io.File(graft.sinks.SideChannelCsv.artifactPath(exportDir, report, channel,
        "20240101T000000"))
      .listFiles().filter(_.getName.endsWith(".csv.gz")).sortBy(_.getName).toSeq
      .flatMap { f =>
        val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
        try in.readAllBytes().toSeq finally in.close()
      }

  test("P3 + J1 on the pin: failing inputs are isolated, and the artifacts equal a batch without them") {
    val (hours, hist) = tlDims()
    val clean = tmpDir("graft-guard-clean")
    writeMultiReportInputs(clean)
    val mixed = tmpDir("graft-guard-mixed")
    writeMultiReportInputs(mixed)
    // every Date cell empty: all rows rejected (P3); train T9 has no departure time (J1)
    Files.writeString(Paths.get(s"$mixed/occ_ab.csv"), occCsv(Seq(
      occRow("", "AB", "T1", "C1", "8", "q8"),
      occRow("", "EF", "T3", "C3", "9", "q9")), junkRows = 0))
    Files.writeString(Paths.get(s"$mixed/tl_ab.csv"), tlCsv(Seq(
      tlRow("2024-01-01 10:00:00", "T1", "tk1"),
      tlRow("2024-01-04 10:00:00", "T9", "tk2"))))
    val outClean = tmpDir("graft-guard-clean-out")
    val outMixed = tmpDir("graft-guard-mixed-out")
    val resClean = Pipeline.run(spark, clean, outClean, "20240101T000000", hours, hist)
    val resMixed = Pipeline.run(spark, mixed, outMixed, "20240101T000000", hours, hist)
    assert(resClean.errors.isEmpty)
    assert(resMixed.errors === Seq(
      Pipeline.InputError(s"$mixed/tl_ab.csv", "train numbers missing from departure times: T9"),
      Pipeline.InputError(s"$mixed/occ_ab.csv", Pipeline.EmptyBatchMessage)))
    assert(resMixed.done.map(p => Paths.get(p).getFileName.toString) ===
      Seq("occ_a.csv", "occ_b.csv", "tl_a.csv", "tl_b.csv"))
    for (report <- Seq("Train List", "Occupancy");
         channel <- Seq("data exported", "duplicates", "error rows")) {
      val bytes = artifactBytes(outClean, report, channel)
      assert(bytes.nonEmpty || channel == "error rows", s"$report $channel")
      assert(artifactBytes(outMixed, report, channel) === bytes, s"$report $channel")
    }
  }

  test("P3 on the pin: a report whose every input holds no row records each input, and writes nothing") {
    val in = tmpDir("graft-p3-none-in")
    val out = tmpDir("graft-p3-none-out")
    // a header-only sheet reads as a frame with no row
    writeStrXlsx(s"$in/book.xlsx", Seq(Schemas.occupancy.header))
    Files.writeString(Paths.get(s"$in/a.csv"), occCsv(Seq(
      occRow("", "AB", "T1", "C1", "5", "q")), junkRows = 0))
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    assert(res.errors === Seq(
      Pipeline.InputError(s"$in/a.csv", Pipeline.EmptyBatchMessage),
      Pipeline.InputError(s"$in/book.xlsx#sheet0", Pipeline.EmptyBatchMessage)))
    assert(res.results.isEmpty && res.done.isEmpty)
    assert(new java.io.File(out).list().isEmpty)
  }

  test("C3: a dimension value that makes the pin throw isolates only the inputs that use it") {
    val in = tmpDir("graft-c3-dim-in")
    Files.writeString(Paths.get(s"$in/a.csv"), tlCsv(Seq(tlRow("2024-01-01 10:00:00", "T1", "tk1"))))
    Files.writeString(Paths.get(s"$in/b.csv"), tlCsv(Seq(tlRow("2024-01-02 10:00:00", "T2", "tk2"))))
    // T2's departure time fails the strict parse when the rows are computed
    val hours = Seq(("T1", "09:30:00"), ("T2", "9h30")).toDF("train_number", "departure_time")
    val (_, hist) = tlDims()
    val res = Pipeline.run(spark, in, tmpDir("graft-c3-dim-out"), "20240101T000000", hours, hist)
    assert(res.errors.map(_.path) === Seq(s"$in/b.csv"))
    assert(res.done === Seq(s"$in/a.csv"))
    val tl = res.results.find(_.report == ReportType.TrainList).get
    assert(tl.kept.select("ticket_number").as[String].collect().toSeq === Seq("tk1"))
  }

  test("Main.run: each report consolidates once — snapshot equals loaded rows, job count pinned, nothing left persisted") {
    startFromEmptyCache()
    val in = tmpDir("graft-once-in")
    val exp = tmpDir("graft-once-exp")
    val tgt = tmpDir("graft-once-tgt")
    writeMultiReportInputs(in)
    val (hours, hist) = tlDims()
    val (code, counts) = SparkCounts.of(spark) {
      Main.run(spark, in, exp, tgt, tmpDir("graft-once-arc"), hours, hist,
        s"$tgt/version_control.txt")
    }
    assert(code === 0)
    assertNothingRunningOrPersisted()
    for ((name, table) <- Seq("Train List" -> "train_list", "Occupancy" -> "occupancy")) {
      val loaded = spark.read.parquet(s"$tgt/$table")
      val snapDir = new java.io.File(exp).listFiles().map(_.getPath)
        .filter(_.contains(s"$name data exported")).toSeq match { case Seq(d) => d }
      val cols = spark.read.option("header", "true").csv(snapDir).columns.toSeq
      val snap = spark.read.option("header", "true")
        .schema(org.apache.spark.sql.types.StructType(cols.map(loaded.schema(_))))
        .csv(snapDir)
      val back = loaded.select(cols.map(col): _*)
      assert(snap.count() === 2)
      assert(snap.exceptAll(back).isEmpty && back.exceptAll(snap).isEmpty, name)
    }
    assert(counts.jobs <= MainRunJobs, counts)
  }

  test("Main.run: a failed load leaves no running job and nothing persisted; other reports still load") {
    startFromEmptyCache()
    val in = tmpDir("graft-lfail-in")
    val tgt = tmpDir("graft-lfail-tgt")
    writeMultiReportInputs(in)
    // the Occupancy target is a regular file, so its partitioned write fails
    Files.writeString(Paths.get(s"$tgt/occupancy"), "not a table")
    val (hours, hist) = tlDims()
    val arc = tmpDir("graft-lfail-arc")
    val code = Main.run(spark, in, tmpDir("graft-lfail-exp"), tgt, arc,
      hours, hist, s"$tgt/version_control.txt")
    assert(code === 1)
    assert(Files.isRegularFile(Paths.get(s"$tgt/occupancy")))
    assert(spark.read.parquet(s"$tgt/train_list").count() === 2)
    assertNothingRunningOrPersisted()
    // the failed report's inputs stay for the next run; the loaded ones move
    assert(fileNames(in) === Seq("occ_a.csv", "occ_b.csv"))
    assert(fileNames(arc) === Seq("tl_a.csv", "tl_b.csv"))
  }

  /** The sorted names of the files in `dir`. */
  private def fileNames(dir: String): Seq[String] = new java.io.File(dir).list().toSeq.sorted

  test("Main.run: a failing side channel records every input, archives nothing and returns 1") {
    startFromEmptyCache()
    val in = tmpDir("graft-sfail-in")
    val tgt = tmpDir("graft-sfail-tgt")
    val arc = tmpDir("graft-sfail-arc")
    writeMultiReportInputs(in)
    // the export directory is a regular file, so every side channel fails
    val exp = s"${tmpDir("graft-sfail-exp")}/export"
    Files.writeString(Paths.get(exp), "not a directory")
    val (hours, hist) = tlDims()
    val stdout = new java.io.ByteArrayOutputStream
    val code = Console.withOut(stdout) {
      Main.run(spark, in, exp, tgt, arc, hours, hist, s"$tgt/version_control.txt")
    }
    assert(code === 1)
    val summary = stdout.toString("UTF-8")
    for (f <- Seq("tl_a.csv", "tl_b.csv")) assert(summary.contains(s"[input] $in/$f: Train List: "))
    for (f <- Seq("occ_a.csv", "occ_b.csv")) assert(summary.contains(s"[input] $in/$f: Occupancy: "))
    assert(fileNames(in) === Seq("occ_a.csv", "occ_b.csv", "tl_a.csv", "tl_b.csv"))
    assert(fileNames(arc).isEmpty)
    assertNothingRunningOrPersisted()
  }

  test("Main.run: a file that arrives after the run lists its inputs stays in the input directory") {
    val in = tmpDir("graft-late-in")
    val tgt = tmpDir("graft-late-tgt")
    val arc = tmpDir("graft-late-arc")
    writeMultiReportInputs(in)
    val (hoursDf, hist) = tlDims()
    // the Train List reads force the dimension after the listing
    def hours = {
      Files.writeString(Paths.get(s"$in/late.csv"), occCsv(Seq(
        occRow("2024-01-05 00:00:00", "AB", "T1", "C1", "5", "q1")), junkRows = 0))
      hoursDf
    }
    val code = Main.run(spark, in, tmpDir("graft-late-exp"), tgt, arc, hours, hist,
      s"$tgt/version_control.txt")
    assert(code === 0)
    assert(fileNames(in) === Seq("late.csv"))
    assert(fileNames(arc) === Seq("occ_a.csv", "occ_b.csv", "tl_a.csv", "tl_b.csv"))
  }

  private final class HookFailure(msg: String) extends RuntimeException(msg)

  test("Pipeline.run: a throwing load hook neither cancels nor skips the other reports; its failure is recorded against its inputs") {
    startFromEmptyCache()
    val in = tmpDir("graft-iso-in")
    writeMultiReportInputs(in)
    val (hours, hist) = tlDims()
    val occDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val res = Pipeline.run(spark, in, tmpDir("graft-iso-out"), "20240101T000000", hours, hist,
      load = r => r.report match {
        case ReportType.TrainList => throw new HookFailure("train list")
        case _ => assert(r.kept.count() === 2); occDone.set(true)
      })
    assert(occDone.get, "the Occupancy hook did not run to completion")
    assert(res.done === Seq(s"$in/occ_a.csv", s"$in/occ_b.csv"))
    assert(res.errors === Seq(
      Pipeline.InputError(s"$in/tl_a.csv", "Train List: train list"),
      Pipeline.InputError(s"$in/tl_b.csv", "Train List: train list")))
    assert(res.results.map(_.report) === Seq(ReportType.Occupancy))
    assertNothingRunningOrPersisted()

    // both throw: both failures are recorded, in report order
    val both = Pipeline.run(spark, in, tmpDir("graft-iso-out2"), "20240101T000000", hours, hist,
      load = r => throw new HookFailure(r.report.schema.name))
    assert(both.errors.map(e => (e.path, e.message)) === Seq(
      (s"$in/tl_a.csv", "Train List: Train List"), (s"$in/tl_b.csv", "Train List: Train List"),
      (s"$in/occ_a.csv", "Occupancy: Occupancy"), (s"$in/occ_b.csv", "Occupancy: Occupancy")))
    assert(both.done.isEmpty && both.results.isEmpty)
    assertNothingRunningOrPersisted()
  }

  test("Pipeline.run: report chains overlap on the driver pool; parallelism 1 runs them in order on the caller") {
    val in = tmpDir("graft-overlap-in")
    writeMultiReportInputs(in)
    val (hours, hist) = tlDims()
    // each hook waits until both are inside: a serial loop times out here
    val bothIn = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[(ReportType, Boolean)]
    Pipeline.run(spark, in, tmpDir("graft-overlap-out"), "20240101T000000", hours, hist,
      load = r => { bothIn.countDown(); met.add((r.report, bothIn.await(30, TimeUnit.SECONDS))); () })
    assert(met.asScala.toSeq.sortBy(m => ReportType.all.indexOf(m._1)) ===
      Seq((ReportType.TrainList, true), (ReportType.Occupancy, true)))

    val me = Thread.currentThread()
    val calls = new ConcurrentLinkedQueue[(ReportType, Thread)]
    Pipeline.run(spark, in, tmpDir("graft-overlap-out1"), "20240101T000000", hours, hist,
      parallelism = 1, load = r => { calls.add((r.report, Thread.currentThread())); () })
    assert(calls.asScala.toSeq === Seq((ReportType.TrainList, me), (ReportType.Occupancy, me)))
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    import graft.sinks.BucketedTables
    val dir = tmpDir("graft-bkt")
    val a = (0 until 1000).map(i => (i % 50, s"a$i")).toDF("k", "va")
    val b = (0 until 1000).map(i => (i % 50, s"vb$i")).toDF("k", "vb")
    BucketedTables.writeBucketed(a, "bkt_a", s"$dir/a", "k", 8, Seq("k"))
    BucketedTables.writeBucketed(b, "bkt_b", s"$dir/b", "k", 8, Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedTables.coLocatedJoin(spark, "bkt_a", "bkt_b", "k")
      assert(joined.count() === (0 until 50).map(k => 20L * 20L).sum)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"co-located join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("K1-K3: side channels write RFC-4180 CSV: embedded quotes double, never backslash-escaped") {
    import graft.sinks.SideChannelCsv
    val dir = tmpDir("graft-side")
    val df = Seq(("a", "x,y"), ("b", "plain"), ("c", "say \"hi\"")).toDF("k", "v").repartition(2)
    SideChannelCsv.writeDuplicates(df, dir, "Occupancy", "20240101")
    val parts = new java.io.File(SideChannelCsv.artifactPath(dir, "Occupancy", "duplicates", "20240101"))
      .listFiles().filter(_.getName.endsWith(".csv.gz")).toSeq
    assert(parts.nonEmpty)
    val lines = parts.flatMap { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
    }
    // every part carries the header; the records read back as RFC-4180
    assert(lines.filter(_ == "k,v").size === parts.size)
    assert(lines.filterNot(_ == "k,v").sorted === Seq("a,\"x,y\"", "b,plain", "c,\"say \"\"hi\"\"\""))
  }

  test("K4-K6: partition-overwrite load is idempotent and audits per day") {
    val target = tmpDir("graft-sink")
    val audit = tmpDir("graft-audit")
    val df = Seq(("2024-01-01", "a"), ("2024-01-02", "b")).toDF("day", "v")
    val r1 = PartitionOverwriteSink.load(spark, df, "day", s"$target/t", s"$audit/a", "t", "run1")
    assert(r1.days === Seq("2024-01-01", "2024-01-02"))
    assert(r1.streaks.size === 1 && r1.gaps === 0)
    // reload same days: no duplicates (overwrite, not append)
    PartitionOverwriteSink.load(spark, df, "day", s"$target/t", s"$audit/a", "t", "run2")
    assert(spark.read.parquet(s"$target/t").count() === 2)
    // audit: one row per day per run
    assert(spark.read.parquet(s"$audit/a").count() === 4)
  }

  test("K4-K6: dynamic overwrite is set per write — session mode untouched, days outside the batch kept") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    val target = tmpDir("graft-sink-mode")
    try {
      spark.conf.set(key, "STATIC")
      PartitionOverwriteSink.load(spark, Seq(("2024-01-01", "a"), ("2024-01-02", "b")).toDF("day", "v"),
        "day", s"$target/t", s"$target/a", "t", "run1")
      PartitionOverwriteSink.load(spark, Seq(("2024-01-02", "b2"), ("2024-01-03", "c")).toDF("day", "v"),
        "day", s"$target/t", s"$target/a", "t", "run2")
      assert(spark.conf.get(key) === "STATIC")
      val back = spark.read.parquet(s"$target/t")
        .select(col("day").cast("string"), col("v")).as[(String, String)].collect().sorted.toSeq
      assert(back === Seq(("2024-01-01", "a"), ("2024-01-02", "b2"), ("2024-01-03", "c")))
    } finally spark.conf.set(key, prev)
  }

  test("K4-K6: a failed write leaves no running job, no pin and no audit row") {
    startFromEmptyCache()
    val dir = tmpDir("graft-sink-fail")
    Files.writeString(Paths.get(s"$dir/t"), "not a table")
    // slow rows keep the input's tasks running while the write fails
    val slow = udf((i: Long) => { Thread.sleep(250); i.toInt })
    val df = spark.range(0, 8, 1, 2)
      .select(date_add(lit("2024-01-01").cast("date"), slow(col("id"))).cast("string").as("day"), col("id").as("v"))
    intercept[Exception] {
      PartitionOverwriteSink.load(spark, df, "day", s"$dir/t", s"$dir/a", "t", "run1")
    }
    assertNothingRunningOrPersisted()
    // no audit row for a load that did not commit
    assert(!Files.exists(Paths.get(s"$dir/a")))
  }

  test("K6: concurrent loads into one audit directory keep every audit row") {
    val dir = tmpDir("graft-sink-conc")
    val tables = (0 until 8).map(i => s"t$i")
    // each table loads its own days (t<i>: i+1 days from 2024-01-<i*3+1>,
    // skipping the second), so a load that reported another load's
    // observed days would not match its own input
    def daysOf(i: Int): Seq[String] =
      (0 to i + 1).filter(_ != 1).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(i * 3 + d).toString)
    val reports = graft.control.DriverPool.traverse("audit-law", tables.indices, parallelism = 8) { i =>
      val t = tables(i)
      PartitionOverwriteSink.load(spark, daysOf(i).map(d => (d, t)).toDF("day", "v"),
        "day", s"$dir/$t", s"$dir/audit", t, "run1")
    }
    tables.indices.foreach(i => assert(reports(i).days === daysOf(i), tables(i)))
    val audit = spark.read.parquet(s"$dir/audit")
    assert(audit.count() === reports.map(_.days.size).sum)
    assert(audit.select("table").distinct().as[String].collect().sorted.toSeq === tables)
    tables.indices.foreach { i =>
      val periods = audit.filter(col("table") === tables(i)).select("period").as[String].collect().sorted.toSeq
      assert(periods === daysOf(i), tables(i))
    }
  }

  test("sharded export: one sorted file per shard, membership portable, rewrite byte-identical") {
    import graft.sinks.ShardedExport
    val out = tmpDir("graft-shards")
    val df = (0L until 200L).map(i => (i, s"p$i")).toDF("id", "payload")
    ShardedExport.write(df, "id", s"$out/e", 4)
    val dirs = new java.io.File(s"$out/e").listFiles().filter(_.getName.startsWith("shard="))
    assert(dirs.map(_.getName).sorted.toSeq === (0 until 4).map(i => s"shard=$i"))
    // exactly one data file per shard (the co-location contract)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.getName)
    }
    // membership = portable hash, contents sorted by id within each file
    val expectShard = df
      .select(col("id"), (graft.llm.Dedup.hash32(col("id").cast("string")) % 4).as("es"))
      .as[(Long, Long)].collect().toMap
    (0 until 4).foreach { k =>
      val ids = spark.read.parquet(s"$out/e/shard=$k").select("id").as[Long].collect()
      assert(ids.sorted.toSeq === ids.toSeq, s"shard $k not sorted")
      assert(ids.forall(expectShard(_) === k.toLong), s"shard $k has a misplaced id")
    }
    // a rewrite of the same frame reproduces the same bytes per shard
    // (keyed by shard DIRECTORY — data file names share a part number
    // when AQE coalesces the small shards into one task)
    def shardBytes(): Map[String, Seq[Byte]] =
      new java.io.File(s"$out/e").listFiles().filter(_.getName.startsWith("shard="))
        .map(d => d.getName -> java.nio.file.Files.readAllBytes(
          d.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath).toSeq)
        .toMap
    val before = shardBytes()
    val manifest = ShardedExport.write(df, "id", s"$out/e", 4)
    assert(shardBytes() === before, "shard bytes changed on rewrite")
    // manifest: entries match the written files (rows from read-back,
    // bytes and md5 from the actual data files) and round-trip via
    // readManifest; a loader can verify integrity without decoding
    // parquet
    assert(manifest.map(_.shard) === Seq(0L, 1L, 2L, 3L))
    assert(manifest.map(_.n_rows).sum === 200L)
    (0 until 4).foreach { k =>
      val readRows = spark.read.parquet(s"$out/e/shard=$k").count()
      assert(manifest(k).n_rows === readRows, s"manifest rows off for shard $k")
      val file = new java.io.File(s"$out/e/shard=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(manifest(k).n_bytes === file.length(), s"manifest bytes off for shard $k")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(java.nio.file.Files.readAllBytes(file.toPath))
        .map(b => f"$b%02x").mkString
      assert(manifest(k).md5 === hex, s"manifest md5 off for shard $k")
    }
    assert(ShardedExport.readManifest(spark, s"$out/e") === manifest)
    // the manifest file must be invisible to a directory read
    assert(spark.read.parquet(s"$out/e").count() === 200L)
  }

  test("jsonl export: same portable membership, line-sorted shards, lossless round-trip, byte-stable rewrite") {
    import graft.sinks.ShardedExport
    val out = tmpDir("graft-jsonl")
    val df = (0L until 200L).map(i => (i, s"p$i", i * 3))
      .toDF("id", "payload", "n")
    val manifest = ShardedExport.writeJsonl(df, "id", s"$out/e", 4)
    assert(manifest.map(_.shard) === Seq(0L, 1L, 2L, 3L))
    assert(manifest.map(_.n_rows).sum === 200L)
    // same membership law as the parquet export
    val expectShard = df
      .select(col("id"), (graft.llm.Dedup.hash32(col("id").cast("string")) % 4).as("es"))
      .as[(Long, Long)].collect().toMap
    // each shard dir: exactly one .txt file, valid sorted JSON lines
    (0 until 4).foreach { k =>
      val files = new java.io.File(s"$out/e/shard=$k").listFiles()
        .filter(_.getName.endsWith(".txt"))
      assert(files.length === 1, s"shard $k file count")
      val lines = scala.io.Source.fromFile(files.head, "UTF-8").getLines().toSeq
      assert(lines.sorted === lines, s"shard $k not line-sorted")
      assert(lines.forall(l => l.startsWith("{\"id\":") && l.endsWith("}")), s"shard $k malformed lines")
    }
    // lossless round-trip with an explicit schema
    val back = spark.read.schema("id LONG, payload STRING, n LONG")
      .json(s"$out/e").select(col("id"), col("payload"), col("n"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(back.toSeq === (0L until 200L).map(i => (i, s"p$i", i * 3)))
    back.foreach { case (id, _, _) => assert(expectShard(id) >= 0) }
    // rewrite reproduces the same manifest (same bytes, same md5)
    assert(ShardedExport.writeJsonl(df, "id", s"$out/e", 4) === manifest)
  }
}
