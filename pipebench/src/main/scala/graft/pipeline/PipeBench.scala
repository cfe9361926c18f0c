package graft.pipeline

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, substring}

import graft.GraftSession
import graft.control.{Archival, ErrorCollector, RunContext, VersionGate}
import graft.operators.Consolidate
import graft.schema.ReportType
import graft.sinks.{PartitionOverwriteSink, SideChannelCsv}

/** Benchmark harness: runs ONE batch of the batch pipeline in this JVM and
  * writes what it measured as one JSON object.
  *
  * {{{
  *   PipeBench run   <workload> <workDir> <result.json>
  *   PipeBench trace <workload> <workDir> <result.json>
  * }}}
  *
  * `workDir` holds `input/`, `train_hours.csv` and `history.parquet`; the
  * batch writes `export/`, `target/` and `archive/` beside them.
  *
  *  - `run` times [[Main.run]] exactly as the scheduler calls it.
  *  - `trace` recomposes [[Main.run]] from the same public calls in the same
  *    order. Each layer's calls run under the job group
  *    `bench:<workload>:<layer>` and inside a wall-clock span; a
  *    [[SparkListener]] attributes jobs, stages, tasks, bytes and each SQL
  *    execution's planning time to the group. Spans stay in memory until
  *    the batch ends.
  *
  * The harness lives in `graft.pipeline` to reuse the pipeline's own
  * driver pool (`Pipeline.parMap`) at its default width, so the traced
  * fan-out is the one `Main.run` uses.
  */
object PipeBench {

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: PipeBench run|trace <workload> <workDir> <result.json>")
    val Array(mode, workload, dir, out) = args
    val t0 = System.nanoTime()
    val spark = GraftSession.getOrCreate("pipebench")
    val setupS = (System.nanoTime() - t0) / 1e9
    val paths = Paths(dir)
    // As Main.main passes them: every Train List input reads both again.
    def hours = spark.read.option("header", "true").csv(s"$dir/train_hours.csv")
    def history = spark.read.parquet(s"$dir/history.parquet")

    val result: Map[String, Any] = mode match {
      case "run" =>
        val t1 = System.nanoTime()
        val code = Main.run(spark, paths.input, paths.export, paths.target, paths.archive,
          hours, history, paths.versionStore)
        Map("exit_code" -> code, "batch_s" -> (System.nanoTime() - t1) / 1e9)
      case "trace" =>
        new Traced(spark, workload, paths).run(hours, history)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result ++ Map("setup_s" -> setupS))
    Files.write(java.nio.file.Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    ()
  }

  final case class Paths(dir: String) {
    val input = s"$dir/input"
    val export = s"$dir/export"
    val target = s"$dir/target"
    val archive = s"$dir/archive"
    val versionStore = s"$target/version_control.txt"
  }

  /** Peak old-generation occupancy after any collection, from the JVM's
    * GC notifications.
    */
  final class OldGenPeak {
    @volatile var peak = 0L
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, usage) =>
            if (pool.contains("Old Gen") || pool.contains("Tenured"))
              OldGenPeak.this.synchronized { peak = math.max(peak, usage.getUsed) }
          }
        }
    }
    beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
    def stop(): Unit =
      beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
  }

  /** Per-job-group totals. Event handlers run on the listener bus thread;
    * everything is read only after [[BenchAccess.drain]].
    */
  final class LayerListener extends SparkListener {
    final class Acc {
      var jobs, stages, tasks, taskMs, inputBytes, shuffleWriteBytes, spillBytes = 0L
      var planMs = 0.0
    }
    val groups = mutable.Map.empty[String, Acc]
    val jobStart = mutable.Map.empty[Int, (String, Long)]
    val jobEnd = mutable.Map.empty[Int, Long]
    private val stageGroup = mutable.Map.empty[Int, String]
    private val execGroup = mutable.Map.empty[Long, String]
    private val blocks = mutable.Map.empty[String, Long]
    var cachedPeakBytes = 0L

    private def acc(g: String) = groups.getOrElseUpdate(g, new Acc)
    private def prop(p: Properties, k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = prop(e.properties, "spark.jobGroup.id").getOrElse("")
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
      jobStart(e.jobId) = (g, e.time)
      prop(e.properties, "spark.sql.execution.id")
        .foreach(id => execGroup.getOrElseUpdate(id.toLong, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { s.jobGroupId.filter(_.nonEmpty).foreach(execGroup(s.executionId) = _) }
      case s: SparkListenerSQLExecutionEnd =>
        BenchAccess.planMs(s).foreach { ms =>
          synchronized { acc(execGroup.getOrElse(s.executionId, "")).planMs += ms }
        }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        if (size > 0) blocks(info.blockId.name) = size else blocks.remove(info.blockId.name)
        cachedPeakBytes = math.max(cachedPeakBytes, blocks.values.sum)
      }
    }
  }

  /** Main.run, recomposed layer by layer under spans and job groups. */
  final class Traced(spark: SparkSession, workload: String, paths: Paths) {
    private val spans = new ConcurrentLinkedQueue[(String, Double, Double)]
    private val epoch0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    private val sc = spark.sparkContext

    /** Times `body` as one call into `layer`. */
    private def span[A](layer: String)(body: => A): A = {
      val s = nowMs
      try body finally { spans.add((layer, s, nowMs)); () }
    }

    /** Labels the jobs the current thread (and pools it starts) submits. */
    private def group(layer: String): Unit =
      sc.setJobGroup(s"bench:$workload:$layer", layer, interruptOnCancel = false)

    private def layer[A](name: String)(body: => A): A = {
      group(name)
      try span(name)(body) finally group("engine")
    }

    // Main.loadDateColumn / Main.withLoadColumns (private there).
    private def loadDateColumn(report: ReportType): String = report match {
      case ReportType.TrainList      => "departure_date_short"
      case ReportType.Occupancy      => "date"
      case ReportType.BookingPayment => "op_day"
    }
    private def withLoadColumns(report: ReportType, df: DataFrame): DataFrame =
      if (report == ReportType.BookingPayment)
        df.withColumn("op_day", substring(col("operation_date_time"), 1, 10))
      else df

    def run(hours: => DataFrame, history: => DataFrame): Map[String, Any] = {
      val listener = new LayerListener
      sc.addSparkListener(listener)
      val heap = new OldGenPeak
      val gc0 = gcMs()

      val engineStart = nowMs
      group("engine")
      val errors = new ErrorCollector
      val ctx = RunContext.now(paths.export, paths.archive)
      var units = 0
      var reads = 0
      var loadDays = 0
      val gate = layer("control")(
        VersionGate.check(paths.versionStore, Main.EngineVersion, isFinal = false))
      if (!gate.proceed)
        errors.record("version-gate", s"engine ${Main.EngineVersion} refused by ${gate.maxSeen}")
      else {
        // Pipeline.run
        val (classified, unclassified) = layer("classify")(Pipeline.classifyAll(spark, paths.input))
        units = classified.size + unclassified.size
        val inputErrors = Seq.newBuilder[Pipeline.InputError]
        val results = ReportType.all.flatMap { report =>
          val mine = classified.filter(_.report == report)
          if (mine.isEmpty) None
          else {
            reads += mine.size
            group("readers")
            val out = Pipeline.parMap(mine.zipWithIndex, Pipeline.DriverPoolParallelism) {
              case (ci, ord) =>
                (ci, span("readers")(Pipeline.readInput(spark, ci, ord, hours, history)))
            }
            group("engine")
            out.collect { case (_, Left(e)) => e }.foreach(inputErrors += _)
            val ok = out.collect { case (_, Right(o)) => o }
            if (ok.isEmpty) None
            else Some(layer("operators") {
              val tiebreak = Seq(col("__file_ord"), col("__row_ord"))
              val ordering = Consolidate.ordering(
                report.schema.sortKeys.filter(k => ok.head.good.columns.contains(k)),
                Consolidate.SortMode.Lexicographic) ++ tiebreak
              val (kept0, dups0) = Consolidate(ok.map(_.good), report.schema.dedupKeys, ordering)
              Pipeline.ReportResult(report, kept0.drop("__file_ord", "__row_ord"),
                dups0.drop("__file_ord", "__row_ord"),
                Consolidate.union(ok.map(_.rejects)).drop("__file_ord", "__row_ord"), None)
            })
          }
        }
        layer("sinks.side")(results.foreach { r =>
          val name = r.report.schema.name
          SideChannelCsv.writeErrors(r.rejects, paths.export, name, ctx.runStamp)
          SideChannelCsv.writeDuplicates(r.duplicates, paths.export, name, ctx.runStamp)
          SideChannelCsv.writeSnapshot(r.kept, paths.export, name, ctx.runStamp)
        })
        val errs = inputErrors.result()
        errs.foreach(e => errors.record("input", s"${e.path}: ${e.message}"))
        unclassified.foreach(p => errors.record("classify", s"no report header found: $p"))

        // Main.run: load, then archive what read cleanly
        results.foreach { r =>
          val name = r.report.schema.name
          try {
            val report = layer("sinks.load")(PartitionOverwriteSink.load(spark,
              withLoadColumns(r.report, r.kept), loadDateColumn(r.report),
              s"${paths.target}/${name.replace(' ', '_').toLowerCase}",
              s"${paths.target}/audit", name, ctx.runStamp))
            loadDays += report.days.size
            if (report.gaps > 0)
              errors.record("load", s"$name: ${report.gaps} gap(s) between date streaks")
          } catch {
            case e: Exception => errors.record("load", s"$name: ${e.getMessage}")
          }
        }
        val failed = (errs.map(_.path) ++ unclassified).map(_.takeWhile(_ != '#')).toSet
        val processed = (Pipeline.discover(paths.input, ".csv") ++
          Pipeline.discover(paths.input, ".xlsx")).filterNot(failed)
        try layer("control")(Archival.archive(processed, paths.archive))
        catch { case e: Exception => errors.record("archive", String.valueOf(e.getMessage)) }
      }
      println(errors.summary)
      val engineEnd = nowMs
      sc.clearJobGroup()

      val gcSpent = gcMs() - gc0
      // one collection after the timed region guarantees a sample even when
      // the batch itself never promoted anything
      System.gc()
      Thread.sleep(200)
      heap.stop()
      BenchAccess.drain(sc)
      sc.removeSparkListener(listener)
      Map(
        "exit_code" -> errors.exitCode,
        "batch_s" -> (engineEnd - engineStart) / 1e3,
        "engine" -> Seq(engineStart, engineEnd),
        "spans" -> spans.asScala.toSeq.map { case (l, s, e) => Seq(l, s, e) },
        "jobs" -> listener.jobStart.toSeq.sortBy(_._1).map { case (id, (g, s)) =>
          Seq(g, s.toDouble, listener.jobEnd.getOrElse(id, s).toDouble) },
        "groups" -> listener.groups.map { case (g, a) =>
          g -> Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
            "task_ms" -> a.taskMs, "input_bytes" -> a.inputBytes,
            "shuffle_write_bytes" -> a.shuffleWriteBytes, "spill_bytes" -> a.spillBytes,
            "plan_ms" -> a.planMs)
        }.toMap,
        "cached_bytes_peak" -> listener.cachedPeakBytes,
        "heap_peak_mb" -> heap.peak / 1e6,
        "gc_ms" -> gcSpent,
        "classify_units" -> units,
        "read_inputs" -> reads,
        "load_days" -> loadDays)
    }

    private def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
}
