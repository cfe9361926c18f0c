package graft.control

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusAccess, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

import graft.{SparkCounts, SparkSuite}

/** The laws of [[DriverPool.traverse]], the engine's one driver pool. */
class DriverPoolSpec extends SparkSuite {

  private final class Boom extends RuntimeException("boom")

  /** One single-task Spark job whose row sleeps up to 60 s; the task ends
    * early once Spark kills it.
    */
  private def longJob(): Unit = {
    val slow = udf { (i: Long) =>
      val end = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < end && !TaskContext.get().isInterrupted()) Thread.sleep(20)
      i
    }
    spark.range(0, 1, 1, 1).select(slow(col("id"))).collect(): Unit
  }

  private def awaitActiveJob(): Unit = {
    val end = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getActiveJobIds.isEmpty && System.nanoTime() < end)
      Thread.sleep(20)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.nonEmpty, "the long job never started")
  }

  private def assertNoActiveJob(): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  private def poolThreads(label: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"graft-$label-"))

  test("(a) results keep input order, and the pool runs calls concurrently") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val allIn = new CountDownLatch(8)
    val out = DriverPool.traverse("overlap", 0 until 8, parallelism = 8) { i =>
      val now = inFlight.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, now))
      allIn.countDown()
      // a pool narrower than 8 would time out here, and the peak assertion fails
      allIn.await(5, TimeUnit.SECONDS)
      inFlight.decrementAndGet()
      i * 2
    }
    assert(out === (0 until 8).map(_ * 2))
    assert(peak.get() === 8, s"expected all 8 calls concurrently in flight (peak was ${peak.get()})")
  }

  // both orders: a failure after the sibling in input order must not wait
  // the sibling out; one before it must not leave the sibling's job running
  for ((sibling, failing) <- Seq((0, 1), (1, 0)))
    test(s"(b) a failing call rethrows its own exception, cancels a sibling's job and drops " +
      s"queued calls (sibling $sibling)") {
      assertNoActiveJob()
      val ran = new ConcurrentLinkedQueue[Int]
      val t0 = System.nanoTime()
      val e = intercept[Boom] {
        DriverPool.traverse("fail", 0 until 6, parallelism = 2) { i =>
          ran.add(i)
          if (i == sibling) longJob()
          else if (i == failing) { awaitActiveJob(); throw new Boom }
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 30, s"the sibling's job was waited out ($secs s), not cancelled")
      assert(e.getSuppressed.nonEmpty, "the cancelled sibling's failure is attached as suppressed")
      assertNoActiveJob()
      assert(ran.asScala.toSet === Set(0, 1), "queued calls must never start")
      assert(poolThreads("fail").isEmpty)
    }

  test("(c) a timeout cancels the calls' jobs and leaves no live pool thread") {
    assertNoActiveJob()
    val t0 = System.nanoTime()
    intercept[TimeoutException] {
      DriverPool.traverse("timeout", 0 until 2, parallelism = 2, timeout = 2.seconds) { i =>
        if (i == 0) longJob() else awaitActiveJob()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 30, s"the timeout took $secs s")
    assertNoActiveJob()
    assert(poolThreads("timeout").isEmpty, poolThreads("timeout").map(_.getName))
  }

  test("(c) past the timeout, a job a call submits late is cancelled too, and the call ends with it") {
    assertNoActiveJob()
    intercept[TimeoutException] {
      DriverPool.traverse("late", 0 until 2, parallelism = 2, timeout = 1.second) { i =>
        if (i == 0) {
          // slow planning that swallows interrupts, then a job
          val end = System.nanoTime() + 2L * 1000 * 1000 * 1000
          while (System.nanoTime() < end)
            try Thread.sleep(20) catch { case _: InterruptedException => () }
          longJob()
        }
      }
    }
    assertNoActiveJob()
    assert(poolThreads("late").isEmpty, poolThreads("late").map(_.getName))
  }

  test("(d) jobs from a call keep the caller's job group and carry the label") {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[Properties]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { props.add(e.properties); () }
    }
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val (_, counts) = SparkCounts.of(spark) {
        DriverPool.traverse("labels", Seq(1L, 2L), parallelism = 2) { n =>
          spark.range(n).count()
        }
      }
      ListenerBusAccess.drain(sc)
      assert(counts.jobs === props.size)
      assert(props.size >= 2)
      props.asScala.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") === "caller-group")
        assert(p.getProperty("spark.job.description") === "graft:labels")
      }
    } finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
    }
    // the caller's own thread is left as it was
    assert(sc.getLocalProperty("spark.job.description") === null)
  }

  test("(e) with parallelism 1 or a single element, calls run on the caller's thread") {
    val me = Thread.currentThread()
    assert(DriverPool.traverse("inline", 1 to 3, parallelism = 1)(_ => Thread.currentThread())
      .forall(_ eq me))
    assert(DriverPool.traverse("inline", Seq(1), parallelism = 8)(_ => Thread.currentThread())
      .forall(_ eq me))
  }

  test("source guard: no thread pool, Future or Await outside DriverPool") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (${root.toAbsolutePath})")
    val forbidden = Seq("Executors.", "scala.concurrent.Future", "Await.",
      "ExecutionContext.fromExecutor")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graft", "control", "DriverPool.scala")))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if forbidden.exists(line.contains) => s"${root.relativize(p)}:${i + 1}: $line"
        }
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
