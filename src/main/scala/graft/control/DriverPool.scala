package graft.control

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReferenceArray

import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one way the engine runs concurrent work on the driver.
  *
  * [[traverse]] maps `f` over `xs`. Its contract:
  *  - Results keep input order. With `parallelism <= 1` or at most one
  *    element, `f` runs inline on the caller's thread, with no timeout.
  *  - Otherwise each call makes its own pool of `min(parallelism,
  *    xs.size)` daemon threads `graft-<label>-<n>`, ended before it
  *    returns. Spark local properties are inherited when a thread is
  *    created, so only a per-call pool carries the caller's job group onto
  *    every job. Workers set the description `graft:<label>` and one job
  *    tag per call (a tag, not a group, so the caller's group is kept) on
  *    the session active, or default, when `traverse` is called.
  *  - The first call to fail, in time order, wins: queued calls never
  *    start, the others' Spark jobs are cancelled by the tag, in-flight
  *    calls are waited for without an interrupt (a file swap completes),
  *    and the original exception is rethrown with later ones suppressed.
  *  - Past `timeout`, queued calls never start and the tag's jobs are
  *    cancelled; calls blocked on them end with them. What still runs
  *    after a short grace is interrupted and given one more, and
  *    `TimeoutException` is thrown. Daemon threads cannot block JVM exit
  *    even if a call hangs.
  */
object DriverPool {
  private val GraceMs = 5000L

  def traverse[A, B](label: String, xs: Seq[A], parallelism: Int,
      timeout: Duration = Duration.Inf)(f: A => B): Seq[B] =
    if (parallelism <= 1 || xs.sizeIs <= 1) xs.map(f)
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext).filterNot(_.isStopped)
      val tag = s"graft-$label-${java.util.UUID.randomUUID}"
      def cancelJobs(): Unit = sc.foreach(_.cancelJobsWithTag(tag))
      val threads = new ConcurrentLinkedQueue[Thread]
      val pool = Executors.newFixedThreadPool(math.min(parallelism, xs.size), { (r: Runnable) =>
        val t = new Thread(r, s"graft-$label-${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
      val failures = new ConcurrentLinkedQueue[Throwable]
      val out = new AtomicReferenceArray[Any](xs.size)
      xs.iterator.zipWithIndex.foreach { case (x, i) =>
        pool.execute { () =>
          if (failures.isEmpty) try {
            sc.foreach { c => c.setJobDescription(s"graft:$label"); c.addJobTag(tag) }
            out.set(i, f(x))
          } catch {
            case e: Throwable => failures.add(e); cancelJobs()
          }
        }
      }
      pool.shutdown()
      val start = System.nanoTime()
      try {
        // re-cancel while failed: a sibling may submit a job after the first cancel
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS)) {
          if (!failures.isEmpty) cancelJobs()
          if (timeout.isFinite && System.nanoTime() - start > timeout.toNanos)
            throw new TimeoutException(s"graft:$label: ${xs.size} calls not done after $timeout")
        }
      } catch {
        case e: Throwable =>
          // fail like a failing call, so queued calls never start. A call
          // blocked on a cancelled job returns only once the scheduler has
          // failed the job, so it is not interrupted out of the wait; the
          // re-cancel catches a job submitted after the first cancel.
          failures.add(e)
          cancelJobs()
          val graceEnd = System.nanoTime() + GraceMs * 1000L * 1000
          while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS) &&
              System.nanoTime() < graceEnd) cancelJobs()
          // what still runs is outside a Spark job: interrupt it
          pool.shutdownNow()
          pool.awaitTermination(GraceMs, TimeUnit.MILLISECONDS)
          throw e
      } finally if (pool.isTerminated) threads.forEach(_.join(GraceMs))
      failures.asScala.toList match {
        case first :: later =>
          later.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case Nil => xs.indices.map(i => out.get(i).asInstanceOf[B])
      }
    }
}
