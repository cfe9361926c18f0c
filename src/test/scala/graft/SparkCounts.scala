package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work done by one block: jobs started, tasks ended, shuffle bytes
  * written, and jobs started per job description (`graft:<label>` for the
  * engine's driver-pool work; unlabelled jobs are not keyed).
  */
final case class SparkCounts(jobs: Int, tasks: Int, shuffleWriteBytes: Long,
    jobsByLabel: Map[String, Int]) {
  def jobsLabelled(label: String): Int = jobsByLabel.getOrElse(label, 0)
}

object SparkCounts {

  /** Runs `body` and counts the Spark work it caused. The listener bus is
    * drained before the listener is added and before it is read, so the
    * counts are exact and hold only `body`'s work, as long as nothing else
    * runs on the session meanwhile.
    */
  def of[A](spark: SparkSession)(body: => A): (A, SparkCounts) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffle = new AtomicLong
    val labels = new ConcurrentHashMap[String, Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.merge(_, 1, _ + _))
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        ()
      }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      ListenerBusAccess.drain(sc)
      (a, SparkCounts(jobs.get, tasks.get, shuffle.get, labels.asScala.toMap))
    } finally sc.removeSparkListener(l)
  }
}
