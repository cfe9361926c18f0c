package graft.control

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

import scala.collection.mutable.ListBuffer

/** Control-plane components (SURVEY §2.10): run context, version gate,
  * error accumulation, archival. All driver-side by design — none of this
  * touches distributed data.
  */

/** F13 — one run timestamp threaded through every artifact name
  * (reference `current_time`, `reports_exporter_v0.83.py:161`).
  */
final case class RunContext(runStamp: String, exportDir: String, archiveDir: String)
object RunContext {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
  def now(exportDir: String, archiveDir: String): RunContext =
    RunContext(ZonedDateTime.now(ZoneOffset.UTC).format(fmt), exportDir, archiveDir)
}

/** C1 — version gate (reference `:242-283`): refuse to run when a newer
  * engine version has already been registered; register this version when
  * it is newer and final. The store is a one-line file (the reference
  * uses a Postgres table; the protocol — read max, compare, conditionally
  * insert — is identical).
  */
object VersionGate {
  final case class Decision(proceed: Boolean, registered: Boolean, maxSeen: Double)

  def check(storePath: String, current: Double, isFinal: Boolean): Decision = {
    val p = Paths.get(storePath)
    val maxSeen =
      if (Files.exists(p))
        Files.readAllLines(p).toArray(Array.empty[String])
          .flatMap(l => l.trim.toDoubleOption).foldLeft(0.0)(math.max)
      else 0.0
    if (current < maxSeen) Decision(proceed = false, registered = false, maxSeen)
    else if (current > maxSeen && isFinal) {
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, s"$current\n",
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      Decision(proceed = true, registered = true, current)
    } else Decision(proceed = true, registered = false, maxSeen)
  }
}

/** C4/K9 — error accumulation with an end-of-run verdict (replaces the
  * reference's dual logger + tkinter popup, `:192-236, :1860-1875`): any
  * recorded error flips the run to failed; the summary is the exit
  * surface (nonzero exit code for schedulers).
  */
final class ErrorCollector {
  private val buf = ListBuffer.empty[(String, String)]
  def record(scope: String, message: String): Unit = buf += ((scope, message))
  def errorsFound: Boolean = buf.nonEmpty
  def all: Seq[(String, String)] = buf.toList
  def summary: String =
    if (buf.isEmpty) "run completed without errors"
    else s"${buf.size} error(s):\n" + buf.map { case (s, m) => s"  [$s] $m" }.mkString("\n")
  def exitCode: Int = if (errorsFound) 1 else 0
}

/** K8 — archival of processed inputs (reference `shutil.move` with
  * overwrite, `:1838-1850`).
  */
object Archival {
  def archive(paths: Seq[String], archiveDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(archiveDir))
    paths.map { src =>
      val dst = Paths.get(archiveDir, Paths.get(src).getFileName.toString)
      Files.move(Paths.get(src), dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
  }
}
