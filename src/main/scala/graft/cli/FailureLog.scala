package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

/** On-disk failure artifacts (K3): replayable logs of everything that
  * failed or was scrubbed, in the reference's layout — a per-run
  * timestamped directory `log/yyyy_MM_dd_HH_mm_ss` (CreateDateDir,
  * cmd/app.go:219-236) holding one append-only `<name>.log` per failure
  * class (LogError / LogAlterSql, cmd/app.go:83-125). Appends are
  * synchronized because phase workers log concurrently; each line is one
  * failed statement or bad value, so a failed run can be replayed from
  * the artifacts alone.
  */
final class FailureLog(base: Path, clock: () => LocalDateTime = () => LocalDateTime.now()) {

  val dir: Path = base.resolve("log")
    .resolve(clock().format(DateTimeFormatter.ofPattern("yyyy_MM_dd_HH_mm_ss")))
  Files.createDirectories(dir)

  private def append(name: String, line: String): Unit = synchronized {
    Files.write(dir.resolve(s"$name.log"),
      (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** LogError shape (cmd/app.go:83-108): content + " -- ErrorInfo " + err. */
  def logError(name: String, content: String, errInfo: String): Unit =
    append(name, s"$content -- ErrorInfo $errInfo")

  /** LogAlterSql shape (cmd/app.go:110-125): the raw line. */
  def logLine(name: String, content: String): Unit = append(name, content)

  /** Read an artifact back (test/replay surface). */
  def read(name: String): Seq[String] = {
    val f = dir.resolve(s"$name.log")
    if (Files.exists(f)) Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
    else Seq.empty
  }
}

object FailureLog {
  // artifact names, exactly as the reference writes them
  val TableCreateFailed = "tableCreateFailed"     // tablemeta.go:150
  val SeqCreateFailed = "seqCreateFailed"         // tablemeta.go:182,189
  val IdxCreateFailed = "idxCreateFailed"         // tablemeta.go:246
  val FkCreateFailed = "FkCreateFailed"           // tablemeta.go:288
  val ViewCreateFailed = "viewCreateFailed"       // tablemeta.go:322
  val TriggerCreateFailed = "TriggerCreateFailed" // tablemeta.go:355
  val ErrorTableData = "errorTableData"           // root.go:477,494
  val FailedTable = "failedTable"                 // root.go:476,492
  val InvalidTableData = "invalidTableData"       // root.go:466

  /** Bad-value capture is a bounded sample: the reference logs every
    * affected value inline during its row loop; here the COPY encoder
    * keeps the first N values it stripped in each partition and JdbcSink
    * logs the first N per table, so the artifact stays useful without an
    * unbounded driver collect at corpus scale. */
  val InvalidSampleLimit = 20
}
