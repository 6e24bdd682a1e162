package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

/** S10/S12 — file lifecycle on a real filesystem (reference:
  * smartbots-etl/src/infrastructure/file_lifecycle_manager.py:35-189):
  * landing → `En Proceso/` → `Respaldo/yyyy-MM-dd/HH.mm.ss/`, plus the
  * pre-run consolidated backup and downloads-dir hygiene. Driver-side
  * `java.nio` (the engine's data path never touches these moves).
  */
final class Lifecycle(baseDir: String, now: () => LocalDateTime = () => LocalDateTime.now()) {

  val inProcessDir: Path = Paths.get(baseDir, "En Proceso")
  val backupRoot: Path = Paths.get(baseDir, "Respaldo")
  private var backupDir: Option[Path] = None

  /** S10 — timestamped backup folder `Respaldo/yyyy-MM-dd/HH.mm.ss/` for
    * this run (file_lifecycle_manager.py:49-72).
    */
  def initBackupFolder(): Path = {
    val t = now()
    val dir = backupRoot
      .resolve(t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd")))
      .resolve(t.format(DateTimeFormatter.ofPattern("HH.mm.ss")))
    Files.createDirectories(dir)
    backupDir = Some(dir)
    dir
  }

  /** Pre-run copy of the consolidated file into the backup folder as
    * `consolidado_backup_prerun_{run8}` (+ extension).
    */
  def backupConsolidated(consolidatedPath: String, runId: String): Option[Path] =
    backupDir.filter(_ => Files.exists(Paths.get(consolidatedPath))).map { dir =>
      val src = Paths.get(consolidatedPath)
      val name = src.getFileName.toString
      val dot = name.lastIndexOf('.')
      val ext = if (dot >= 0) name.substring(dot) else ""
      val dst = dir.resolve(s"consolidado_backup_prerun_${runId.take(8)}$ext")
      copyRecursive(src, dst)
      dst
    }

  /** Restore the consolidated store from this run's pre-run backup
    * (reference file_lifecycle_manager.py:95-130: `restore_backup` after a
    * post-write failure). The damaged store is moved aside (never deleted
    * — `_corrupt_{run8}`) before the backup copies back, so even a crash
    * mid-restore loses nothing. Returns false when no backup exists.
    */
  def restoreBackup(consolidatedPath: String, runId: String): Boolean = {
    val backup = backupDir
      .map(_.resolve(s"consolidado_backup_prerun_${runId.take(8)}" + {
        val name = Paths.get(consolidatedPath).getFileName.toString
        val dot = name.lastIndexOf('.')
        if (dot >= 0) name.substring(dot) else ""
      }))
      .filter(Files.exists(_))
    backup.exists { src =>
      val dst = Paths.get(consolidatedPath)
      if (Files.exists(dst)) {
        val aside = dst.resolveSibling(dst.getFileName.toString + s"_corrupt_${runId.take(8)}")
        deleteRecursive(aside)
        Files.move(dst, aside, StandardCopyOption.REPLACE_EXISTING)
      }
      copyRecursive(src, dst)
      true
    }
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.walk(p))(
          _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
      else Files.delete(p)
    }

  /** Move a source file to `En Proceso/` (with a pre-copy into the backup
    * folder — the reference copies before moving so a crash never loses
    * the original).
    */
  def moveToInProcess(file: Path): Path = {
    Files.createDirectories(inProcessDir)
    backupDir.foreach(d => copyRecursive(file, d.resolve(file.getFileName)))
    val dst = inProcessDir.resolve(file.getFileName)
    Files.move(file, dst, StandardCopyOption.REPLACE_EXISTING)
    dst
  }

  /** Return a file from `En Proceso/` to the landing dir. Called when
    * per-file processing FAILS: the J4 probe answers "reprocess" for an
    * errored file, but the probe only helps if the bytes are physically
    * back where the next run lists — left in `En Proceso/` the file
    * would be stranded forever and its rows silently lost.
    */
  def returnToLanding(inProcess: Path, landingDir: Path): Path = {
    Files.createDirectories(landingDir)
    val dst = landingDir.resolve(inProcess.getFileName)
    Files.move(inProcess, dst, StandardCopyOption.REPLACE_EXISTING)
    dst
  }

  /** Copy an already-archived file from this run's backup folder back to
    * landing — for files whose merge a run-level rollback REWOUND after
    * they were archived as COMPLETED. The J4 probe reopens them
    * (ROLLED_BACK supersession); this puts the bytes back where the next
    * run lists, so the reprocess actually happens without re-delivery.
    * A copy, not a move: the backup stays intact as the audit trail.
    */
  def restoreFromBackup(fileName: String, landingDir: Path): Boolean =
    backupDir.map(_.resolve(fileName)).filter(Files.exists(_)).exists { src =>
      Files.createDirectories(landingDir)
      copyRecursive(src, landingDir.resolve(fileName))
      true
    }

  /** Final archival: `En Proceso/` → the run's backup folder. */
  def moveToBackup(file: Path): Path = {
    val dir = backupDir.getOrElse(initBackupFolder())
    val dst = dir.resolve(file.getFileName)
    Files.move(file, dst, StandardCopyOption.REPLACE_EXISTING)
    dst
  }

  private def copyRecursive(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src)) {
      scala.util.Using.resource(Files.walk(src))(_.iterator().asScala.toSeq).foreach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else {
          Files.createDirectories(t.getParent)
          Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } else {
      Option(dst.getParent).foreach(Files.createDirectories(_))
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
}
