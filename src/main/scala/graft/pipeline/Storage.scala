package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.util.control.NonFatal

/** Storage control plane over the Hadoop FileSystem API — one code path
  * for s3a:// and file:// alike (replaces the reference's boto3
  * side-channel, SURVEY.md §4.3):
  *  - dataset existence probes (ref py:156-184)
  *  - per-file checkpoint markers (ref py:237-276)
  *  - staged-file enumeration (ref py:279-300)
  *  - parquet footer row counts — progress accounting WITHOUT
  *    re-scanning data (the reference re-reads and count()s every file,
  *    py:317-325; footers make that a metadata-only operation).
  */
final class Storage(conf: Configuration) {

  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** C1 — "does any *.parquet exist under prefix?" */
  def datasetExists(dir: String): Boolean = {
    val p = new Path(dir)
    val f = fs(p)
    f.exists(p) && f.globStatus(new Path(p, "*.parquet")).nonEmpty
  }

  /** C5 — enumerate staged parquet files (sorted for determinism). */
  def listParquet(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.globStatus(new Path(p, "*.parquet")).map(_.getPath.toString).sorted.toSeq
  }

  /** C2 — checkpoint marker path convention. */
  def checkpointMarker(checkpointDir: String, fileName: String): Path =
    new Path(checkpointDir, s"$fileName.checkpoint")

  /** C3 — zero-byte marker after a successful per-file load. */
  def createCheckpoint(checkpointDir: String, fileName: String): Unit = {
    val m = checkpointMarker(checkpointDir, fileName)
    val f = fs(m)
    f.mkdirs(m.getParent)
    f.create(m, true).close()
  }

  /** C4 — has this file already been loaded? */
  def checkpointExists(checkpointDir: String, fileName: String): Boolean = {
    val m = checkpointMarker(checkpointDir, fileName)
    fs(m).exists(m)
  }

  def delete(dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Row count from the parquet footer — no data read. */
  def footerRowCount(file: String): Long = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}

/** Exclusive lock file: the one lock protocol of the control plane.
  * The pipeline's workspace lease (`<workspace>/_LEASE`) uses it
  * non-blocking; the keyed table's maintenance lock
  * (`_commits/.maint.lock`) waits on it.
  *
  * Acquire is an exclusive create that writes the holder's token.
  * A holder that dies without releasing is taken over once the file's
  * mtime is older than `staleMs`; live holders call [[renew]] between
  * units of work to keep it fresh. Takeover renames the stale file
  * aside to a stealer-unique name: the rename succeeds for exactly one
  * stealer, so two contenders that saw the same stale lock cannot both
  * tear it down and both hold (a delete-based takeover's TOCTOU). A
  * stealer whose rename caught a fresh lock instead (it was re-created
  * between the stale check and the rename) renames it back; a third
  * contender creating the lock between those two renames still races,
  * a window two renames wide. Release deletes the file only while it
  * still carries our token, so a holder stalled past `staleMs` never
  * deletes its thief's lock.
  *
  * Atomic on HDFS and the local filesystem; object stores need a
  * conditional put or an external lock service, the caveat of every
  * marker-file protocol. */
final class LockFile(conf: Configuration, path: Path, staleMs: Long) {

  private def fs: FileSystem = path.getFileSystem(conf)
  private val token = java.util.UUID.randomUUID().toString

  /** One attempt; false while a live (fresh) holder exists. */
  def tryAcquire(): Boolean = {
    val f = fs
    f.mkdirs(path.getParent)
    create(f) || (isStale(f, path) && stealStale(f) && create(f))
  }

  private def create(f: FileSystem): Boolean =
    LockFile.createExclusive(f, path, token.getBytes("UTF-8"))

  private def isStale(f: FileSystem, p: Path): Boolean =
    try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime > staleMs
    catch { case _: java.io.FileNotFoundException => false }

  private def stealStale(f: FileSystem): Boolean = {
    val parked = new Path(path.getParent, s"${path.getName}.stale.$token")
    val won = try f.rename(path, parked) catch { case NonFatal(_) => false }
    if (!won) false
    else if (isStale(f, parked)) { f.delete(parked, false); true }
    else {
      // a fresh lock: rename it back (same file, so a holder still
      // writing its token loses nothing)
      if (!f.rename(parked, path)) f.delete(parked, false)
      false
    }
  }

  def currentHolder(): Option[String] =
    try {
      val in = fs.open(path)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  def isHeld: Boolean = currentHolder().contains(token)

  /** Heartbeat: bump the file's mtime so the staleness window restarts. */
  def renew(): Unit = if (isHeld) fs.setTimes(path, System.currentTimeMillis(), -1)

  /** Best effort: a lock left behind goes stale and is taken over. */
  def release(): Unit =
    try { if (isHeld) fs.delete(path, false); () } catch { case NonFatal(_) => () }
}

object LockFile {

  /** Atomic create-no-overwrite of `p` holding `body`. Hadoop's local
    * filesystems check exists() and then create, a window two racing
    * writers on one machine can both pass, so local goes through NIO's
    * O_CREAT|O_EXCL (matched by class: `RawLocalFileSystem` subclasses
    * count); every other store keeps its own `create(overwrite =
    * false)` contract (atomic on HDFS). */
  def createExclusive(f: FileSystem, p: Path, body: Array[Byte]): Boolean = f match {
    case _: LocalFileSystem | _: RawLocalFileSystem =>
      try {
        Files.write(Paths.get(p.toUri.getPath), body, StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    case other =>
      try {
        val out = other.create(p, false)
        try out.write(body) finally out.close()
        true
      } catch { case _: FileAlreadyExistsException => false }
  }

}

/** C6 — retry with exponential backoff (ref py:19-36: 3 attempts, 5 s
  * initial delay, ×2; catches everything, re-raises after exhaustion).
  */
object Retry {
  def retry[T](
      attempts: Int = 3,
      initialDelayMs: Long = 5000,
      backoff: Double = 2.0,
      onRetry: (Int, Throwable) => Unit = (_, _) => ())(thunk: => T): T = {
    var delay = initialDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return thunk
      catch {
        case t: Throwable =>
          last = t
          i += 1
          if (i < attempts) {
            onRetry(i, t)
            Thread.sleep(delay)
            delay = (delay * backoff).toLong
          }
      }
    }
    throw last
  }
}
