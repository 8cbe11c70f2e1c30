package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file:`) filesystem every engine session reads and writes
  * through, without starting an OS process per file operation.
  *
  * Without the native-hadoop library, Hadoop's `RawLocalFileSystem` runs
  * `chmod` for every file and directory it creates with a permission
  * (parquet part files, `.crc` files, `_SUCCESS`, commit-protocol and
  * checkpoint directories) and `readlink` for every `getFileLinkStatus`,
  * which each FileContext rename calls — Spark's streaming checkpoint
  * manager renames every offset, commit and sink-log file into place. A
  * `chmod` fork costs 1.6–1.8 ms from a JVM with a 3 GB heap on 4 vCPUs,
  * the same call through `java.nio` about 0.01 ms; one perfbench
  * `ingest_refresh` run made 1 527 such forks.
  * [[RawLocalFiles]] answers both calls in-process with the same result;
  * [[LocalFiles]] (FileSystem API) and [[LocalFilesFs]] (FileContext API)
  * wrap it in Hadoop's checksummed layers, as `LocalFileSystem` and
  * `LocalFs` wrap the stock one.
  */
object LocalFiles {

  /** The Hadoop keys that make these classes serve `file:`, in the
    * `spark.hadoop.` form, so the SparkContext's Hadoop conf (and every
    * conf derived from it, sessions' and tasks' alike) carries them.
    * Hadoop caches one FileSystem per scheme and user whatever the conf,
    * so the first session of a JVM decides the `FileSystem` class;
    * FileContext builds a new `AbstractFileSystem` from the conf it is
    * given every time.
    */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFiles].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFilesFs].getName)
}

/** Hadoop's raw local filesystem with two forks replaced by `java.nio`.
  *
  *  - `setPermission` sets the mode in-process when it has only the nine
  *    rwx bits (every mode Spark and parquet ask for) and keeps Hadoop's
  *    shell `chmod` otherwise.
  *  - `getFileLinkStatus` returns `getFileStatus` unless the path is a
  *    symbolic link. Hadoop runs `readlink` on `new File(f.toString)` and
  *    takes `getFileStatus` when it prints nothing — for a qualified
  *    `file:/…` path always, since no file is named `file:/…` — so the
  *    same file is checked here and links still go to Hadoop. (This is
  *    Hadoop's default status path; its `useStatIfAvailable` test hook
  *    switches to one that runs `stat` instead.)
  */
class RawLocalFiles extends RawLocalFileSystem {
  import RawLocalFiles._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (unixModes && (mode & ~RwxBits) == 0) chmod(pathToFile(p).toPath, mode)
    else super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (isLink(new File(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object RawLocalFiles {
  private val unixModes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val RwxBits = 0x1ff   // 0777
  private val SetIdBits = 0xc00 // 06000
  private val TypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000  // S_IFDIR

  /** `chmod <mode> <path>` in-process: the mode's nine rwx bits, and on a
    * directory its set-user-ID and set-group-ID bits kept, as chmod(1)
    * keeps them under a numeric mode.
    */
  private def chmod(path: java.nio.file.Path, mode: Int): Unit = {
    val old = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    val kept = if ((old & TypeBits) == DirType) old & SetIdBits else 0
    Files.setAttribute(path, "unix:mode", Integer.valueOf(mode | kept))
  }

  /** Whether `readlink` would print a target for this file; true when the
    * path cannot be checked here, so Hadoop's own code decides.
    */
  private def isLink(file: File): Boolean =
    try Files.isSymbolicLink(file.toPath)
    catch { case _: InvalidPathException => true }
}

/** The checksummed `FileSystem` for `file:` (`fs.file.impl`). */
class LocalFiles extends LocalFileSystem(new RawLocalFiles)

/** The checksummed FileContext filesystem for `file:`
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`.
  */
class LocalFilesFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFilesFs(uri, conf))

/** [[RawLocalFiles]] behind the FileContext API, with the overrides of
  * Hadoop's `RawLocalFs`: no default port, the local server defaults and
  * no name validation. Symlink support and link targets come from the
  * delegate, as in `RawLocalFs`.
  */
class RawLocalFilesFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFiles, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  override def isValidName(src: String): Boolean = true
}
