package graft.perfbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with the same file operations, minus the
  * process forks. Without Hadoop's native library (Spark's distribution
  * ships none) `RawLocalFileSystem` runs `chmod` in a child process for
  * every file it creates and `readlink` for both ends of every rename.
  * Each checkpoint file costs several forks of the multi-GB driver JVM,
  * about 9,600 per run: they made up most of a batch's time, and their
  * cost swings with the host's load. The checkpoint and state store code
  * above this layer is Spark's own and unchanged; `Main.session` installs
  * these classes for `file:` paths. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val rwx = Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    ()
  }

  /** Hadoop asks `readlink` whether the path is a link; nothing here
    * makes links, so only a real one takes Hadoop's own way. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p) else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local file system over the raw one above. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, used by Spark's default
  * (FileContext-based) checkpoint file manager: Hadoop's `LocalFs`
  * stack over the raw file system above. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf))

class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = fsImpl.getServerDefaults(f)
  @deprecated("as in Hadoop", "") override def getServerDefaults(): FsServerDefaults = fsImpl.getServerDefaults(new Path("/"))
  override def isValidName(src: String): Boolean = true
}
