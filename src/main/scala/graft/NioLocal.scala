package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` file system with its metadata calls made through
  * `java.nio`. Without the native-hadoop library the stock class forks a
  * process for each of them: `chmod` after every create and mkdirs,
  * `readlink` per `getFileLinkStatus` (which `FileContext.rename`, and so
  * every atomic checkpoint write, makes twice) and `ls` per lazy
  * `getPermission` of a status it returned. The overrides read and write
  * the same bits with the syscalls that Hadoop's `NativeIO` makes where
  * libhadoop is installed; data, checksums and renames are the stock
  * class's. Needs a JDK with the `unix` attribute view (Linux, macOS).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) of the whole mode, sticky bit included, as
    * `NativeIO.POSIX.chmod` does. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  override def getFileStatus(f: Path): FileStatus =
    status(f, new Path(pathToFile(f).getPath).makeQualified(getUri, getWorkingDirectory), null)

  /** The stock listing, which takes each child's status from
    * [[getFileStatus]]; a file lists as its own status. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val s =
        try status(f, f, target)
        catch { case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      s
    }
  }

  /** `f`'s status as the stock class reports it, read eagerly in one
    * `stat` of what `f` resolves to (the stock class runs `ls -ld` on the
    * canonical path, so a link reports its target's mode and owner). */
  private def status(f: Path, path: Path, symlink: Path): FileStatus = {
    val attrs =
      try Files.readAttributes(pathToFile(f).toPath,
        "unix:mode,owner,group,isDirectory,size,lastModifiedTime,lastAccessTime")
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
    def millis(key: String) = attrs.get(key).asInstanceOf[FileTime].toMillis
    new FileStatus(attrs.get("size").asInstanceOf[Long],
      symlink == null && attrs.get("isDirectory") == true, 1, getDefaultBlockSize(f),
      millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((attrs.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      attrs.get("owner").asInstanceOf[UserPrincipal].getName,
      attrs.get("group").asInstanceOf[GroupPrincipal].getName, symlink, path)
  }
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[NioRawLocalFileSystem]]: `fs.file.impl` in every graft session. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` twin of [[NioLocalFileSystem]], for
  * `FileContext` (the streaming checkpoint manager's):
  * `fs.AbstractFileSystem.file.impl` in every graft session. Hadoop's
  * `LocalFs` over [[NioRawLocalFileSystem]]; `uri` is ignored, as there. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    // as in Hadoop's RawLocalFs
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
