package graft.util

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.{PosixFilePermissions, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file://` file systems: Hadoop's local ones without the
  * process forks.
  *
  * Without `libhadoop.so` (any Spark install that does not ship
  * Hadoop's native library) Hadoop's `RawLocalFileSystem` shells out:
  *
  *  - `chmod` in `setPermission`, once for every file, `.crc` sidecar
  *    and directory it creates — about 200 forks for one 64-bucket
  *    `partitionBy` write;
  *  - `ls -ld` the first time a status's permission, owner or group is
  *    read — every entry of a `listFiles` walk, because
  *    `LocatedFileStatus` copies all three;
  *  - `readlink` in `getFileLinkStatus`, which `FileContext`'s rename
  *    calls — twice per file of every streaming checkpoint commit.
  *
  * [[Raw]] answers those three in-process through `java.nio` with the
  * same bits, names and errors. Everything else is the stock code:
  * [[Checked]] is Hadoop's `LocalFileSystem` (so checksumming, `.crc`
  * sidecars and checksum verification on read are unchanged) over
  * [[Raw]], for the `FileSystem` API; [[Context]] is the same for the
  * `FileContext` API that Spark's streaming checkpoints use.
  * [[graft.GraftSession.LocalFsConf]] installs both.
  */
object LocalFs {

  /** `RawLocalFileSystem` with in-process `setPermission`, status
    * permissions and link checks.
    */
  class Raw extends RawLocalFileSystem {

    /** chmod(2) with the request's 9 rwx bits; the umask is already
      * applied by the caller, as for the stock chmod(1). The stock fork
      * stays for what chmod(2) through `java.nio` cannot say the same
      * way: no `unix` attribute view, a request with the sticky bit, or
      * a path that already carries setuid, setgid or sticky bits
      * (chmod(1) keeps a directory's setuid/setgid under a 4-digit
      * octal mode; `setPosixFilePermissions` would clear them). A
      * missing path raises `NoSuchFileException`, an `IOException`
      * like the stock `ExitCodeException`.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val path = pathToFile(p).toPath
      val inProcess = (mode & ~0x1ff) == 0 && unixMode(path).exists(m => (m & ~0x1ff) == 0)
      // FsPermission spells 9 rwx bits as "rw-r--r--", the format
      // PosixFilePermissions parses
      if (inProcess)
        Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(permission.toString))
      else super.setPermission(p, permission)
    }

    /** The stock status with its permission, owner and group read from
      * the `unix` attribute view on first use instead of `ls -ld`.
      */
    override def getFileStatus(f: Path): FileStatus = new Status(super.getFileStatus(f))

    /** The stock check forks `readlink` on `new File(f.toString)`. For
      * a qualified `file:` path that names nothing (the scheme becomes
      * part of a relative path), so the answer is "not a link" and the
      * stock code returns `getFileStatus(f)`. Same test, in-process;
      * a real link keeps the stock code.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's checksummed `LocalFileSystem` over [[Raw]]: `fs.file.impl`. */
  class Checked extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `org.apache.hadoop.fs
    * .local.LocalFs` with [[Raw]] underneath. `AbstractFileSystem`
    * instantiates it through this (URI, Configuration) constructor; like
    * the stock one it always serves `file:///`.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `RawLocalFs` (whose constructors are package-private)
    * over [[Raw]].
    */
  private class RawContext(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** st_mode (file type bits masked off), or None without a `unix`
    * attribute view. Follows links, like chmod(1) and `ls -ld` on the
    * canonical path the stock code passes them.
    */
  private def unixMode(p: NioPath): Option[Int] =
    try Some(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    catch { case _: UnsupportedOperationException => None }

  /** The stock `DeprecatedRawLocalFileStatus` loads permission, owner and
    * group together, on first use, from `ls -ld` on the canonical path:
    * rwx bits (an `s` counts as x) plus sticky, and the owner and group
    * names (numeric ids when unnamed, as `java.nio` gives them too). This
    * status loads the same three on first use from the `unix` attribute
    * view of the same path. Without that view it takes the stock
    * status's (forking) answer; a path that vanished fails with a
    * `RuntimeException`, like the stock one.
    */
  private final class Status(stock: FileStatus) extends FileStatus(stock.getLen,
      stock.isDirectory, stock.getReplication, stock.getBlockSize,
      stock.getModificationTime, stock.getAccessTime, null, null, null, stock.getPath) {
    private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        try {
          val a = Files.readAttributes(new File(getPath.toUri).toPath, "unix:mode,owner,group")
          setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
          setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
          setGroup(a.get("group").asInstanceOf[UserPrincipal].getName)
        } catch {
          case _: UnsupportedOperationException =>
            setPermission(stock.getPermission)
            setOwner(stock.getOwner)
            setGroup(stock.getGroup)
          case e: IOException =>
            throw new RuntimeException(s"Error while reading the permissions of $getPath", e)
        }
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
