package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem graft registers for every session (see
  * [[graft.GraftSession]]).
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` shells out for two
  * calls that every streaming checkpoint file goes through: `setPermission`
  * runs `chmod` once per created file or directory, and `getFileLinkStatus`
  * runs `readlink` on `Path.toString` — a `file:/…` string that names no
  * real file, so it always fails and the call never reports a symlink.
  * `FileContext.rename` asks for the link status of source and destination
  * for both the data file and its `.crc`: four spawns per atomic rename.
  * The overrides here make the same two calls through `java.nio` in the
  * JVM. Everything else — the bytes, the `.crc` sidecars, the umask-applied
  * permission bits, the rename — is the inherited Hadoop code.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  /** chmod through `java.nio`. A mode with the sticky bit, a path that
    * already carries setuid/setgid/sticky bits (whose treatment by a numeric
    * `chmod` differs between files and directories), and a filesystem with
    * no POSIX view keep Hadoop's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val plain = (permission.toShort & ~0x1ff) == 0 && (try {
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException => false
    })
    if (!plain) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posixSet(permission.toShort))
  }

  /** Link status with Hadoop's contract: a symlink (dangling or not) comes
    * back with `isSymlink` and a target qualified against the link's
    * directory; anything else is its plain `getFileStatus`.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The unqualified target, as written in the link. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The same shapes Hadoop's non-native `getFileLinkStatus` builds: a live
    * link carries its target's length, times and permission with
    * `isdir = false`; a dangling one carries zeros and the default
    * permission.
    */
  private def linkStatus(f: Path): FileStatus = {
    val path = pathToFile(f).toPath
    if (!Files.isSymbolicLink(path)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(path).toString)
      if (!Files.exists(path))
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      else {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
      }
    }
  }
}

object GraftRawLocalFileSystem {
  private val SpecialBits = 0xe00 // setuid | setgid | sticky (07000)

  // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE,
  // i.e. mode bits 8 down to 0.
  private val ByBit = PosixFilePermission.values.reverse

  private def posixSet(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (bit <- 0 until 9 if (mode & (1 << bit)) != 0) s.add(ByBit(bit))
    s
  }
}

/** The checksummed `FileSystem` (what `fs.file.impl` names). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem, delegating to
  * [[GraftRawLocalFileSystem]]; the overrides mirror Hadoop's `RawLocalFs`.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s checksummed `file:` filesystem (what
  * `fs.AbstractFileSystem.file.impl` names): `.crc` sidecars as in Hadoop's
  * `LocalFs`.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))

object GraftLocalFs {
  /** Hadoop configuration keys → the graft classes, `file:` scheme only. */
  val Impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Idempotent: a registered configuration is only read, since `tune`
    * runs on every table read, possibly from several threads.
    */
  def register(conf: Configuration): Unit =
    Impls.foreach { case (k, v) => if (conf.get(k) != v) conf.set(k, v) }
}
