package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's checksummed local filesystem
  * without a child process per file op.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * for every file create and directory create that carries a permission,
  * and `readlink` for every `getFileLinkStatus`, which `FileContext`
  * calls on each create, rename and mkdir. A streaming checkpoint commits
  * each micro-batch through several small atomic files (offset WAL, state
  * delta, sink log, commit log) and a store commits each version through
  * one, so those children were a large share of every collector tick
  * and store commit.
  *
  * [[LocalFs.Raw]] overrides only those two calls and returns the stock
  * `FileStatus` and `Path` objects everywhere: Spark's file-stream source
  * keys its seen-files log by the status path's string, so a checkpoint
  * written under one filesystem must resume under the other.
  * `LocalFs` is the `FileSystem` API (`fs.file.impl`), [[LocalFs.Afs]]
  * the `FileContext` one (`fs.AbstractFileSystem.file.impl`).
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    /** java.nio in place of a `chmod` child; a sticky bit, which POSIX
      * file attributes cannot express, takes the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    /** What the stock call returns after its `readlink` child finds no
      * link; a symbolic link takes the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` over [[Raw]] (its constructors are
    * package-private, so its overrides are repeated here). */
  class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop's `LocalFs`: checksums over [[RawAfs]]. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** Make `conf` resolve `file:` to graft's filesystem for both APIs, and
    * drop a stock instance that `FileSystem.get` cached before. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[LocalFs].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[Afs].getName)
    val cached = FileSystem.get(URI.create("file:///"), conf)
    if (!cached.isInstanceOf[LocalFs]) cached.close()
  }
}
