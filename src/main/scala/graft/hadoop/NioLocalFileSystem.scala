package graft.hadoop

import java.io.{FileNotFoundException, OutputStream}
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** RawLocalFileSystem without the per-file process forks.
  *
  * Without libhadoop (no NativeIO in this environment), EVERY Hadoop
  * local-file create applies its FsPermission by FORKING `chmod` — a
  * multi-GB JVM fork per written file, ~100-200 ms of task time each
  * (found by thread-sampling the bench: every parquet-writing task sat
  * in `RawLocalFileSystem.setPermission → Shell.execCommand`;
  * optimization guide §1/§7). Here:
  *
  *  - creates write with the process umask (permission = null → plain
  *    FileOutputStream, no chmod at all);
  *  - explicit setPermission calls go through java.nio
  *    setPosixFilePermissions — a syscall, not a fork;
  *  - link status (every FileContext rename asks for it, twice) comes
  *    from an `lstat` through java.nio. The stock path forks `readlink`
  *    on the path's `file:/…` string, which always fails, so it cost a
  *    fork per call and never saw a symlink.
  *
  * PERMISSION CONTRACT — a deviation from `RawLocalFileSystem`: a
  * permission passed to `create` is DROPPED. The file gets exactly the
  * mode a plain `FileOutputStream` gets under the process umask, so a
  * caller asking for a restricted mode (say 0600 for a secret) gets the
  * umask default with no warning. Callers that need a mode must call
  * `setPermission` after the create; that applies the user, group and
  * other bits exactly, but not the sticky bit, which
  * `PosixFilePermission` cannot express. Nothing in the engine writes
  * restricted files: every local file it writes is data, a manifest or
  * a checkpoint under the session's own dirs.
  * `NioLocalFileSystemSpec` pins both halves.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  // RawLocalFileSystem inherits FileSystem.getScheme's throwing
  // default; graft.sinks.CommitLog's O_EXCL branch and its reclaim
  // capability gate both dispatch on the scheme
  override def getScheme: String = "file"

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean,
      permission: FsPermission): OutputStream =
    // null permission short-circuits the chmod path entirely: the file
    // is born with the process umask, exactly what a local engine wants
    super.createOutputStreamWithMode(f, append, null)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val perms = new java.util.HashSet[PosixFilePermission]()
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) perms.add(r)
      if (a.implies(FsAction.WRITE)) perms.add(w)
      if (a.implies(FsAction.EXECUTE)) perms.add(x)
    }
    add(permission.getUserAction, PosixFilePermission.OWNER_READ,
      PosixFilePermission.OWNER_WRITE, PosixFilePermission.OWNER_EXECUTE)
    add(permission.getGroupAction, PosixFilePermission.GROUP_READ,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE)
    add(permission.getOtherAction, PosixFilePermission.OTHERS_READ,
      PosixFilePermission.OTHERS_WRITE, PosixFilePermission.OTHERS_EXECUTE)
    Files.setPosixFilePermissions(Paths.get(pathToFile(p).getPath), perms)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val p = pathToFile(f).toPath
    val attrs =
      try Files.readAttributes(p, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist") }
    if (!attrs.isSymbolicLink) getFileStatus(f)
    else {
      // the link's own attributes (lstat), its target qualified as
      // RawLocalFileSystem qualifies it
      val qualified = makeQualified(f)
      new FileStatus(attrs.size, false, 1, getDefaultBlockSize(f),
        attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
        FsPermission.valueOf("-" + PosixFilePermissions.toString(attrs.permissions)),
        attrs.owner.getName, attrs.group.getName,
        FSLinkResolver.qualifySymlinkTarget(getUri, qualified, getLinkTarget(f)),
        qualified)
    }
  }

  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
}

/** Local `file://` FileSystem without per-file chmod forks or checksum
  * twins — wired via `spark.hadoop.fs.file.impl` in
  * [[graft.GraftSession]].
  *
  * Extends the stock [[LocalFileSystem]] (Spark's RocksDB state-store
  * file manager downcasts the `file` scheme to it) but with
  *
  *  - the no-fork [[NioRawLocalFileSystem]] as the raw layer, and
  *  - client-side checksums OFF both ways: no `.crc` twin create (and
  *    its own would-be chmod fork) per written file, no `.crc` lookups
  *    on read. Parquet footers already checksum the data; production
  *    schemes (HDFS/S3) checksum server-side; this class is local-mode
  *    only.
  *
  * Scheme, inode create/delete and O_EXCL semantics are unchanged —
  * [[graft.sinks.CommitLog]]'s kernel-atomic CAS branch and its reclaim
  * capability gate behave exactly as on the stock local filesystem. On
  * a real cluster the data plane is hdfs:///s3a:// and this class is
  * simply never instantiated.
  */
class NioLocalFileSystem
    extends LocalFileSystem(new NioRawLocalFileSystem) {

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** The FileContext (AbstractFileSystem) counterpart of
  * [[NioLocalFileSystem]], wired via
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`. Structured
  * Streaming's CheckpointFileManager prefers the FileContext API for
  * its offset/commit logs and state-store files, so every micro-batch
  * otherwise pays the stock local AbstractFileSystem's chmod fork and
  * `.crc` twin per checkpoint file — the same costs the FileSystem-API
  * class removes for batch writes. Delegates straight to the no-fork
  * raw layer (FileContext's rename-overwrite is RawLocal's
  * kernel-atomic File.renameTo, which the checkpoint manager's
  * atomic-write contract needs). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new NioRawLocalFileSystem, conf, "file", false)
