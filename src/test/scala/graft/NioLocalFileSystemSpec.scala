package graft

import java.io.{FileNotFoundException, FileOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.hadoop.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The no-fork local filesystem: link status from java.nio (regular
  * file, directory, missing path, symlink), FileContext rename-overwrite
  * through [[NioLocalFs]], and the dropped-permission contract. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def withDir[A](body: java.nio.file.Path => A): A = {
    val d = Files.createTempDirectory("graft_niofs_")
    try body(d)
    finally {
      val all = Files.walk(d).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try all.forEach(p => Files.deleteIfExists(p)) finally all.close()
    }
  }

  private def raw(): NioRawLocalFileSystem = {
    val fs = new NioRawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** A `file:/…` path, the form Spark hands the filesystem. */
  private def hpath(p: java.nio.file.Path) = new Path(p.toUri.toString)

  test("link status of a regular file, a directory and a missing path") {
    withDir { d =>
      val fs = raw()
      val file = d.resolve("f.txt")
      Files.write(file, "abc".getBytes(UTF_8))
      val st = fs.getFileLinkStatus(hpath(file))
      assert(st.isFile && !st.isSymlink && st.getLen == 3)
      assert(st.getPath == fs.makeQualified(hpath(file)))

      val dir = fs.getFileLinkStatus(hpath(d))
      assert(dir.isDirectory && !dir.isSymlink)

      intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(d.resolve("missing"))))
    }
  }

  test("link status of a symlink is the link's, with its qualified target") {
    withDir { d =>
      val fs = raw()
      val target = d.resolve("target.txt")
      Files.write(target, "payload".getBytes(UTF_8))
      val link = Files.createSymbolicLink(d.resolve("link"), target)
      val st = fs.getFileLinkStatus(hpath(link))
      assert(st.isSymlink, "a symlink must be reported as one")
      assert(st.getSymlink == fs.makeQualified(hpath(target)))
      assert(st.getPath == fs.makeQualified(hpath(link)))
      assert(fs.getLinkTarget(hpath(link)) == new Path(target.toString))
      // the target itself is unaffected, and so is a dangling link
      assert(!fs.getFileLinkStatus(hpath(target)).isSymlink)
      val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      assert(fs.getFileLinkStatus(hpath(dangling)).isSymlink)
    }
  }

  test("FileContext rename-overwrite through NioLocalFs replaces the destination") {
    withDir { d =>
      val fc = FileContext.getFileContext(new NioLocalFs(URI.create("file:///"), conf), conf)
      val src = d.resolve("src")
      val dst = d.resolve("dst")
      Files.write(src, "new".getBytes(UTF_8))
      Files.write(dst, "old".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](fc.rename(hpath(src), hpath(dst)))
      fc.rename(hpath(src), hpath(dst), Options.Rename.OVERWRITE)
      assert(!Files.exists(src))
      assert(new String(Files.readAllBytes(dst), UTF_8) == "new")
      // onto a missing destination as well
      fc.rename(hpath(dst), hpath(src), Options.Rename.OVERWRITE)
      assert(!Files.exists(dst) && new String(Files.readAllBytes(src), UTF_8) == "new")
    }
  }

  test("create drops the requested permission; setPermission applies it, sticky bit aside") {
    withDir { d =>
      val fs = new NioLocalFileSystem
      fs.initialize(URI.create("file:///"), conf)
      // the mode a plain FileOutputStream gets under this process's umask
      val plain = d.resolve("plain")
      new FileOutputStream(plain.toFile).close()
      val umaskMode = Files.getPosixFilePermissions(plain)

      val asked = d.resolve("asked")
      fs.create(hpath(asked), new FsPermission("600"), true, 4096, 1.toShort,
        fs.getDefaultBlockSize(hpath(asked)), null).close()
      assert(Files.getPosixFilePermissions(asked) == umaskMode,
        "create must not apply the requested mode (no chmod on create)")

      fs.setPermission(hpath(asked), new FsPermission("600"))
      assert(Files.getPosixFilePermissions(asked) == java.util.Set.of(
        PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE))

      val sticky = Files.createDirectory(d.resolve("sticky"))
      fs.setPermission(hpath(sticky), new FsPermission("1777"))
      val mode = Files.getAttribute(Paths.get(sticky.toString), "unix:mode").asInstanceOf[Int]
      assert((mode & 0x1ff) == Integer.parseInt("777", 8))
      assert((mode & Integer.parseInt("1000", 8)) == 0, "the sticky bit is dropped")
    }
  }
}
