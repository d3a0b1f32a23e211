package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `ForkFreeRawLocalFileSystem` leaves what the stock
  * `RawLocalFileSystem` leaves: the same POSIX bits for every
  * permission it sets, and the same link status for every kind of path.
  * Each check runs both filesystems on their own temp dirs and compares.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {

  private def fileSystems(umask: String = "022"): Seq[(String, FileSystem)] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    Seq("stock" -> new RawLocalFileSystem, "fork-free" -> new ForkFreeRawLocalFileSystem)
      .map { case (n, fs) => fs.initialize(URI.create("file:///"), conf); n -> fs }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** `body(fs, dir)` for each filesystem on a fresh temp dir; the
    * results by filesystem name. */
  private def onBoth[T](umask: String = "022")(body: (FileSystem, JPath) => T): Map[String, T] =
    fileSystems(umask).map { case (n, fs) =>
      val dir = Files.createTempDirectory(s"graft_fs_$n")
      try n -> body(fs, dir)
      finally {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder[JPath]())
          .forEach(p => Files.delete(p))
      }
    }.toMap

  private def hp(p: JPath): Path = new Path(p.toString)

  test("setPermission leaves the stock bits on a file and a directory") {
    val perms = Seq(0x1a4, 0x1ed, 0x180, 0x1c0, 0x1ff, 0) // 0644 0755 0600 0700 0777 0000
    val got = onBoth() { (fs, dir) =>
      val f = dir.resolve("f")
      val d = dir.resolve("d")
      fs.create(hp(f)).close()
      assert(fs.mkdirs(hp(d)))
      val modes = perms.map { m =>
        fs.setPermission(hp(f), new FsPermission(m.toShort))
        fs.setPermission(hp(d), new FsPermission(m.toShort))
        (mode(f), mode(d))
      }
      fs.setPermission(hp(d), new FsPermission(0x1c0.toShort)) // listable again
      modes
    }
    assert(got("stock") == perms.map(m => (m, m)))
    assert(got("fork-free") == got("stock"))
  }

  test("umask-applied create and mkdir defaults leave the stock bits") {
    for (umask <- Seq("022", "077", "002")) {
      val got = onBoth(umask) { (fs, dir) =>
        val u = FsPermission.getUMask(fs.getConf)
        val f = dir.resolve("f")
        val d = dir.resolve("d")
        // FileSystem.create(Path) applies the umask to the file default;
        // FileContext.mkdir hands the raw filesystem the masked dir default
        fs.create(hp(f)).close()
        assert(fs.mkdirs(hp(d), FsPermission.getDirDefault.applyUMask(u)))
        (mode(f), mode(d))
      }
      val u = Integer.parseInt(umask, 8)
      assert(got("stock") == ((0x1b6 & ~u, 0x1ff & ~u)), umask) // 0666, 0777
      assert(got("fork-free") == got("stock"), umask)
    }
  }

  test("01777 on a directory takes the stock path and matches") {
    // NIO has no sticky bit: 01777 on disk shows the stock path ran
    val got = onBoth() { (fs, dir) =>
      val d = dir.resolve("d")
      assert(fs.mkdirs(hp(d)))
      fs.setPermission(hp(d), new FsPermission(0x3ff.toShort))
      mode(d)
    }
    assert(got == Map("stock" -> 0x3ff, "fork-free" -> 0x3ff))
  }

  test("getFileLinkStatus agrees on a file, a directory, two symlinks and a missing path") {
    val got = onBoth() { (fs, dir) =>
      Files.write(dir.resolve("file"), Array.fill[Byte](5)(1))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
      for {
        name <- Seq("file", "dir", "link", "dangling", "missing")
        qualified <- Seq(false, true)
      } yield {
        val p = if (qualified) fs.makeQualified(hp(dir.resolve(name))) else hp(dir.resolve(name))
        // the two trees differ only in their temp dir's name
        val rel = (q: Path) => q.toString.replace(dir.toString, "<dir>")
        val st = scala.util.Try(fs.getFileLinkStatus(p)).map { s =>
          (s.isSymlink, if (s.isSymlink) Some(rel(s.getSymlink)) else None,
            s.isDirectory, s.getLen)
        }
        (name, qualified) -> st.toEither.left.map(_.getClass)
      }
    }
    val stock = got("stock").toMap
    assert(stock(("file", false)) == Right((false, None, false, 5L)))
    assert(stock(("link", false)).exists(_._1), "an unqualified symlink reads as one")
    assert(stock(("missing", false)) == Left(classOf[FileNotFoundException]))
    assert(stock(("missing", true)) == Left(classOf[FileNotFoundException]))
    assert(got("fork-free") == got("stock"))
  }
}
