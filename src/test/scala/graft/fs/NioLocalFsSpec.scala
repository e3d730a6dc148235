package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem against stock Hadoop: every outcome a
  * caller can observe — permission bits of created files and dirs, link
  * status, checksum sidecars across an OVERWRITE rename — must equal
  * what stock `RawLocalFileSystem` / `LocalFs` produce on the same input.
  * Stock is the oracle here, so these specs launch processes. */
class NioLocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def conf(umask: String, nio: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (nio) c.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    c
  }

  private def localFs(nio: Boolean, c: Configuration): LocalFileSystem = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem()
    fs.initialize(root, c)
    fs
  }

  private def rawFs(nio: Boolean): RawLocalFileSystem = {
    val fs = if (nio) new NioRawLocalFileSystem else new RawLocalFileSystem()
    fs.initialize(root, new Configuration())
    fs
  }

  /** Full mode bits (sticky included) as the kernel reports them. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def hpath(p: JPath): Path = new Path(p.toUri)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private val requests = Seq("600", "644", "755", "777").map(octal)
  private val umasks = Seq("022", "077")

  /** Per (umask, request): the mode `make` leaves on a fresh target,
    * stock then nio. */
  private def modes(make: (Boolean, Configuration, JPath, FsPermission) => Unit)
      : Seq[(String, Int, Int, Int)] =
    for (u <- umasks; r <- requests) yield {
      val Seq(stock, nio) = Seq(false, true).map { useNio =>
        val dir = Files.createTempDirectory("graft-nio-perm")
        val target = dir.resolve("x")
        make(useNio, conf(u, useNio), target, new FsPermission(r.toShort))
        mode(target)
      }
      (u, r, stock, nio)
    }

  private def assertSameAsStock(rows: Seq[(String, Int, Int, Int)]): Unit =
    rows.foreach { case (u, r, stock, nio) =>
      assert(nio == stock, f"umask $u request $r%04o: nio $nio%04o vs stock $stock%04o")
      val expected = new FsPermission(r.toShort).applyUMask(new FsPermission(u)).toShort
      assert(nio == expected, f"umask $u request $r%04o: $nio%04o, want $expected%04o")
    }

  test("FileSystem.create sets the same permission bits as stock under the same umask") {
    assertSameAsStock(modes { (nio, c, target, perm) =>
      localFs(nio, c).create(hpath(target), perm, true, 4096, 1.toShort, 1L << 20, null).close()
    })
  }

  test("FileContext.create sets the same permission bits as stock under the same umask") {
    assertSameAsStock(modes { (nio, c, target, perm) =>
      val fc = FileContext.getFileContext(root, c)
      val afs = fc.getDefaultFileSystem
      assert(afs.getClass == (if (nio) classOf[NioLocalFs] else classOf[LocalFs]))
      assert(afs.getUri == root && afs.getUriDefaultPort == -1)
      fc.create(hpath(target), java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm)).close()
    })
  }

  test("mkdirs sets the same permission bits as stock under the same umask") {
    assertSameAsStock(modes { (nio, c, target, perm) =>
      assert(localFs(nio, c).mkdirs(hpath(target), perm))
    })
  }

  test("setPermission lands the same bits as stock chmod, sticky bit included") {
    // the umask drops the sticky bit on create and mkdirs, so only an
    // explicit setPermission reaches the stock fallback
    for (bits <- Seq("600", "755", "1777").map(octal); isDir <- Seq(false, true)) {
      val Seq(stock, nio) = Seq(false, true).map { useNio =>
        val dir = Files.createTempDirectory("graft-nio-chmod")
        val target = if (isDir) Files.createDirectory(dir.resolve("d")) else Files.createFile(dir.resolve("f"))
        rawFs(useNio).setPermission(hpath(target), new FsPermission(bits.toShort))
        mode(target)
      }
      assert(nio == stock && nio == bits, f"chmod $bits%04o dir=$isDir: nio $nio%04o stock $stock%04o")
    }
  }

  test("getFileLinkStatus on a file, a dir, a missing path and a symlink matches stock") {
    val dir = Files.createTempDirectory("graft-nio-link")
    val file = Files.write(dir.resolve("f"), "payload".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val missing = dir.resolve("nope")
    val (stock, nio) = (rawFs(nio = false), rawFs(nio = true))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime)
    // both spellings Spark and callers use: bare path and qualified URI
    for (p <- Seq(file, sub, link); spelled <- Seq(new Path(p.toString), hpath(p))) {
      assert(view(nio.getFileLinkStatus(spelled)) == view(stock.getFileLinkStatus(spelled)),
        s"$spelled")
    }
    val f = nio.getFileLinkStatus(new Path(file.toString))
    assert(f.isFile && !f.isSymlink && f.getLen == 7)
    assert(nio.getFileLinkStatus(new Path(sub.toString)).isDirectory)
    val l = nio.getFileLinkStatus(new Path(link.toString))
    assert(l.isSymlink, "a real link must report as a link")
    assert(l.getSymlink.toUri.getPath == file.toString)
    for (fs <- Seq(stock, nio); spelled <- Seq(new Path(missing.toString), hpath(missing)))
      intercept[FileNotFoundException](fs.getFileLinkStatus(spelled))
  }

  test("a FileContext OVERWRITE rename carries the .crc sidecar as stock LocalFs does") {
    def outcome(nio: Boolean): (Seq[String], String) = {
      val dir = Files.createTempDirectory("graft-nio-rename")
      val fc = FileContext.getFileContext(root, conf("022", nio))
      def put(name: String, text: String): Path = {
        val p = hpath(dir.resolve(name))
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes("UTF-8")) finally out.close()
        p
      }
      val src = put("src", "new horizon")
      val dst = put("dst", "an older and longer marker")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val names = Files.list(dir).map[String](_.getFileName.toString).toArray.map(_.toString).sorted.toSeq
      val in = fc.open(dst) // the checksummed read verifies against the carried sidecar
      try (names, new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
    val stock = outcome(nio = false)
    assert(stock == (Seq(".dst.crc", "dst"), "new horizon"), s"stock: $stock")
    assert(outcome(nio = true) == stock)
  }
}
