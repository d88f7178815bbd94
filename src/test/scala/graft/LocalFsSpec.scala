package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystems against stock Hadoop as the oracle:
  * same permissions on disk, same link statuses, same rename and checksum
  * behaviour through `FileContext`.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val nio = init(new NioRawLocalFileSystem)
  private val both = Seq("stock" -> stock, "nio" -> nio)

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)
  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission and an umask-applied create leave stock Hadoop's permissions") {
    val dir = tmp("graft_lfs_perm")
    for (mode <- Seq("600", "644", "700", "755", "777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val got = both.map { case (name, fs) =>
        val f = Files.createFile(dir.resolve(s"$name-$mode"))
        val d = Files.createDirectory(dir.resolve(s"$name-$mode.d"))
        fs.setPermission(new Path(f.toString), perm)
        fs.setPermission(new Path(d.toString), perm)
        (perms(f), perms(d))
      }
      assert(got.head === got(1), s"mode $mode")
      assert(got.head._1 === PosixFilePermissions.toString(NioRawLocalFileSystem.posix(perm)))
    }
    val created = both.map { case (name, fs) =>
      fs.create(new Path(dir.resolve(s"$name-created").toString)).close()
      fs.mkdirs(new Path(dir.resolve(s"$name-made/sub").toString))
      (perms(dir.resolve(s"$name-created")), perms(dir.resolve(s"$name-made/sub")))
    }
    assert(created.head === created(1))
  }

  test("getFileLinkStatus matches stock Hadoop for files, dirs, links and missing paths") {
    val dir = tmp("graft_lfs_link")
    val file = Files.write(dir.resolve("file"), "twelve bytes".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def shape(s: FileStatus) = (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
      if (s.isSymlink) Some(s.getSymlink) else None)
    for (p <- Seq(file, sub, link, dangling)) {
      val got = both.map { case (_, fs) => shape(fs.getFileLinkStatus(new Path(p.toString))) }
      assert(got.head === got(1), p.getFileName.toString)
    }
    assert(shape(nio.getFileLinkStatus(new Path(link.toString)))._3, "a link reads as one")
    both.foreach { case (_, fs) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    }
  }

  private def fileContext(nioFs: Boolean): FileContext = {
    val c = new Configuration()
    if (nioFs) c.set(Posture.CheckpointFsConf, classOf[NioLocalFs].getName)
    FileContext.getLocalFSFileContext(c)
  }

  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** `open(p, bufferSize)` reads through ChecksumFs's verifying checker;
    * Hadoop's one-argument `open(p)` goes through FilterFs straight to the
    * raw filesystem and checks nothing, on the stock stack as on this one.
    */
  private def read(fc: FileContext, p: Path, verify: Boolean = true): String = {
    val in = if (verify) fc.open(p, 4096) else fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("FileContext on NioLocalFs renames like LocalFs: OVERWRITE replaces, plain rename refuses") {
    assert(fileContext(nioFs = true).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(fileContext(nioFs = false).getDefaultFileSystem.isInstanceOf[LocalFs])
    val outcomes = Seq(false, true).map { nioFs =>
      val fc = fileContext(nioFs)
      val dir = tmp("graft_lfs_rename")
      val (src, dst, other) = (new Path(s"$dir/src"), new Path(s"$dir/dst"), new Path(s"$dir/other"))
      write(fc, src, "new")
      write(fc, dst, "old")
      write(fc, other, "other")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val replaced = (read(fc, dst), fc.util.exists(src))
      intercept[FileAlreadyExistsException](fc.rename(other, dst))
      (replaced, read(fc, dst), read(fc, other), Files.exists(Paths.get(s"$dir/.dst.crc")))
    }
    assert(outcomes.head === outcomes(1))
    assert(outcomes(1) === ((("new", false), "new", "other", true)))
  }

  test("NioLocalFs writes a .crc and a flipped data byte fails the checksummed read") {
    val outcomes = Seq(false, true).map { nioFs =>
      val fc = fileContext(nioFs)
      val dir = tmp("graft_lfs_crc")
      val p = new Path(s"$dir/data")
      write(fc, p, "checkpoint bytes")
      val crc = Files.exists(Paths.get(s"$dir/.data.crc"))
      val clean = read(fc, p)
      val raw = Paths.get(s"$dir/data")
      val bytes = Files.readAllBytes(raw)
      bytes(3) = (bytes(3) ^ 1).toByte
      Files.write(raw, bytes)
      intercept[ChecksumException](read(fc, p))
      (crc, clean, read(fc, p, verify = false))
    }
    assert(outcomes.head === outcomes(1))
    assert(outcomes(1) === ((true, "checkpoint bytes", "chebkpoint bytes")))
  }
}
