package graft

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import graft.streaming.LocalCheckpointFs

/** `LocalCheckpointFs` must behave as Hadoop's `LocalFs` on everything a
  * streaming checkpoint relies on: permission bits, rename, link status and
  * `.crc` sidecars. */
class LocalCheckpointFsSpec extends AnyFunSuite {

  private def fileContext(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set("fs.AbstractFileSystem.file.impl", _))
    FileContext.getFileContext(new java.net.URI("file:///"), conf)
  }
  private lazy val fc = fileContext(Some(classOf[LocalCheckpointFs].getName))
  private lazy val hadoopFc = fileContext(None)

  private def tmp(tag: String): Path =
    new Path(Files.createTempDirectory(s"lcfs_$tag").toUri)

  private def write(c: FileContext, p: Path, text: String): Unit = {
    val out = c.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(c: FileContext, p: Path): String = {
    val in = c.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def bits(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("files and nested directories get the same permission bits as under LocalFs") {
    assert(fc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
    assert(hadoopFc.getDefaultFileSystem.isInstanceOf[LocalFs])
    val perms = Seq(fc, hadoopFc).map { c =>
      val base = tmp("perm")
      val dir = new Path(base, "a/b")
      c.mkdir(dir, FsPermission.getDirDefault, true)
      val file = new Path(dir, "f")
      write(c, file, "x")
      val explicit = new Path(base, "g")
      c.mkdir(explicit, new FsPermission("750"), false)
      val set = new Path(dir, "h")
      write(c, set, "y")
      c.setPermission(set, new FsPermission("640"))
      Seq(new Path(base, "a"), dir, file, explicit, set).map(bits)
    }
    assert(perms(0) === perms(1))
    assert(perms(0) === Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rwxr-x---", "rw-r-----"))
  }

  test("rename refuses an existing target unless OVERWRITE, which replaces it") {
    val base = tmp("rename")
    val (src, dst) = (new Path(base, "src"), new Path(base, "dst"))
    write(fc, src, "new")
    write(fc, dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(fc, dst) === "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(fc, dst) === "new")
    assert(!fc.util.exists(src))
    // the sidecar moves with its file: no orphan .src.crc is left behind
    assert(!Files.exists(Paths.get(new Path(base, ".src.crc").toUri)))
  }

  test("link status: a symlink still reports its qualified target, a file is not a link") {
    val base = Files.createTempDirectory("lcfs_link")
    write(fc, new Path(base.resolve("target").toString), "t")
    Files.createSymbolicLink(base.resolve("link"), base.resolve("target"))
    // Hadoop's readlink branch reads the path as written, so a link is only
    // seen under a scheme-less name (under LocalFs, too)
    val link = new Path(base.resolve("link").toString)
    val st = fc.getFileLinkStatus(link)
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getScheme === "file")
    assert(st.getSymlink.toUri.getPath === base.resolve("target").toString)
    for (p <- Seq(link, new Path(base.resolve("link").toUri), new Path(base.resolve("target").toUri))) {
      val (ours, theirs) = (fc.getDefaultFileSystem.getFileLinkStatus(p),
        hadoopFc.getDefaultFileSystem.getFileLinkStatus(p))
      assert((ours.isSymlink, ours.isFile, ours.getLen) ===
        (theirs.isSymlink, theirs.isFile, theirs.getLen), p)
      if (ours.isSymlink) assert(ours.getSymlink === theirs.getSymlink)
    }
    intercept[java.io.FileNotFoundException](
      fc.getDefaultFileSystem.getFileLinkStatus(new Path(base.resolve("missing").toString)))
  }

  test("the .crc sidecar is written and checked: a flipped byte fails the read") {
    val base = tmp("crc")
    val p = new Path(base, "data")
    write(fc, p, "0123456789" * 100)
    assert(Files.exists(Paths.get(new Path(base, ".data.crc").toUri)))
    assert(read(fc, p) === "0123456789" * 100)
    val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
    try {
      raf.seek(500)
      val b = raf.read()
      raf.seek(500)
      raf.write(b ^ 0xff)
    } finally raf.close()
    intercept[ChecksumException](read(fc, p))
    // LocalFs writes the same sidecar but FileContext.open(Path) skips it
    assert(read(hadoopFc, p).length === 1000)
  }
}
