package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** graft.streaming.NioLocalFs (the replay rig's `file:` filesystem) is
  * Hadoop's LocalFs with two methods swapped for java.nio: every outcome
  * the checkpoint path depends on must match LocalFs on the same temp
  * dir — renames with and without overwrite, permissions, link status,
  * missing paths, and the `.crc` sidecars. */
class NioLocalFsSpec extends AnyFunSuite {
  private def fileContext(nio: Boolean): FileContext = {
    val conf = new Configuration()
    if (nio) conf.set("fs.AbstractFileSystem.file.impl",
      classOf[graft.streaming.NioLocalFs].getName)
    FileContext.getFileContext(URI.create("file:///"), conf)
  }
  private lazy val local = fileContext(nio = false)
  private lazy val nio = fileContext(nio = true)

  private def withDir[A](f: JPath => A): A = {
    val d = Files.createTempDirectory("graft_niofs")
    try f(d) finally {
      import scala.jdk.CollectionConverters._
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Run `f` against LocalFs and NioLocalFs, each in its own sub-dir of
    * one temp dir, and return both outcomes. */
  private def both[A](f: (FileContext, Path) => A): (A, A) = withDir { d =>
    def run(fc: FileContext, sub: String) = {
      val p = new Path(d.resolve(sub).toUri)
      fc.mkdir(p, FsPermission.getDirDefault, true)
      f(fc, p)
    }
    (run(local, "local"), run(nio, "nio"))
  }

  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def outcome(op: => Unit): String =
    try { op; "ok" } catch { case e: Exception => e.getClass.getSimpleName }

  private def listing(dir: Path): Seq[String] =
    new java.io.File(dir.toUri).list().toSeq.sorted

  test("the rig conf key selects NioLocalFs; the default stays LocalFs") {
    assert(local.getDefaultFileSystem.getClass.getName ==
      "org.apache.hadoop.fs.local.LocalFs")
    assert(nio.getDefaultFileSystem.isInstanceOf[graft.streaming.NioLocalFs])
  }

  test("create + rename with and without overwrite match LocalFs") {
    val (l, n) = both { (fc, d) =>
      val (a, b, c) = (new Path(d, "a"), new Path(d, "b"), new Path(d, "c"))
      write(fc, a, "first")
      write(fc, b, "second")
      val steps = Seq(
        outcome(fc.rename(a, b)),                           // dst exists
        outcome(fc.rename(a, b, Options.Rename.OVERWRITE)), // replaces b
        outcome(fc.rename(b, c)),                           // fresh dst
        outcome(fc.rename(a, c)))                           // src gone
      (steps, read(fc, c), listing(d))
    }
    assert(l == n)
    assert(l._1 == Seq("FileAlreadyExistsException", "ok", "ok",
      "FileNotFoundException"), s"LocalFs outcomes changed: $l")
    assert(l._2 == "first")
    assert(l._3 == Seq(".c.crc", "c"), "the checksum moves with its file")
  }

  test("mkdir and create permissions match LocalFs") {
    val (l, n) = both { (fc, d) =>
      val (dir, file) = (new Path(d, "sub/dir"), new Path(d, "f"))
      fc.mkdir(dir, new FsPermission("750"), true)
      val out = fc.create(file, EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission("640")))
      out.close()
      def mode(p: Path) = java.nio.file.attribute.PosixFilePermissions
        .toString(Files.getPosixFilePermissions(java.nio.file.Paths.get(p.toUri)))
      Seq(dir, new Path(d, "sub"), file).map(p =>
        (fc.getFileStatus(p).getPermission.toString, mode(p)))
    }
    assert(l == n)
    assert(l.head._2 == "rwxr-x---" && l(2)._2 == "rw-r-----",
      s"requested modes not applied: $l")
  }

  test("link status of a file, a directory and a symlink matches LocalFs") {
    withDir { d =>
      val file = d.resolve("f")
      Files.write(file, "x".getBytes("UTF-8"))
      val dir = Files.createDirectory(d.resolve("dir"))
      val link = Files.createSymbolicLink(d.resolve("link"), file)
      def status(fc: FileContext, p: JPath) = {
        val s = fc.getFileLinkStatus(new Path(p.toUri))
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
          s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)
      }
      Seq(file, dir, link).foreach { p =>
        assert(status(nio, p) == status(local, p), s"status of $p")
      }
      // parity is the contract, not Hadoop's symlink reporting (3.4.2's
      // LocalFs reports a link to a file as that file, isSymlink false)
      assert(status(nio, dir)._3 && status(nio, file)._2)
    }
  }

  test("a missing path is FileNotFoundException in both") {
    withDir { d =>
      val missing = new Path(d.resolve("nope").toUri)
      Seq(local, nio).foreach { fc =>
        intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fc.getFileStatus(missing))
      }
    }
  }

  test(".crc sidecars are still written and verified") {
    val (l, n) = both { (fc, d) =>
      val p = new Path(d, "part")
      write(fc, p, "payload")
      (listing(d), read(fc, p))
    }
    assert(l == n)
    assert(n._1 == Seq(".part.crc", "part") && n._2 == "payload")
  }
}
