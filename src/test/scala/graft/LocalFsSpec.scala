package graft

import graft.fs.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import scala.jdk.CollectionConverters._

/** The fork-free local filesystem (`graft.fs`) against stock Hadoop,
  * field by field: each scenario runs on `RawLocalFileSystem` /
  * `LocalFs` and on graft's classes, and the results must agree. */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base = Files.createTempDirectory("lfs")
  private def tmp(prefix: String) = Files.createTempDirectory(base, prefix)
  override def afterAll(): Unit = {
    Seq(stock, ours).foreach(_.close())
    Fs.deleteRecursively(base)
  }

  private val stockConf = new Configuration()
  // the engine's two confs, as GraftSession ships them
  private val graftConf = {
    val c = new Configuration()
    GraftSession.localFs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }

  private def localFs(c: Configuration): LocalFileSystem =
    FileSystem.newInstance(URI.create("file:///"), c).asInstanceOf[LocalFileSystem]
  private lazy val stock = localFs(stockConf)
  private lazy val ours = localFs(graftConf)
  /** (stock, graft) at both layers the engine uses: raw and checksummed. */
  private lazy val pairs: Seq[(FileSystem, FileSystem)] = Seq(
    (stock.getRawFileSystem, ours.getRawFileSystem), (stock, ours))

  /** The full mode (sticky bit included) as the kernel reports it. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  private def fields(s: FileStatus, root: String): Seq[Any] = Seq(
    s.getPath.toUri.getPath.stripPrefix(root), s.isFile, s.isDirectory,
    s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
    s.getPermission, s.getOwner, s.getGroup)

  /** Run `make` in a fresh tree per filesystem of each pair; then every
    * `rel` path has the same kernel mode and the same status fields. */
  private def sameTrees(rels: Seq[String])(make: (FileSystem, String) => Unit): Unit =
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (tmp("stock").toString, tmp("graft").toString)
      make(a, ra); make(b, rb)
      rels.foreach { rel =>
        withClue(s"${b.getClass.getSimpleName} $rel: ") {
          assert(mode(s"$rb/$rel") == mode(s"$ra/$rel"))
          assert(fields(b.getFileStatus(new Path(s"$rb/$rel")), rb) ==
            fields(a.getFileStatus(new Path(s"$ra/$rel")), ra))
        }
      }
    }

  test("shipped confs resolve to graft's classes") {
    assert(ours.getRawFileSystem.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(!stock.getRawFileSystem.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(graftConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
  }

  test("create and mkdirs under the default umask set Hadoop's bits") {
    sameTrees(Seq("f", "d", "d/e", "d/e/f", "d/e/f/g")) { (fs, r) =>
      fs.create(new Path(s"$r/f")).close()
      assert(fs.mkdirs(new Path(s"$r/d/e/f")))
      fs.create(new Path(s"$r/d/e/f/g")).close()
    }
    // and those bits are the umasked defaults, not whatever the JVM left
    val r = tmp("graft").toString
    ours.create(new Path(s"$r/f")).close()
    ours.mkdirs(new Path(s"$r/d"))
    val umask = FsPermission.getUMask(graftConf)
    assert(mode(s"$r/f") == FsPermission.getFileDefault.applyUMask(umask).toShort)
    assert(mode(s"$r/d") == FsPermission.getDirDefault.applyUMask(umask).toShort)
  }

  test("explicit setPermission 0640, 0755 and a sticky 01777 match Hadoop") {
    sameTrees(Seq("f", "g", "d", "s")) { (fs, r) =>
      Seq("f", "g").foreach(n => fs.create(new Path(s"$r/$n")).close())
      Seq("d", "s").foreach(n => fs.mkdirs(new Path(s"$r/$n")))
      fs.setPermission(new Path(s"$r/f"), new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.setPermission(new Path(s"$r/g"), new FsPermission(Integer.parseInt("755", 8).toShort))
      fs.setPermission(new Path(s"$r/d"), new FsPermission(Integer.parseInt("750", 8).toShort))
      fs.setPermission(new Path(s"$r/s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
  }

  test("getFileLinkStatus matches Hadoop on a file, a dir, a symlink, " +
      "a dangling symlink and a missing path") {
    val r = tmp("links")
    Files.write(r.resolve("f"), "abc".getBytes(UTF_8))
    Files.createDirectory(r.resolve("d"))
    Files.createSymbolicLink(r.resolve("l"), r.resolve("f"))
    Files.createSymbolicLink(r.resolve("x"), r.resolve("nowhere"))
    // the status fields, or the exception a path raises
    def outcome(fs: FileSystem, p: Path): Either[Class[_], Seq[Any]] =
      try {
        val st = fs.getFileLinkStatus(p)
        Right(fields(st, "") :+ st.getModificationTime)
      } catch { case e: java.io.IOException => Left(e.getClass) }
    pairs.foreach { case (a, b) =>
      Seq("f", "d", "l", "x", "missing").foreach { n =>
        // both path forms: Hadoop reads the link of the unqualified one
        // only (a qualified dangling link raises on both sides)
        Seq(new Path(s"$r/$n"), a.makeQualified(new Path(s"$r/$n"))).foreach { p =>
          withClue(s"${b.getClass.getSimpleName} $p: ") {
            assert(outcome(b, p) == outcome(a, p))
          }
        }
      }
      assert(outcome(b, new Path(s"$r/missing")) == Left(classOf[FileNotFoundException]))
    }
    assert(ours.getRawFileSystem.getFileLinkStatus(new Path(s"$r/l")).isSymlink)
  }

  test("FileContext rename with OVERWRITE matches Hadoop's LocalFs") {
    def run(c: Configuration): (String, Seq[String], String, Int) = {
      val fc = FileContext.getLocalFSFileContext(c)
      val r = tmp("fc")
      def write(n: String, s: String): Unit = {
        val out = fc.create(new Path(s"$r/$n"), java.util.EnumSet.of(CreateFlag.CREATE))
        try out.write(s.getBytes(UTF_8)) finally out.close()
      }
      write("dst", "old")
      write("src", "new state")
      fc.rename(new Path(s"$r/src"), new Path(s"$r/dst"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$r/dst"))
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val names = Files.list(r)
      try (fc.getDefaultFileSystem.getClass.getSimpleName,
        names.iterator().asScala.map(_.getFileName.toString).toSeq.sorted, body, mode(s"$r/dst"))
      finally names.close()
    }
    val (stockFs, stockNames, stockBody, stockMode) = run(stockConf)
    val (graftFs, graftNames, graftBody, graftMode) = run(graftConf)
    assert(stockFs == "LocalFs" && graftFs == "ForkFreeLocalFs")
    assert(graftNames == stockNames && graftNames == Seq(".dst.crc", "dst"))
    assert(graftBody == stockBody && graftBody == "new state")
    assert(graftMode == stockMode)
  }

  test("a .crc sidecar is written and a flipped data byte fails the read") {
    Seq(stock, ours).foreach { fs =>
      val r = tmp("crc")
      val p = new Path(s"$r/data")
      val out = fs.create(p)
      try out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte)) finally out.close()
      assert(Files.exists(r.resolve(".data.crc")))
      val raf = new RandomAccessFile(r.resolve("data").toFile, "rw")
      try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0xff) }
      finally raf.close()
      withClue(fs.getRawFileSystem.getClass.getSimpleName) {
        intercept[ChecksumException] {
          val in = fs.open(p)
          try in.readAllBytes() finally in.close()
        }
      }
    }
  }
}
