package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FSDataInputStream, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf

import graft.tools.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem, LocalFs}

/** The fork-free `file:` classes against Hadoop's own on temp dirs: same
  * modes on disk, same link statuses, and the checksum and no-overwrite
  * rename guarantees checkpoints rely on.
  */
class LocalFsSpec extends SparkSpec {
  private val fileUri = URI.create("file:///")
  private val stockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  private def perm(octal: String) =
    new FsPermission(java.lang.Short.parseShort(octal, 8))

  private def hadoopConf(umask: Option[String] = None): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(fileUri, c); fs
  }

  private def fileContext(c: Configuration, impl: String): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(AbstractFileSystem.get(fileUri, cc), cc)
  }

  /** Relative path → permission bits (sticky included) of every entry. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally s.close()
  }

  /** Fields a caller can see; `FileStatus.equals` compares paths only. */
  private def fields(st: FileStatus) = (st.getPath, st.isDirectory,
    st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen,
    st.getPermission, st.getOwner, st.getGroup, st.getModificationTime)

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("sessionConfs: unset keys bind the fork-free classes, operator values win") {
    val unset = LocalFs.sessionConfs(new SparkConf(false))
    assert(unset == Map(
      "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[ForkFreeLocalFs].getName))
    val operator = new SparkConf(false)
      .set("spark.hadoop.fs.file.impl", classOf[LocalFileSystem].getName)
    assert(LocalFs.sessionConfs(operator) == Map(
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[ForkFreeLocalFs].getName))
    assert(LocalFs.sessionConfs(operator
      .set("spark.hadoop.fs.AbstractFileSystem.file.impl", stockLocalFs))
      .isEmpty)
  }

  test("the session's state stores and sinks resolve file: to the fork-free classes") {
    // FileSystem.get caches per scheme whatever conf it is asked with, so
    // the builder's keys alone prove nothing: check what a writer gets
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(fileUri, hc).getClass == classOf[ForkFreeLocalFileSystem])
    assert(AbstractFileSystem.get(fileUri, hc).getClass == classOf[ForkFreeLocalFs])
  }

  test("create, mkdirs and setPermission leave Hadoop's modes bit for bit") {
    for (umask <- Seq(None, Some("077"), Some("007"))) {
      val c = hadoopConf(umask)
      def run(fs: FileSystem, fc: FileContext): Map[String, Int] = {
        val root = Files.createTempDirectory("graft_localfs")
        val r = new Path(root.toUri)
        fs.create(new Path(r, "a"), perm("640"), true, 4096, 1.toShort,
          32L << 20, null).close()
        fs.create(new Path(r, "b")).close()
        fs.setPermission(new Path(r, "b"), perm("640"))
        fs.mkdirs(new Path(r, "d1/d2"), perm("700"))
        fs.mkdirs(new Path(r, "d3"))
        fs.setPermission(new Path(r, "d3"), perm("700"))
        fc.create(new Path(r, "c"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm("640"))).close()
        fc.create(new Path(r, "e"), EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(new Path(r, "f/g"), FsPermission.getDirDefault, true)
        fc.setPermission(new Path(r, "e"), perm("600"))
        modes(root)
      }
      val stock = run(init(new LocalFileSystem, c), fileContext(c, stockLocalFs))
      val ours = run(init(new ForkFreeLocalFileSystem, c),
        fileContext(c, classOf[ForkFreeLocalFs].getName))
      assert(ours == stock, s"umask $umask")
      assert(stock.keySet.contains(".a.crc") && stock.keySet.contains(".c.crc"))
      assert(stock("b") == Integer.parseInt("640", 8) &&
        stock("d3") == Integer.parseInt("700", 8), s"umask $umask")
    }
  }

  test("the sticky bit still goes through Hadoop's chmod") {
    val c = hadoopConf()
    val sticky = Seq(new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
      .map { fs =>
        val root = Files.createTempDirectory("graft_localfs")
        init(fs, c).setPermission(new Path(root.toUri), perm("1750"))
        Files.getAttribute(root, "unix:mode").asInstanceOf[Int] & 0xfff
      }
    assert(sticky == Seq.fill(2)(Integer.parseInt("1750", 8)))
  }

  test("getFileLinkStatus: links as Hadoop sees them, files as getFileStatus, missing throws") {
    val c = hadoopConf()
    val stock = init(new RawLocalFileSystem, c)
    val ours = init(new ForkFreeRawLocalFileSystem, c)
    val root = Files.createTempDirectory("graft_localfs")
    val target = Files.write(root.resolve("t"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(root.resolve("l"), target)
    // unqualified: Hadoop's readlink sees the link; file:-qualified: its
    // readlink fails and it reports the target's status
    val linkPaths = Seq(new Path(link.toString), new Path(link.toUri))
    assert(stock.getFileLinkStatus(linkPaths.head).isSymlink)
    assert(stock.getFileLinkStatus(linkPaths.head).getSymlink ==
      new Path(target.toUri))
    for (p <- linkPaths :+ new Path(target.toUri) :+ new Path(target.toString))
      assert(fields(ours.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    val t = new Path(target.toUri)
    assert(fields(ours.getFileLinkStatus(t)) == fields(ours.getFileStatus(t)))
    intercept[FileNotFoundException](
      ours.getFileLinkStatus(new Path(root.resolve("missing").toUri)))
  }

  test("FileContext rename without OVERWRITE still refuses an existing target") {
    val c = hadoopConf()
    val fc = fileContext(c, classOf[ForkFreeLocalFs].getName)
    val r = new Path(Files.createTempDirectory("graft_localfs").toUri)
    val fs = init(new ForkFreeLocalFileSystem, c)
    write(fs, new Path(r, "a"), "new")
    write(fs, new Path(r, "b"), "old")
    intercept[FileAlreadyExistsException](fc.rename(new Path(r, "a"), new Path(r, "b")))
    val in = fs.open(new Path(r, "b"))
    try assert(new String(in.readAllBytes(), UTF_8) == "old") finally in.close()
  }

  test("a flipped byte still fails the checksum on read") {
    val c = hadoopConf()
    // LocalFileSystem would move the failed file to a bad_files directory
    // at the top of its device; keep it in the temp dir
    val fs = init(new ForkFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
    }, c)
    val fc = fileContext(c, classOf[ForkFreeLocalFs].getName)
    val f = Files.createTempDirectory("graft_localfs").resolve("f")
    val p = new Path(f.toUri)
    write(fs, p, "checkpoint bytes")
    assert(new String(fs.open(p).readAllBytes(), UTF_8) == "checkpoint bytes")
    val raf = new RandomAccessFile(f.toFile, "rw")
    try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 1) }
    finally raf.close()
    intercept[ChecksumException](fs.open(p).readAllBytes())
    // FileContext.open(path) skips the check with Hadoop's own LocalFs too
    // (FilterFs passes the one-argument open straight to the raw file
    // system), so read with a buffer size
    intercept[ChecksumException](fc.open(p, 4096).readAllBytes())
  }
}
