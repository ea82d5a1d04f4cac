package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem}
import graft.streaming.UserIngestPipeline

/** The forkless `file:` filesystem (graft.core.LocalFs): installed for both
  * Hadoop APIs, answering exactly as the stock local classes do, and
  * spawning no `chmod` or `readlink` process on the ingest path.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val StockFs = classOf[LocalFileSystem].getName
  private val StockAfs = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(fs: String, afs: String, umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.file.impl", fs)
    c.set("fs.AbstractFileSystem.file.impl", afs)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def octal(mode: String): Int = Integer.parseInt(mode, 8)
  private def perm(mode: String) = new FsPermission(octal(mode).toShort)

  /** Permission bits plus sticky bit, as the kernel stores them. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file: resolves to the forkless classes for FileSystem and FileContext") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = new Path(GraftTestSpark.tmpDir("localfs-resolve"))
    // the cached instance every writer gets: a stock LocalFileSystem cached
    // before the session was configured would show here
    assert(dir.getFileSystem(hc).getClass === classOf[ForklessLocalFileSystem])
    assert(FileSystem.getLocal(hc).getRaw.getClass === classOf[ForklessRawLocalFileSystem])
    assert(FileContext.getFileContext(dir.toUri, hc).getDefaultFileSystem.getClass ===
      classOf[ForklessLocalFs])
  }

  test("created files and directories carry the stock mode bits through both APIs") {
    def layout(fs: String, afs: String, umask: String): Seq[Int] = {
      val c = conf(fs, afs, umask)
      val root = new Path(GraftTestSpark.tmpDir("localfs-mode"))
      val hfs = FileSystem.newInstance(root.toUri, c)
      val fc = FileContext.getFileContext(root.toUri, c)
      try {
        hfs.create(new Path(root, "a/b/f")).close()
        hfs.mkdirs(new Path(root, "d/e"))
        fc.create(new Path(root, "c/g"), EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent()).close()
        fc.mkdir(new Path(root, "h/i"), FsPermission.getDirDefault, true)
        hfs.create(new Path(root, "a/x")).close()
        hfs.setPermission(new Path(root, "a/x"), perm("600"))
        hfs.mkdirs(new Path(root, "sticky"))
        hfs.setPermission(new Path(root, "sticky"), perm("1777"))
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "d", "d/e", "c", "c/g", "c/.g.crc", "h", "h/i",
          "a/.x.crc", "a/x", "sticky").map(s => mode(new Path(root, s)))
      } finally hfs.close()
    }
    for (umask <- Seq("022", "077")) {
      val forkless = layout(classOf[ForklessLocalFileSystem].getName, classOf[ForklessLocalFs].getName, umask)
      assert(forkless === layout(StockFs, StockAfs, umask), s"umask $umask")
      assert(forkless.takeRight(2) === Seq(octal("600"), octal("1777")))
    }
  }

  test("getFileLinkStatus matches the stock class on files, directories, links and missing paths") {
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val c = conf(StockFs, StockAfs, "022")
    val stock = new RawLocalFileSystem
    val forkless = new ForklessRawLocalFileSystem
    Seq(stock, forkless).foreach(_.initialize(URI.create("file:///"), c))
    def status(fs: RawLocalFileSystem, p: Path): Either[Class[_], (Boolean, Boolean, Long)] =
      try { val s = fs.getFileLinkStatus(p); Right((s.isSymlink, s.isDirectory, s.getLen)) }
      catch { case e: FileNotFoundException => Left(e.getClass) }
    // qualified paths are what FileContext passes; the bare form is the one
    // the stock code can readlink, so a link reads as a link only there
    val paths = Seq(file, sub, link, dir.resolve("missing"))
      .flatMap(p => Seq(new Path(p.toUri), new Path(p.toString)))
    for (p <- paths) assert(status(forkless, p) === status(stock, p), p)
    assert(status(forkless, new Path(link.toString)) === Right((true, false, 3L)))
    assert(status(forkless, new Path(dir.resolve("missing").toString)).isLeft)
  }

  test("a checkpointed profile drain spawns no chmod or readlink process") {
    val out = GraftTestSpark.tmpDir("localfs-out")
    val ckpt = GraftTestSpark.tmpDir("localfs-ckpt")
    val control = Files.createTempFile("localfs-control", ".txt")
    val raw = spark.readStream.format("graft-profiles")
      .option("maxRecords", 60L).option("rowsPerBatch", 20L).option("numPartitions", 2L).load()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val batches = try {
      // the recorder's positive control: one stock chmod, which must be seen
      val stock = new RawLocalFileSystem
      stock.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      stock.setPermission(new Path(control.toUri), perm("644"))
      val q = UserIngestPipeline.runAvailableNow(UserIngestPipeline.parse(raw), out, ckpt)
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    } finally rec.stop()
    val jfr = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val spawned = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(batches === 3)
      assert(spark.read.parquet(out).count() === 58) // records 17 and 48 are torn
      assert(spawned.size === 1 && spawned.head.contains(control.toString), commands)
    } finally Seq(jfr, control).foreach(Files.deleteIfExists)
  }
}
