package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.streaming.StreamingQueries

/** Pins the no-fork `file://` filesystem: a streaming query and a fixture
  * read start no process through Hadoop's `Shell`, every session resolves
  * `file://` to it, and its permissions and link statuses are those of
  * Hadoop's own local filesystem. */
class LocalFsSpec extends SparkSpec {

  private val localUri = URI.create("file:///")

  /** Hadoop's stock local filesystem and ours, each a fresh instance. */
  private def stockFs(): FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(localUri, new Configuration())
    fs
  }
  private def noForkFs(): FileSystem = {
    val fs = new NoForkLocalFileSystem
    fs.initialize(localUri, new Configuration())
    fs
  }

  /** Name -> POSIX permissions of everything under `dir`, `.crc` files included. */
  private def perms(dir: NioPath): Map[String, String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  test("q73 and a fixture read start no process through Hadoop's Shell") {
    // the session and Hadoop's Shell class (whose initializer probes
    // bash and setsid once per JVM) are up before recording starts
    spark.sparkContext
    Class.forName("org.apache.hadoop.util.Shell")
    val out = Files.createTempFile(TempDirs.create("graft_spec_jfr"), "forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      assert(StreamingQueries.q73StreamSlidingWindow(spark, sf()).count() > 0)
      assert(Tables.events(spark, sf()).count() > 0)
    } finally rec.stop()
    rec.dump(out)
    rec.close()
    // program -> number of processes Hadoop's Shell started for it
    val shellForks = RecordingFile.readAllEvents(out).asScala.collect {
      case e if e.getEventType.getName == "jdk.ProcessStart" &&
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")) =>
        e.getString("command").split(' ').head
    }.groupBy(identity).view.mapValues(_.size).toMap
    assert(shellForks.isEmpty)
  }

  test("FileSystem create and mkdirs set the permissions the stock filesystem sets") {
    def tree(fs: FileSystem): Map[String, String] = {
      val dir = TempDirs.create("graft_spec_fsperm")
      val root = new Path(dir.toString)
      fs.create(new Path(root, "default")).close()
      fs.create(new Path(root, "p0640"), new FsPermission("640"), true, 4096,
        fs.getDefaultReplication(root), fs.getDefaultBlockSize(root), null).close()
      fs.mkdirs(new Path(root, "d/default/nested"))
      fs.mkdirs(new Path(root, "d0750"), new FsPermission("750"))
      fs.mkdirs(new Path(root, "sticky"), new FsPermission("1777"))
      perms(dir)
    }
    val stock = tree(stockFs())
    assert(stock.contains("p0640") && stock.contains(".p0640.crc"))
    assert(tree(noForkFs()) == stock)
  }

  test("FileContext create and mkdir set the permissions the stock LocalFs sets") {
    def tree(impl: Class[_ <: AbstractFileSystem]): Map[String, String] = {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
      val fc = FileContext.getFileContext(localUri, conf)
      assert(fc.getDefaultFileSystem.getClass == impl)
      val dir = TempDirs.create("graft_spec_fcperm")
      val root = new Path(dir.toUri)
      fc.create(new Path(root, "default"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.create(new Path(root, "p0600"), EnumSet.of(CreateFlag.CREATE),
        CreateOpts.perms(new FsPermission("600"))).close()
      fc.mkdir(new Path(root, "d/default/nested"), FsPermission.getDirDefault, true)
      fc.mkdir(new Path(root, "d0700"), new FsPermission("700"), false)
      fc.rename(new Path(root, "default"), new Path(root, "renamed"))
      perms(dir)
    }
    val stock = tree(classOf[LocalFs])
    assert(stock.contains("renamed") && stock.contains(".renamed.crc") && !stock.contains("default"))
    assert(tree(classOf[NoForkLocalFs]) == stock)
  }

  test("getFileLinkStatus matches the stock filesystem on files, links, dangling links and missing paths") {
    val dir = TempDirs.create("graft_spec_links")
    val file = dir.resolve("file")
    Files.write(file, "twelve bytes".getBytes("UTF-8"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val (stock, ours) = (stockFs().asInstanceOf[LocalFileSystem].getRaw,
      noForkFs().asInstanceOf[LocalFileSystem].getRaw)
    assert(ours.isInstanceOf[NoForkRawLocalFileSystem])
    def status(fs: FileSystem, p: Path): Either[String, (Boolean, Option[String], Long)] =
      Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass.getName).map { s =>
        (s.isSymlink, if (s.isSymlink) Some(s.getSymlink.toString) else None, s.getLen)
      }
    for (name <- Seq("file", "link", "dangling", "missing");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(new File(dir.toFile, name).toURI))) {
      assert(status(ours, p) == status(stock, p), p)
    }
    // the plain-path branches are the real ones: the link is seen as a link
    assert(status(ours, new Path(dir.resolve("link").toString)) ==
      Right((true, Some(s"file:$file"), 12L)))
    assert(status(ours, new Path(dir.resolve("dangling").toString)).exists(_._1))
    assert(status(ours, new Path(dir.resolve("missing").toString)) ==
      Left("java.io.FileNotFoundException"))
  }

  test("a session resolves file:// to the no-fork FileSystem and FileContext") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(localUri, conf).getClass == classOf[NoForkLocalFileSystem])
      assert(FileContext.getFileContext(localUri, conf).getDefaultFileSystem.getClass ==
        classOf[NoForkLocalFs])
    }
  }
}
