package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.TestSpark
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local filesystem is installed by the session extension,
  * behaves like Hadoop's (modes, link status), and starts no process
  * where Hadoop's forks one per create, mkdir and rename. */
class NioLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Root = URI.create("file:///")

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def tempDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(prefix)

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(Root, new Configuration())
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** `jdk.ProcessStart` events this JVM records while `body` runs. The
    * executor heartbeat's one-time `getconf PAGESIZE` (Spark's process
    * tree metrics, forked at whichever poll comes first) is not counted. */
  private def processStarts(body: => Unit): Int = {
    val file = Files.createTempFile("process-starts", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.count(e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          !e.getStackTrace.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.spark.Heartbeater")))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** A checkpoint-style commit: write a temp file, rename it over. */
  private def commit(fc: FileContext, dir: java.nio.file.Path): Unit = {
    val tmp = new Path(dir.toUri.toString, ".0.tmp")
    fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)).close()
    fc.rename(tmp, new Path(dir.toUri.toString, "0"), Options.Rename.OVERWRITE)
  }

  test("a session built with the extension resolves file: to the engine classes") {
    val conf = hadoopConf
    assert(FileSystem.get(Root, conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(Root, conf).getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
  }

  test("created files and mkdirs get the modes stock RawLocalFileSystem gives") {
    val nio = raw(new NioRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val dir = tempDir("nio-modes")
    for (m <- Seq(0x1a4, 0x1ed, 0x1a0, 0x1c0)) { // 0644, 0755, 0640, 0700
      val modes = Seq("nio" -> nio, "stock" -> stock).map { case (name, fs) =>
        val file = dir.resolve(f"$name-$m%o.bin")
        val sub = dir.resolve(f"$name-$m%o.d")
        val perm = new FsPermission(m.toShort)
        fs.create(new Path(file.toUri), perm, false, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(sub.toUri), perm))
        (mode(file), mode(sub))
      }
      assert(modes.head == modes.last, f"mode $m%o")
      assert(modes.head == (m, m), f"mode $m%o")
    }
  }

  test("a sticky mode takes Hadoop's own code and sets the same bits") {
    val dir = tempDir("nio-sticky")
    val modes = Seq(new NioRawLocalFileSystem, new RawLocalFileSystem).map { fs =>
      val sub = Files.createDirectory(dir.resolve(fs.getClass.getSimpleName))
      raw(fs).setPermission(new Path(sub.toUri), new FsPermission(0x3ed.toShort)) // 01755
      mode(sub)
    }
    assert(modes == Seq(0x3ed, 0x3ed))
  }

  test("getFileLinkStatus equals stock for files, directories and symlinks") {
    val nio = raw(new NioRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val dir = tempDir("nio-links")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map(s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getPermission,
        s.getOwner, s.getGroup, s.getModificationTime)).toEither.left.map(_.getClass)
    for (p <- Seq(file, sub, link, dangling);
         path <- Seq(new Path(p.toUri), new Path(p.toString))) // file: and plain
      assert(status(nio, path) == status(stock, path), path)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(dir.resolve("missing").toUri)))
  }

  test("a checkpoint-style commit forks on stock classes and not on the engine's") {
    val stockConf = new Configuration(hadoopConf)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val stock = FileContext.getFileContext(Root, stockConf)
    val nio = FileContext.getFileContext(Root, hadoopConf)
    assert(processStarts(commit(stock, tempDir("stock-commit"))) > 0)
    assert(processStarts(commit(nio, tempDir("nio-commit"))) == 0)
  }

  test("a parquet write and two triggers of a checkpointed dedup stream start no process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def run(dir: java.nio.file.Path): Unit = {
      (0 until 100).toDF("id").write.parquet(dir.resolve("table").toString)
      val src = MemoryStream[Int]
      val q = src.toDF().dropDuplicates("value").writeStream.format("parquet")
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .start(dir.resolve("sink").toString)
      try {
        src.addData(1, 2, 2, 3)
        q.processAllAvailable()
        src.addData(3, 4)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.read.parquet(dir.resolve("sink").toString).count() == 4)
    }
    assert(processStarts(run(tempDir("nio-forks"))) == 0)
  }
}
