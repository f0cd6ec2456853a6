package graft

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** The local filesystem under checkpoints and state stores: writing
  * them forks no shell command, and [[LocalFs.Raw]] answers exactly as
  * the stock [[RawLocalFileSystem]] it replaces.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** The commands of every process the JVM starts while `body` runs,
    * read from JFR `jdk.ProcessStart` events.
    */
  private def spawnedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body
    finally rec.stop()
    val dump = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("two micro-batches of a checkpointed aggregate spawn no readlink or chmod") {
    val ckpt = Files.createTempDirectory("localfs-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Int]
    def run(): Unit = {
      val q = ms.toDF().groupBy((col("value") % 3).as("k")).count()
        .writeStream.outputMode("complete").format("memory").queryName("localfs_agg")
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    val spawns = spawnedBy {
      ms.addData(1, 2, 3, 4)
      run()
      ms.addData(5, 6)
      run()
    }
    val shell = spawns.filter(c => c.startsWith("readlink") || c.startsWith("chmod"))
    assert(shell.size === 0, s"e.g. ${shell.take(3).mkString("; ")}")
    // the restarted run resumed the state the first one committed
    assert(spark.table("localfs_agg").as[(Long, Long)].collect().toMap ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("GraftConf.ensure makes LocalFs the file: AbstractFileSystem") {
    val fs = AbstractFileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFs.Fs])
  }

  private def both(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    val ours = new LocalFs.Raw
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), new Configuration))
    (stock, ours)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission sets the stock POSIX mode; a sticky mode takes the stock path") {
    val (stock, ours) = both()
    val dir = Files.createTempDirectory("localfs-perm")
    for ((m, i) <- Seq(0x1a4, 0x1ed, 0x1c0).zipWithIndex) { // 0644, 0755, 0700
      val perm = new FsPermission(m.toShort)
      val (a, b) = (Files.createFile(dir.resolve(s"stock$i")), Files.createFile(dir.resolve(s"ours$i")))
      stock.setPermission(new Path(a.toString), perm)
      ours.setPermission(new Path(b.toString), perm)
      assert(mode(a) === m && mode(b) === m, f"mode $m%o")
    }
    // java.nio cannot set the sticky bit: 01755 on ours proves the fallback
    val sticky = new FsPermission(0x3ed.toShort)
    val (a, b) = (Files.createDirectory(dir.resolve("stockT")), Files.createDirectory(dir.resolve("oursT")))
    stock.setPermission(new Path(a.toString), sticky)
    ours.setPermission(new Path(b.toString), sticky)
    assert(mode(a) === 0x3ed && mode(b) === 0x3ed)
  }

  test("getFileLinkStatus agrees with the stock one for a file, a directory and a symlink") {
    val (stock, ours) = both()
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def view(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        if (s.isSymlink) Some(s.getSymlink) else None)
    // bare and file:-qualified, the form FileContext passes
    for (p <- Seq(file, sub, link); hp <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(view(ours.getFileLinkStatus(hp)) === view(stock.getFileLinkStatus(hp)), hp)
    val l = ours.getFileLinkStatus(new Path(link.toString))
    assert(l.isSymlink && l.getSymlink.toUri.getPath === file.toString)
  }

  test("a missing path raises FileNotFoundException") {
    val (stock, ours) = both()
    val missing = new Path(Files.createTempDirectory("localfs-missing").resolve("nope").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.setPermission(missing, new FsPermission(0x1a4.toShort)))
  }
}
