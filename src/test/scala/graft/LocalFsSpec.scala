package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.expr.HashConfig
import graft.runtime.TxLogTable
import graft.streaming.StreamingLoaders

/** graft's `file:` filesystem: selected everywhere by the shipped
  * `core-site.xml`, same modes and rename/link contract as the filesystem
  * `file:` resolved to before, and no forked process per file. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val fileUri = URI.create("file:///")
  private def tmp(prefix: String) = Files.createTempDirectory(prefix)
  private def hPath(p: java.nio.file.Path) = new Path(p.toUri)
  /** permission bits, sticky bit included */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String) = Integer.parseInt(s, 8)
  private def write(p: java.nio.file.Path, s: String) = Files.write(p, s.getBytes(UTF_8))
  private def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), UTF_8)

  test("file: resolves to graft's classes from every Configuration and FileContext") {
    for (conf <- Seq(new Configuration(), spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.getClass == classOf[LocalFs])
      assert(fs.asInstanceOf[LocalFs].getRawFileSystem.getClass == classOf[LocalFs.Raw])
    }
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.getClass == classOf[LocalFs.Afs])
  }

  test("created files and directories get the stock filesystem's modes (0644/0755 under umask 022)") {
    val conf = new Configuration()
    assert(conf.get("fs.permissions.umask-mode") == "022")
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(fileUri, conf)
    def modes(fs: FileSystem): Seq[Int] = {
      val root = tmp("graft_modes")
      val f = hPath(root.resolve("a/b/x.txt"))
      fs.create(f).close()
      val explicit = Seq("600", "640", "750", "1777").map { m =>
        val d = hPath(root.resolve(s"d$m"))
        fs.mkdirs(d)
        fs.setPermission(d, new FsPermission(m))
        mode(root.resolve(s"d$m"))
      }
      Seq("a", "a/b", "a/b/x.txt", "a/b/.x.txt.crc").map(s => mode(root.resolve(s))) ++ explicit
    }
    val ours = modes(FileSystem.get(fileUri, conf))
    assert(ours.take(4) == Seq("755", "755", "644", "644").map(octal))
    assert(ours.drop(4) == Seq("600", "640", "750", "1777").map(octal))
    assert(ours == modes(stock))
  }

  test("rename onto an existing file returns false and changes neither file") {
    val fs = FileSystem.get(fileUri, new Configuration())
    val root = tmp("graft_rename")
    write(root.resolve("a"), "A"); write(root.resolve("b"), "B")
    assert(!fs.rename(hPath(root.resolve("a")), hPath(root.resolve("b"))))
    assert(read(root.resolve("a")) == "A" && read(root.resolve("b")) == "B")
    assert(fs.rename(hPath(root.resolve("a")), hPath(root.resolve("c"))))
    assert(read(root.resolve("c")) == "A" && !Files.exists(root.resolve("a")))
  }

  test("FileContext.rename throws FileAlreadyExistsException unless told to OVERWRITE") {
    val fc = FileContext.getLocalFSFileContext
    val root = tmp("graft_fcrename")
    write(root.resolve("a"), "A"); write(root.resolve("b"), "B")
    intercept[FileAlreadyExistsException] {
      fc.rename(hPath(root.resolve("a")), hPath(root.resolve("b")))
    }
    assert(read(root.resolve("b")) == "B")
    fc.rename(hPath(root.resolve("a")), hPath(root.resolve("b")), Options.Rename.OVERWRITE)
    assert(read(root.resolve("b")) == "A" && !Files.exists(root.resolve("a")))
  }

  test("link status: a symlink reports the link, a file does not, a missing path throws") {
    val fs = FileSystem.get(fileUri, new Configuration())
    val root = tmp("graft_link")
    val target = write(root.resolve("target"), "T")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    // scheme-less paths: the stock method reads the link of the path's
    // string, so a `file:`-qualified link reads as its target there too
    def p(f: java.nio.file.Path) = new Path(f.toString)
    for (st <- Seq(fs.getFileLinkStatus(p(link)),
                   FileContext.getLocalFSFileContext.getFileLinkStatus(p(link)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.toString)
    }
    assert(!fs.getFileLinkStatus(p(target)).isSymlink)
    assert(fs.getFileLinkStatus(p(target)).getLen == 1)
    intercept[FileNotFoundException](fs.getFileLinkStatus(p(root.resolve("missing"))))
  }

  test("a TxLogTable overwrite + append and a streaming micro-batch fork no Hadoop Shell process") {
    implicit val hc: HashConfig = HashConfig()
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_forks")
    // Shell's class initializer probes for `setsid` once per JVM; load it
    // first so the recording holds only forks made per file
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val t = new TxLogTable(spark, root.resolve("tx").toString)
      t.overwrite("t", Seq((1, "a")).toDF("id", "v"))
      t.append("t", Seq((2, "b")).toDF("id", "v"))
      val input = MemoryStream[(String, String)]
      val staged = input.toDF().toDF("bk", "ldts_s")
        .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
        .withColumn("rsrc", lit("STREAM"))
        .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
      val store = new TxLogTable(spark, root.resolve("wh").toString)
      val q = StreamingLoaders.hubSink(staged, store, "hub_s", "hk", "hk",
        Seq("bk"), Seq("bk"), checkpoint = root.resolve("cp").toString,
        trigger = Trigger.ProcessingTime(0)).start()
      try {
        input.addData(("k1", "2024-01-01 00:00:00"))
        q.processAllAvailable()
      } finally q.stop()
      assert(t.read("t").count() == 2 && store.read("hub_s").count() == 1)
    } finally rec.stop()
    val dump = root.resolve("forks.jfr")
    rec.dump(dump)
    rec.close()
    val shellForks = RecordingFile.readAllEvents(dump).asScala.collect {
      case e if Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))) =>
        e.getString("command")
    }
    assert(shellForks.isEmpty)
  }
}
