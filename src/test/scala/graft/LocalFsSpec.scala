package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingAnalytics
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** The no-fork `file:` filesystems ([[NoForkLocalFileSystem]],
  * [[NoForkLocalFs]]) against the stock `LocalFileSystem` / `LocalFs`
  * on a temp dir: same on-disk modes, checksum files, rename and link
  * semantics, and errors — and, on the session path, no subprocess.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Root = new URI("file:///")

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(s"graftlocalfs_$prefix").toString

  /** Stock, then graft, FileSystem API instance (uncached) on `conf`. */
  private def fileSystems(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> new LocalFileSystem, "graft" -> new NoForkLocalFileSystem)
      .map { case (n, fs) => fs.initialize(Root, conf); n -> fs }

  /** Stock, then graft, FileContext on `conf`. */
  private def fileContexts(conf: Configuration): Seq[(String, FileContext)] =
    Seq("stock" -> "org.apache.hadoop.fs.local.LocalFs",
        "graft" -> classOf[NoForkLocalFs].getName).map { case (n, cls) =>
      val c = new Configuration(conf)
      c.set("fs.AbstractFileSystem.file.impl", cls)
      n -> FileContext.getFileContext(Root, c)
    }

  /** Relative path -> full mode bits (sticky included) of every entry. */
  private def modes(dir: String): Map[String, Int] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  private def write(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("file and mkdir modes after umask match the stock filesystems, .crc files included") {
    for (umask <- Seq("022", "077", "002")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val viaFs = fileSystems(conf).map { case (n, fs) =>
        val d = tmp(s"fsmode_$n")
        fs.create(new Path(s"$d/f_default")).close()
        fs.create(new Path(s"$d/f_640"), perm("640"), false, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$d/d_default/sub"))
        fs.mkdirs(new Path(s"$d/d_750"), perm("750"))
        fs.create(new Path(s"$d/f_set")).close()
        fs.setPermission(new Path(s"$d/f_set"), perm("604"))
        n -> modes(d)
      }.toMap
      val viaFc = fileContexts(conf).map { case (n, fc) =>
        val d = tmp(s"fcmode_$n")
        fc.create(new Path(s"$d/f_default"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.create(new Path(s"$d/f_640"), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(perm("640"))).close()
        fc.mkdir(new Path(s"$d/d_755/sub"), perm("755"), true)
        n -> modes(d)
      }.toMap
      for (m <- Seq(viaFs, viaFc)) {
        assert(m("graft") == m("stock"), s"umask $umask")
        assert(m("graft").keySet.exists(_.endsWith(".crc")), s"no checksum file: ${m("graft")}")
      }
      // the umask is in effect, not just equal on both sides
      assert(viaFs("graft")("f_default") == (0x1b6 & ~Integer.parseInt(umask, 8)))
    }
  }

  test("FileContext rename(..., OVERWRITE) matches LocalFs: content, .crc, refusal without it") {
    val got = fileContexts(new Configuration()).map { case (n, fc) =>
      val d = tmp(s"rename_$n")
      val (a, b) = (new Path(s"$d/a"), new Path(s"$d/b"))
      write(fc, a, "new"); write(fc, b, "old")
      intercept[FileAlreadyExistsException](fc.rename(a, b))
      fc.rename(a, b, Options.Rename.OVERWRITE)
      n -> (read(fc, b), fc.util.exists(a), modes(d).keySet)
    }.toMap
    assert(got("graft") == got("stock"))
    assert(got("graft") == (("new", false, Set("b", ".b.crc"))))
  }

  test("getFileLinkStatus: regular file, symlink (qualified target), dangling symlink") {
    val d = tmp("links")
    Files.write(Paths.get(s"$d/t"), "x".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(s"$d/l"), Paths.get(s"$d/t"))
    Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/missing"))
    def summary(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
      s.isFile, s.isDirectory, s.getLen)
    val names = Seq("t", "l", "dangling")
    val conf = new Configuration()
    val viaFs = fileSystems(conf).map { case (n, fs) =>
      n -> names.map(x => summary(fs.getFileLinkStatus(new Path(s"$d/$x"))))
    }.toMap
    val viaFc = fileContexts(conf).map { case (n, fc) =>
      n -> names.map(x => summary(fc.getFileLinkStatus(new Path(s"$d/$x"))))
    }.toMap
    assert(viaFs("graft") == viaFs("stock"))
    assert(viaFc("graft") == viaFc("stock"))
    assert(viaFs("graft").map(_._1) == Seq(false, true, true))
    assert(viaFs("graft")(1)._2 == s"file:$d/t", "symlink target is qualified")
    assert(viaFs("graft")(2)._2 == s"file:$d/missing")
  }

  test("missing path: FileNotFoundException from both, setPermission fails on both") {
    val missing = new Path(s"${tmp("missing")}/nope")
    val conf = new Configuration()
    for ((n, fs) <- fileSystems(conf)) {
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      withClue(n)(intercept[IOException](fs.setPermission(missing, perm("644"))))
    }
    for ((_, fc) <- fileContexts(conf))
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("sticky bit falls back to the stock setPermission and is set on disk") {
    val got = fileSystems(new Configuration()).map { case (n, fs) =>
      val d = tmp(s"sticky_$n")
      fs.mkdirs(new Path(s"$d/s"))
      fs.setPermission(new Path(s"$d/s"), perm("1777"))
      n -> modes(d)("s")
    }.toMap
    assert(got("graft") == got("stock") && got("graft") == Integer.parseInt("1777", 8))
  }

  test("the session serves file: through the graft classes on both Hadoop APIs") {
    // FileSystem's cache is keyed by scheme and user, not conf: a
    // file: FileSystem created before the session would win here.
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(Root, hc).getClass == classOf[NoForkLocalFileSystem])
    assert(FileSystem.getLocal(hc).getClass == classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(Root, hc).getDefaultFileSystem.getClass ==
      classOf[NoForkLocalFs])
  }

  test("two checkpointed RocksDB micro-batches and a parquet write start no process") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    val d = tmp("noproc")
    val base = 1700000400000000L // µs epoch, on the 5-min slide grid
    def view(id: Long, sec: Long) =
      EvFull(id, base + sec * 1000000, 7L, "view", s"""{"k": ${id % 3}}""")
    val ms = MemoryStream[EvFull]
    val q = StreamingAnalytics.itemWindowCountsStream(
        ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)")))
      .writeStream.format("memory").queryName("noproc_items").outputMode("update")
      .option("checkpointLocation", s"$d/ck").start()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    try {
      // Batch 0 loads each partition's store, which starts processes
      // once per load, not per file: RocksDB's native-library probe
      // (once per JVM) and Spark's `rm -rf` of the fresh working dir.
      ms.addData(view(1, 60)); q.processAllAvailable()
      rec.start()
      ms.addData(view(2, 120), view(3, 180), view(4, 240)); q.processAllAvailable()
      ms.addData(view(5, 300), view(6, 900)); q.processAllAvailable()
      spark.range(100).write.parquet(s"$d/pq")
      rec.stop()
    } finally q.stop()
    val jfr = Files.createTempFile("graftlocalfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    assert(starts.isEmpty, s"${starts.size} process starts, e.g. ${starts.take(5)}")
    // the window held every batch's state and wrote checksummed files
    assert(spark.table("noproc_items").where($"item_id" === 1).select($"cnt").as[Long]
      .collect().max == 2)
    assert(Files.exists(Paths.get(s"$d/ck/commits/2")) &&
      Files.exists(Paths.get(s"$d/ck/commits/.2.crc")))
    assert(spark.read.parquet(s"$d/pq").count() == 100)
  }
}
