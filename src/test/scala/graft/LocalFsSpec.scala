package graft

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.model.ChangeEvent
import graft.streaming.CdcPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The fork-free `file:` filesystem ([[graft.fs]]): registered for both
  * Hadoop APIs, indistinguishable from the stock local filesystem on
  * permissions, renames and symlinks, and free of child processes over
  * a whole checkpointed multi-sink trigger. */
class LocalFsSpec extends SparkSpec {

  private val Local = URI.create("file:///")

  /** What the classpath serves `file:` with when the program's
    * core-site.xml does not: the service-loaded FileSystem (on Spark's
    * distribution Hive's ProxyLocalFileSystem, over Hadoop's) and
    * core-default.xml's LocalFs. */
  private def stockConf(base: Configuration = new Configuration()): Configuration = {
    val c = new Configuration(base)
    c.unset("fs.file.impl")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  /** Relative path → permission string of every entry under `root`. */
  private def perms(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.map(p => root.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  /** Child processes Hadoop's `Shell` started while `body` ran. */
  private def shellForks(body: => Unit): Int = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.count { e =>
        e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
          e.getStackTrace.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
      }
    } finally {
      rec.close()
      Files.deleteIfExists(out)
    }
  }

  test("core-site.xml registers graft.fs for FileSystem and FileContext") {
    val fs = FileSystem.get(Local, new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // and so does every Spark session: its Hadoop conf is built the same way
    assert(FileSystem.get(Local, spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("mkdirs, create and setPermission leave the stock permissions under each umask") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def exercise(fs: FileSystem, root: JPath): Map[String, String] = {
        val r = new Path(root.toUri)
        fs.mkdirs(new Path(r, "a/b"))
        fs.mkdirs(new Path(r, "c"), new FsPermission("750"))
        val o = fs.create(new Path(r, "a/b/f")); o.write(1); o.close()
        fs.create(new Path(r, "g"), new FsPermission("640"), true, 4096, 1.toShort,
          1L << 20, null).close()
        fs.setPermission(new Path(r, "a/b/f"), new FsPermission("604"))
        fs.setPermission(new Path(r, "c"), new FsPermission("1777")) // sticky: Hadoop's path
        perms(root)
      }
      val ours = FileSystem.newInstance(Local, conf)
      val stock = FileSystem.newInstance(Local, stockConf(conf))
      assert(ours.isInstanceOf[NioLocalFileSystem] && !stock.isInstanceOf[NioLocalFileSystem])
      val got = exercise(ours, Files.createTempDirectory("graft-fs-nio"))
      val want = exercise(stock, Files.createTempDirectory("graft-fs-stock"))
      assert(got === want, s"umask $umask")
      assert(got.contains("a/b/.f.crc"), "checksums must still be written")
    }
  }

  test("FileContext.rename with and without OVERWRITE behaves as stock") {
    def exercise(fc: FileContext, root: JPath): (Map[String, String], String) = {
      val r = new Path(root.toUri)
      def write(name: String, body: String): Unit = {
        val o = fc.create(new Path(r, name),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        o.write(body.getBytes(UTF_8)); o.close()
      }
      write("a", "1"); write("b", "2")
      fc.rename(new Path(r, "a"), new Path(r, "x"))
      val refused = intercept[FileAlreadyExistsException](
        fc.rename(new Path(r, "b"), new Path(r, "x")))
      assert(refused.getMessage.contains("already exists"))
      fc.rename(new Path(r, "b"), new Path(r, "x"), Options.Rename.OVERWRITE)
      (perms(root), new String(Files.readAllBytes(root.resolve("x")), UTF_8))
    }
    val ours = FileContext.getFileContext(Local, new Configuration())
    val stock = FileContext.getFileContext(Local, stockConf())
    assert(!stock.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val got = exercise(ours, Files.createTempDirectory("graft-fc-nio"))
    assert(got === exercise(stock, Files.createTempDirectory("graft-fc-stock")))
    assert(got._2 === "2" && got._1.keySet === Set("", "x", ".x.crc"))
  }

  test("a symlink still reports isSymlink, with the stock target") {
    import org.apache.hadoop.fs.FileStatus
    val root = Files.createTempDirectory("graft-fs-link")
    val target = Files.write(root.resolve("t"), Array[Byte](1))
    val file = Files.createSymbolicLink(root.resolve("l"), target)
    def seen(st: FileStatus) = (st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
      st.isFile, st.getLen)
    val (ours, stock) = (FileSystem.newInstance(Local, new Configuration()),
      FileSystem.newInstance(Local, stockConf()))
    val (oursFc, stockFc) = (FileContext.getFileContext(Local, new Configuration()),
      FileContext.getFileContext(Local, stockConf()))
    // Hadoop's readlink sees a link only through a scheme-less path;
    // either way both report exactly what the stock classes do
    for (p <- Seq(new Path(file.toString), new Path(file.toUri), new Path(target.toString))) {
      assert(seen(ours.getFileLinkStatus(p)) === seen(stock.getFileLinkStatus(p)), p)
      assert(seen(oursFc.getFileLinkStatus(p)) === seen(stockFc.getFileLinkStatus(p)), p)
    }
    assert(ours.getFileLinkStatus(new Path(file.toString)).isSymlink)
    assert(!ours.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a checkpointed trigger into a topic sink and the snapshot sink starts no process") {
    val root = Files.createTempDirectory("graft-fs-forks").toString
    val in = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    writeSegment(in, "seg-000.json", Seq(1L, 2L, 3L).map(w => ChangeEvent("h", "db", "users", "insert", w,
        new Timestamp(1700000000000L + w * 1000), s"f-$w", Map("user_id" -> s"k$w"))))
    // POSIX only; touching Shell also runs its once-per-JVM `setsid`
    // probe now, outside the recording
    assume(!org.apache.hadoop.util.Shell.WINDOWS)
    val forks = shellForks {
      val env = CdcPipeline.deduped(CdcPipeline.validated(CdcPipeline.fileSource(spark, in)))
      val q = CdcPipeline.muxFanoutIdempotent(env, Seq(
          "topic" -> { (b, _) => CdcPipeline.parquetTopicSink(s"$root/topic")(
            CdcPipeline.toWire(b, Map("users" -> "t.users"), None)) },
          "snapshot" -> CdcPipeline.snapshotSink(s"$root/state", "user_id") _),
        s"$root/ckpt", Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(60000)) finally q.stop()
    }
    assert(new java.io.File(s"$root/ckpt/commits/0").exists, "the trigger did not commit")
    assert(spark.read.parquet(s"$root/topic").count() === 3)
    assert(CdcPipeline.snapshotView(spark, s"$root/state").count() === 3)
    assert(forks === 0)
    // the recording does see Hadoop's forks: the stock chmod is one
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val stock = new RawLocalFileSystem()
      stock.initialize(Local, new Configuration())
      val f = new Path(Files.createTempFile("graft-fs-chmod", "").toUri)
      assert(shellForks(stock.setPermission(f, new FsPermission("600"))) === 1)
    }
  }
}
