package graft

import graft.sources.{LocalFiles, LocalFilesFs, RawLocalFiles}
import graft.streaming.StreamingPipeline
import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import scala.jdk.CollectionConverters._

/** graft's `file:` filesystem ([[graft.sources.LocalFiles]]) gives the
  * same results as Hadoop's stock `RawLocalFileSystem` for the two calls
  * it answers in-process, and a parquet write plus a streaming sink
  * trigger start no `chmod` or `readlink` process.
  */
class LocalFilesSpec extends SparkSpec {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val graft = raw(new RawLocalFiles)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the mode stock Hadoop's chmod leaves") {
    val base = tempDir("graft_perm")
    var n = 0
    // a random rwx mode, on a file or a directory that may carry
    // set-user/group-ID bits already (chmod keeps a directory's)
    val cases = for {
      m <- Gen.choose(0, 0x1ff)
      dir <- Gen.oneOf(false, true)
      setIds <- Gen.oneOf(0, 0x400, 0x800, 0xc00)
    } yield (m, dir, setIds)
    val prop = Prop.forAll(cases) { case (m, dir, setIds) =>
      n += 1
      val results = Seq(stock, graft).map { fs =>
        val p = base.resolve(s"${fs.getClass.getSimpleName}_$n")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        Files.setAttribute(p, "unix:mode", Integer.valueOf(0x1ff | setIds))
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
        (Files.getPosixFilePermissions(p).asScala.toSet, mode(p))
      }
      Prop(results.distinct.size == 1) :|
        f"mode ${m}%o dir=$dir setIds=${setIds}%o: stock, graft = $results"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  test("getFileLinkStatus matches stock Hadoop on files, dirs and links") {
    val base = tempDir("graft_links")
    val file = Files.write(base.resolve("f"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(base.resolve("d"))
    val link = Files.createSymbolicLink(base.resolve("l"), file)
    val dangling = Files.createSymbolicLink(base.resolve("x"), base.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.isFile, s.isDirectory, s.getLen, s.isSymlink,
          if (s.isSymlink) s.getSymlink.toString else ""))
      } catch { case e: java.io.IOException => Left(e.getClass) }
    for {
      nio <- Seq(file, dir, link, dangling, base.resolve("missing"))
      // qualified (`file:/…`, what Spark passes) and bare paths
      p <- Seq(new Path(nio.toUri), new Path(nio.toString))
    } assert(status(graft, p) == status(stock, p), s"at $p")
    assert(status(graft, new Path(link.toString)).exists(_._4),
      "a bare symlink path must report a symlink")
    val missing = new Path(base.resolve("missing").toUri)
    assert(status(graft, missing) == Left(classOf[FileNotFoundException]))
  }

  test("a parquet write and a streaming sink trigger start no chmod or readlink") {
    val base = tempDir("graft_forks").toString
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands =
      try {
        spark.range(0, 1000, 1, 2)
          .selectExpr("id AS event_id", "CAST(id % 7 AS DOUBLE) AS value")
          .write.parquet(s"$base/src")
        StreamingPipeline.incrementalSink(spark, s"$base/src", s"$base/sink",
          s"$base/ckpt")(_.filter(col("value") > 2))
        rec.stop()
        val out = Files.createTempFile("graft_forks", ".jfr")
        rec.dump(out)
        try RecordingFile.readAllEvents(out).asScala.map(_.getString("command")).toSeq
        finally Files.delete(out)
      } finally rec.close()
    assert(spark.read.parquet(s"$base/sink").count() == (0 until 1000).count(_ % 7 > 2))
    val forks = commands.filter { c =>
      Option(c).flatMap(_.split(" ").headOption)
        .exists(p => Set("chmod", "readlink")(new File(p).getName))
    }
    if (forks.nonEmpty) fail(s"${forks.size} chmod/readlink starts, e.g. ${forks.take(3)}")
  }

  test("file: resolves to graft's classes for FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass == classOf[LocalFiles])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[RawLocalFiles])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[LocalFilesFs])
  }
}
