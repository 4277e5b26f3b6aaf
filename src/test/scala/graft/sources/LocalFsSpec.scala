package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}

/** graft's `file:` filesystem (LocalFs.scala) against Hadoop's own local
  * filesystem, which forks `chmod` and `readlink` without libhadoop.
  * With libhadoop loaded both take Hadoop's native path, so the java.nio
  * branch is what these cases check on a box without it. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val root = new URI("file:///")

  private def graftFs(conf: Configuration): FileSystem = {
    val fs = new GraftLocalFileSystem
    fs.initialize(root, conf)
    fs
  }

  private def hadoopFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(root, conf)
    fs
  }

  private def umask(mask: String): Configuration = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", mask)
    conf
  }

  /** The mode bits of `p`, sticky bit included, in octal. */
  private def mode(p: JPath): String =
    Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  private def resolved(s: SparkSession): (Class[_], Class[_]) = {
    val conf = s.sessionState.newHadoopConf()
    val fs = FileSystem.newInstance(root, conf)
    try (fs.getClass, FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass)
    finally fs.close()
  }

  test("a builder session and an adopted newSession resolve file: to graft's classes") {
    val graft = (classOf[GraftLocalFileSystem], classOf[GraftLocalFs])
    assert(resolved(spark) == graft)
    // a session whose `file:` is Hadoop's, as a harness-owned one has it
    val harness = spark.newSession()
    harness.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    harness.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    assert(resolved(harness) ==
      (classOf[LocalFileSystem], classOf[org.apache.hadoop.fs.local.LocalFs]))
    GraftSession.adopt(harness)
    assert(resolved(harness) == graft)
    assert(resolved(spark) == graft)
  }

  test("files, checksums and directories get the umask-applied modes Hadoop's path sets") {
    for (mask <- Seq("022", "077", "027")) {
      val modes = Seq(graftFs _, hadoopFs _).map { mk =>
        val fs = mk(umask(mask))
        val dir = Files.createTempDirectory("graft_localfs_modes")
        val file = new Path(dir.toString, "a/b/part-0.parquet")
        val out = fs.create(file)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        fs.mkdirs(new Path(dir.toString, "c"))
        Seq("a", "a/b", "a/b/part-0.parquet", "a/b/.part-0.parquet.crc", "c")
          .map(n => n -> mode(dir.resolve(n)))
      }
      val m = Integer.parseInt(mask, 8)
      val want = Seq(0x1ff, 0x1ff, 0x1b6, 0x1b6, 0x1ff).map(b => Integer.toOctalString(b & ~m))
      assert(modes.head.map(_._2) == want, s"umask $mask: ${modes.head}")
      assert(modes.head == modes(1), s"umask $mask")
    }
  }

  test("a sticky-bit directory keeps its sticky bit") {
    val fs = graftFs(umask("022"))
    val dir = Files.createTempDirectory("graft_localfs_sticky").resolve("shared")
    assert(fs.mkdirs(new Path(dir.toString)))
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == "1777")
    assert(fs.getFileStatus(new Path(dir.toString)).getPermission.getStickyBit)
  }

  test("getFileLinkStatus: a link with its target, a plain file as getFileStatus, a missing path throws") {
    val conf = umask("022")
    val raw = new GraftRawLocalFileSystem
    raw.initialize(root, conf)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(root, conf)
    val dir = Files.createTempDirectory("graft_localfs_links")
    val target = Files.write(dir.resolve("target"), Array[Byte](7, 7))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)

    val ls = raw.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == target.toString)
    assert(ls.getSymlink == hadoop.getFileLinkStatus(new Path(link.toString)).getSymlink)

    def fields(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.isFile, st.isSymlink, st.getLen, st.getModificationTime, st.getPermission)
    for (p <- Seq(new Path(target.toString), new Path(dir.toString))) {
      assert(fields(raw.getFileLinkStatus(p)) == fields(raw.getFileStatus(p)))
      assert(fields(raw.getFileLinkStatus(p)) == fields(hadoop.getFileLinkStatus(p)))
    }
    intercept[FileNotFoundException](raw.getFileLinkStatus(new Path(dir.toString, "missing")))
  }

  test("FileContext create and overwriting rename keep content and modes") {
    val conf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(root, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    val dir = Files.createTempDirectory("graft_localfs_fc")
    val tmp = new Path(dir.toString, "offsets/.0.tmp")
    val dst = new Path(dir.toString, "offsets/0")
    for (body <- Seq("v1", "v2")) {
      val out = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE), org.apache.hadoop.fs.Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    assert(Files.readString(dir.resolve("offsets/0")) == "v2")
    assert(!Files.exists(dir.resolve("offsets/.0.tmp")))
    assert(mode(dir.resolve("offsets/0")) == "644" && mode(dir.resolve("offsets")) == "755")
  }

  test("a keyed table and a checkpointed stream write 644 files and 755 directories") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_localfs_tree")
    graft.sinks.KeyedParquetSink.write((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      s"$root/table", Seq("id"), 4)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = in.toDF().writeStream.format("parquet")
      .option("checkpointLocation", s"$root/checkpoint").start(s"$root/out")
    try { in.addData(1, 2, 3); q.processAllAvailable(); in.addData(4); q.processAllAvailable() }
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val tree = Files.walk(root).iterator.asScala.filter(_ != root).toSeq
    val (dirs, files) = tree.partition(Files.isDirectory(_))
    assert(files.exists(_.toString.contains("/checkpoint/offsets/")) &&
      files.exists(_.toString.contains("/table/_bucket=")))
    assert(files.map(mode).toSet == Set("644"), files.map(f => f -> mode(f)))
    assert(dirs.map(mode).toSet == Set("755"), dirs.map(d => d -> mode(d)))
  }
}
