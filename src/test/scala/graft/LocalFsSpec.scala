package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Feeds, ForkFreeFileSystem, ForkFreeFs, ForkFreeRawFileSystem}
import graft.streaming.Streams

/** graft's local filesystem against stock Hadoop: the session's file
  * operations start no `readlink`/`chmod` process, and every observable
  * result (modes, link status, renames, checksums) equals stock
  * `LocalFileSystem`/`LocalFs` on the same operations in a sibling dir.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSession._

  private val fileUri = URI.create("file:///")

  private def tempDir(): File = Files.createTempDirectory("graft-localfs").toFile

  private def stockFs: FileSystem = { val fs = new LocalFileSystem(); fs.initialize(fileUri, new Configuration()); fs }
  private def oursFs: FileSystem = { val fs = new ForkFreeFileSystem(); fs.initialize(fileUri, new Configuration()); fs }
  private def stockFc: FileContext = {
    val fc = FileContext.getFileContext(fileUri, new Configuration())
    assert(fc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    fc
  }
  private def oursFc: FileContext =
    FileContext.getFileContext(new ForkFreeFs(fileUri, new Configuration()), new Configuration())

  private def mode(f: JPath): Int = Files.getAttribute(f, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
    .asInstanceOf[Int] & 0xfff

  /** relative path -> (octal mode, file bytes) of everything under `root` */
  private def tree(root: File): Map[String, (String, Seq[Byte])] =
    Files.walk(root.toPath).iterator.asScala.filter(_ != root.toPath).map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
      root.toPath.relativize(p).toString -> (Integer.toOctalString(mode(p)), bytes)
    }.toMap

  /** Runs `op` with stock Hadoop in one dir and with graft's classes in
    * another; the outcomes (value or exception class) and the resulting
    * trees must be equal.
    */
  private def sameAsStock[T](op: (FileSystem, FileContext, File) => T): Unit = {
    val (sDir, oDir) = (tempDir(), tempDir())
    val s = Try(op(stockFs, stockFc, sDir)).toEither.left.map(_.getClass)
    val o = Try(op(oursFs, oursFc, oDir)).toEither.left.map(_.getClass)
    assert(o === s)
    assert(tree(oDir) === tree(sDir))
  }

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def fcWrite(fc: FileContext, p: Path, text: String, perm: FsPermission = null): Unit = {
    val opts = if (perm == null) Seq.empty else Seq(Options.CreateOpts.perms(perm))
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), opts: _*)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  test("a stateful micro-batch, a partitioned write and a FileContext rename start no readlink or chmod") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir()
    def at(m: Int) = java.time.Instant.parse(f"2024-01-01T10:$m%02d:00Z")
    val frame = spark.range(200).selectExpr("id", "id % 4 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
    val ((emitted, readBack), starts) = ProcessStarts.during {
      // a stateful twin with a checkpoint: offset, commit and state-store files
      val mem = MemoryStream[Streams.SEv]
      val q = Streams.emaStream(mem.toDS(), 20).writeStream.format("memory").queryName("localfs_ema")
        .outputMode("update").option("checkpointLocation", new File(dir, "ckpt").getPath).start()
      try {
        mem.addData(Streams.SEv(1L, at(0), 10.0), Streams.SEv(2L, at(1), 20.0))
        q.processAllAvailable()
        mem.addData(Streams.SEv(1L, at(2), 11.0))
        q.processAllAvailable()
      } finally q.stop()
      // the ETL load leg's partitioned parquet write, read back
      val parquet = new File(dir, "parquet").getPath
      Feeds.writePartitioned(frame, parquet, Seq("k"))
      val back = spark.read.parquet(parquet).select("id", "k", "v").as[(Long, Long, Double)].collect().sorted.toSeq
      // a checkpoint-style create, then rename over an existing file
      val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
      val (tmp, dst) = (new Path(dir.getPath, "a.tmp"), new Path(dir.getPath, "a"))
      fcWrite(fc, dst, "old")
      fcWrite(fc, tmp, "new")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      (spark.table("localfs_ema").count(), back)
    }
    assert(emitted === 3L)
    assert(readBack === frame.as[(Long, Long, Double)].collect().sorted.toSeq)
    assert(Files.readString(new File(dir, "a").toPath) === "new")
    val forks = starts.map(_.command).filter(c => c.startsWith("readlink") || c.startsWith("chmod"))
    assert(forks.size == 0, s"; first: ${forks.take(3).mkString(", ")}")
  }

  test("file: paths of the session resolve to graft's filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(fileUri, conf)
    assert(fs.isInstanceOf[ForkFreeFileSystem], s"cached or configured FileSystem is ${fs.getClass}")
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawFileSystem])
    val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeFs], s"FileContext filesystem is ${afs.getClass}")
  }

  test("modes of files and dirs created through both APIs match stock, sticky and setgid included") {
    sameAsStock { (fs, fc, dir) =>
      val d = dir.getPath
      write(fs, new Path(d, "plain"), "x")
      fs.create(new Path(d, "p640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(d, "dir"))
      fs.mkdirs(new Path(d, "d750/sub"), new FsPermission("750"))
      fs.setPermission(new Path(d, "plain"), new FsPermission("600"))
      fs.mkdirs(new Path(d, "sticky"))
      fs.setPermission(new Path(d, "sticky"), new FsPermission("1777"))
      fcWrite(fc, new Path(d, "fc_plain"), "y")
      fcWrite(fc, new Path(d, "fc_p640"), "z", new FsPermission("640"))
      fc.mkdir(new Path(d, "fc_d750/sub"), new FsPermission("750"), true)
      fc.setPermission(new Path(d, "fc_d750"), new FsPermission("1777"))
      // GNU chmod keeps a directory's setgid bit under a numeric mode
      fs.mkdirs(new Path(d, "sg"))
      assert(new ProcessBuilder("chmod", "2755", new File(dir, "sg").getPath).start().waitFor() == 0)
      fs.mkdirs(new Path(d, "sg/sub"), new FsPermission("700"))
      fs.setPermission(new Path(d, "sg"), new FsPermission("750"))
      fc.setPermission(new Path(d, "sg/sub"), new FsPermission("755"))
    }
    val dir = tempDir()
    oursFs.mkdirs(new Path(dir.getPath, "s"))
    oursFs.setPermission(new Path(dir.getPath, "s"), new FsPermission("1777"))
    assert(Integer.toOctalString(mode(new File(dir, "s").toPath)) === "1777", "the sticky bit must be applied")
  }

  test("getFileLinkStatus matches stock on a symlink, a regular file and a missing path") {
    def fields(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getPath.toString,
      s.getLen, s.isDirectory, s.getPermission.toString, s.getOwner, s.getGroup)
    def probe(fs: FileSystem, fc: FileContext, dir: File) = {
      write(fs, new Path(dir.getPath, "target"), "abc")
      Files.createSymbolicLink(new File(dir, "link").toPath, new File(dir, "target").toPath)
      def rel(s: (Boolean, String, String, Long, Boolean, String, String, String)) =
        s.copy(_2 = s._2.replace(dir.getPath, "<dir>"), _3 = s._3.replace(dir.getPath, "<dir>"))
      Seq("link", "target").flatMap { name =>
        val p = new Path(dir.getPath, name)
        Seq(rel(fields(fs.getFileLinkStatus(p))), rel(fields(fc.getFileLinkStatus(p))))
      }
    }
    val (sDir, oDir) = (tempDir(), tempDir())
    val stock = probe(stockFs, stockFc, sDir)
    val ours = probe(oursFs, oursFc, oDir)
    assert(ours === stock)
    assert(ours.head._1 && ours.head._2 === "file:<dir>/target", "a link reads as a link with a qualified target")
    val missing = new Path(oDir.getPath, "missing")
    for ((s, o) <- Seq(Try(stockFs.getFileLinkStatus(missing)) -> Try(oursFs.getFileLinkStatus(missing)),
                       Try(stockFc.getFileLinkStatus(missing)) -> Try(oursFc.getFileLinkStatus(missing)))) {
      assert(o.isFailure && o.failed.get.getClass === s.failed.get.getClass)
    }
  }

  test("renames with and without OVERWRITE match stock") {
    sameAsStock { (fs, _, dir) =>
      val d = dir.getPath
      write(fs, new Path(d, "a"), "a")
      write(fs, new Path(d, "b"), "b")
      write(fs, new Path(d, "c"), "c")
      (fs.rename(new Path(d, "a"), new Path(d, "a2")), fs.rename(new Path(d, "b"), new Path(d, "c")))
    }
    sameAsStock { (_, fc, dir) =>
      val d = dir.getPath
      Seq("a", "b", "c").foreach(n => fcWrite(fc, new Path(d, n), n))
      fc.rename(new Path(d, "a"), new Path(d, "a2"))
      fc.rename(new Path(d, "b"), new Path(d, "c"), Options.Rename.OVERWRITE)
    }
    sameAsStock { (_, fc, dir) =>
      val d = dir.getPath
      Seq("a", "b").foreach(n => fcWrite(fc, new Path(d, n), n))
      fc.rename(new Path(d, "a"), new Path(d, "b")) // exists, no OVERWRITE: fails
    }
  }

  test("a flipped data byte fails the read as in stock Hadoop: ChecksumException through FileSystem") {
    /** outcome of reading each file back after one of its data bytes flipped */
    def corrupted(fs: FileSystem, fc: FileContext): Seq[Either[Class[_], Int]] = {
      val dir = tempDir()
      val (p1, p2) = (new Path(dir.getPath, "fs.bin"), new Path(dir.getPath, "fc.bin"))
      write(fs, p1, "the quick brown fox jumps over the lazy dog")
      fcWrite(fc, p2, "the quick brown fox jumps over the lazy dog")
      for (name <- Seq("fs.bin", "fc.bin")) {
        assert(new File(dir, s".$name.crc").exists, s"$name must have its .crc sidecar")
        val f = new File(dir, name).toPath
        val bytes = Files.readAllBytes(f)
        bytes(4) = (bytes(4) ^ 1).toByte
        Files.write(f, bytes)
      }
      def readAll(in: java.io.InputStream): Int = try in.readAllBytes().length finally in.close()
      Seq(Try(readAll(fs.open(p1))), Try(readAll(fc.open(p2)))).map(_.toEither.left.map(_.getClass))
    }
    val ours = corrupted(oursFs, oursFc)
    assert(ours === corrupted(stockFs, stockFc))
    assert(ours.head === Left(classOf[ChecksumException]))
  }
}
