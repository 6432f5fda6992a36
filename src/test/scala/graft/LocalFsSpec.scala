package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import scala.reflect.io.Directory
import scala.util.Try
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, NioRawLocalFs}

/** The session's `file:` filesystems: they are the ones Hadoop resolves,
  * they set permissions and report link status as Hadoop's shell path
  * does, and a checkpointed stream plus a parquet write fork no `chmod`
  * or `readlink`. */
class LocalFsSpec extends AnyFunSuite with SharedSpark {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def withDir(body: JPath => Unit): Unit = {
    val root = Files.createTempDirectory("graft-localfs")
    try body(root) finally new Directory(root.toFile).deleteRecursively()
  }

  /** Stock and java.nio raw filesystems under one conf; umask 027 is not
    * the process's, so a create or mkdirs that skipped chmod would show. */
  private def twins(): Seq[RawLocalFileSystem] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "027")
    Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf); fs }
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session resolves file: to the java.nio filesystems for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf) eq fs)
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.isInstanceOf[NioRawLocalFs])
  }

  test("setPermission leaves the mode Hadoop's chmod leaves") {
    withDir { root =>
      val fss = twins()
      def both(name: String, dir: Boolean, start: Int)(act: (RawLocalFileSystem, Path) => Unit) =
        fss.map { fs =>
          val p = root.resolve(s"$name-${fs.getClass.getSimpleName}")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
          Files.setAttribute(p, "unix:mode", start)
          act(fs, new Path(p.toString))
          p
        }
      for (m <- Seq("644", "755", "700", "600", "444"); dir <- Seq(false, true)) {
        val ps = both(s"m$m-$dir", dir, oct("777"))((fs, p) =>
          fs.setPermission(p, new FsPermission(oct(m).toShort)))
        assert(ps.map(Files.getPosixFilePermissions(_)).distinct.size == 1, s"mode $m dir=$dir")
        assert(ps.map(mode).distinct == Seq(oct(m)), s"mode $m dir=$dir")
      }
      // umask-applied defaults: create and mkdirs chmod what they make
      val files = fss.map { fs =>
        val p = root.resolve(s"created-${fs.getClass.getSimpleName}")
        fs.create(new Path(p.toString)).close(); p }
      assert(files.map(mode) == Seq(oct("640"), oct("640")))
      val dirs = fss.map { fs =>
        val p = root.resolve(s"made-${fs.getClass.getSimpleName}/sub")
        assert(fs.mkdirs(new Path(p.toString))); p }
      assert(dirs.flatMap(p => Seq(mode(p), mode(p.getParent))) == Seq.fill(4)(oct("750")))
      // java.nio cannot set a sticky bit: seeing it proves the shell fallback
      val sticky = both("sticky", dir = true, oct("755"))((fs, p) =>
        fs.setPermission(p, new FsPermission(oct("1755").toShort)))
      assert(sticky.map(mode) == Seq(oct("1755"), oct("1755")))
      // chmod(1) keeps a directory's setgid under a numeric mode
      val setgid = both("setgid", dir = true, oct("2777"))((fs, p) =>
        fs.setPermission(p, new FsPermission(oct("755").toShort)))
      assert(setgid.map(mode) == Seq(oct("2755"), oct("2755")))
      intercept[FileNotFoundException](fss(1).setPermission(
        new Path(root.resolve("missing").toString), new FsPermission(oct("644").toShort)))
    }
  }

  test("getFileLinkStatus reports what Hadoop's readlink path reports") {
    withDir { root =>
      val Seq(stock, nio) = twins()
      val file = Files.write(root.resolve("file"), "abc".getBytes)
      val dir = Files.createDirectory(root.resolve("dir"))
      val link = Files.createSymbolicLink(root.resolve("link"), file)
      val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
      val missing = root.resolve("missing")
      // Hadoop's `readlink` sees a symlink only through an unqualified path: check both forms
      def outcome(fs: RawLocalFileSystem, q: Path) = Try(fs.getFileLinkStatus(q)).toEither
        .map(s => (s.getPath, s.getLen, s.isDirectory, s.isSymlink, Option.when(s.isSymlink)(s.getSymlink)))
        .left.map(_.getClass)
      for (p <- Seq(file, dir, link, dangling, missing); q <- Seq(new Path(p.toString), new Path(p.toUri))) {
        assert(outcome(nio, q) == outcome(stock, q), q)
      }
      assert(Seq(link, dangling).forall(p => nio.getFileLinkStatus(new Path(p.toString)).isSymlink))
      assert(outcome(nio, new Path(missing.toString)) == Left(classOf[FileNotFoundException]))
    }
  }

  test("a checkpointed windowed aggregation and a parquet append fork no chmod or readlink") {
    withDir { root =>
      val src = Files.createDirectory(root.resolve("src"))
      (0 until 3).foreach { i =>
        val lines = (0 until 20).map(j => f"""{"ts":"2024-01-01 00:${i * 10 + j % 10}%02d:00","v":$j}""")
        Files.write(src.resolve(s"part-$i.json"), lines.asJava).toFile
          .setLastModified(1704067200000L + i * 1000L)
      }
      val out = root.resolve("out").toString
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.setDestination(root.resolve("forks.jfr"))
      rec.start()
      val batches = try {
        val q = spark.readStream.schema("ts TIMESTAMP, v LONG")
          .option("maxFilesPerTrigger", "1").json(src.toString)
          .withWatermark("ts", "5 minutes")
          .groupBy(window(col("ts"), "5 minutes")).agg(sum("v").as("v"))
          .select(col("window.start").as("start"), col("v"))
          .writeStream.format("parquet").outputMode("append").option("path", out)
          .option("checkpointLocation", root.resolve("ckpt").toString).start()
        try q.processAllAvailable() finally q.stop()
        spark.read.parquet(out).write.mode("append").parquet(root.resolve("copy").toString)
        q.recentProgress.count(_.numInputRows > 0)
      } finally rec.stop()
      rec.close()
      assert(batches == 3)
      assert(Files.exists(root.resolve("ckpt/state/0/0/1.delta")), "the default state store wrote deltas")
      val commands = RecordingFile.readAllEvents(root.resolve("forks.jfr")).asScala
        .map(_.getString("command")).toSeq
      val forks = commands.filter(c => Set("chmod", "readlink")(c.split(" ").head.split('/').last))
      assert(forks.isEmpty, s"${forks.size} of ${commands.size} child processes, e.g. ${forks.take(3)}")
    }
  }
}
