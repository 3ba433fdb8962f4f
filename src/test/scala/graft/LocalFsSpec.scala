package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.mapreduce.MapReduce
import graft.operators.Shared

/** graft's `file:` file system answers what Hadoop's `RawLocalFileSystem`
  * answers, keeps Hadoop's checksums, and starts no process where Hadoop
  * without libhadoop forks `chmod` and `readlink`. */
class LocalFsSpec extends SparkSpec {
  private val local = URI.create("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, new Configuration()); fs }
  private lazy val hadoopRaw = init(new RawLocalFileSystem)
  private lazy val graftRaw = init(new NioRawLocalFileSystem)

  test("setPermission leaves the permissions Hadoop's chmod leaves") {
    Scratch.withDir("graft-localfs-") { dir =>
      Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff).foreach { mode => // 0600 0644 0700 0755 0777
        val perm = new FsPermission(mode.toShort)
        val modes = Seq("hadoop" -> hadoopRaw, "graft" -> graftRaw).map { case (name, fs) =>
          val f = Paths.get(dir, s"$name-$mode")
          Files.writeString(f, "x")
          fs.setPermission(new Path(f.toUri), perm)
          Files.getPosixFilePermissions(f).asScala.toSet
        }
        assert(modes.distinct.size == 1, f"mode 0$mode%o: Hadoop ${modes(0)}, graft ${modes(1)}")
      }
    }
  }

  test("getFileLinkStatus answers what Hadoop's answers, qualified or not") {
    Scratch.withDir("graft-localfs-") { dir =>
      val file = Files.writeString(Paths.get(dir, "file"), "data")
      val sub = Files.createDirectory(Paths.get(dir, "dir"))
      val link = Files.createSymbolicLink(Paths.get(dir, "link"), file)
      val dangling = Files.createSymbolicLink(Paths.get(dir, "dangling"), Paths.get(dir, "gone"))
      val missing = Paths.get(dir, "missing")
      def answer(fs: FileSystem, p: Path): String =
        try fs.getFileLinkStatus(p).toString
        catch { case e: FileNotFoundException => s"${e.getClass.getName}: ${e.getMessage}" }
      for {
        nio <- Seq(file, sub, link, dangling, missing)
        p <- Seq(new Path(nio.toUri), new Path(nio.toString))
      } {
        val (want, got) = (answer(hadoopRaw, p), answer(graftRaw, p))
        assert(got == want, s"$p: Hadoop $want, graft $got")
      }
      // the unqualified link is the case Hadoop's readlink sees as one
      assert(graftRaw.getFileLinkStatus(new Path(link.toString)).isSymlink)
      assert(!graftRaw.getFileLinkStatus(new Path(link.toUri)).isSymlink)
    }
  }

  /** A `FileContext` on graft's `ChecksumFs`, as Spark's checkpoint
    * manager builds one from a Hadoop configuration. */
  private def fileContext(): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(local, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    fc
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
      org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** With a buffer size: the one-argument `open` reaches `FilterFs`'s,
    * which skips `ChecksumFs` and reads unchecked, in Hadoop's `LocalFs`
    * as in graft's. */
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a FileContext rename with OVERWRITE moves the checksum with the file") {
    Scratch.withDir("graft-localfs-") { dir =>
      val fc = fileContext()
      val (tmp, dst) = (new Path(s"file:$dir/.0.tmp"), new Path(s"file:$dir/0"))
      write(fc, dst, "old batch")
      write(fc, tmp, "new batch")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      val names = Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      assert(names == Set("0", ".0.crc"), s"after the rename: $names")
      assert(read(fc, dst) == "new batch")
    }
  }

  test("a corrupted data byte still fails the read with a ChecksumException") {
    Scratch.withDir("graft-localfs-") { dir =>
      val fc = fileContext()
      val fs = init(new NioLocalFileSystem)
      Seq("fc", "fs").foreach { via =>
        val p = new Path(s"file:$dir/$via")
        if (via == "fc") write(fc, p, "checksummed bytes")
        else { val out = fs.create(p); try out.write("checksummed bytes".getBytes(UTF_8)) finally out.close() }
        assert(Files.exists(Paths.get(dir, s".$via.crc")), s"$via wrote no checksum")
        val raf = new RandomAccessFile(s"$dir/$via", "rw")
        try { raf.seek(3); raf.write('X'.toInt) } finally raf.close()
        intercept[ChecksumException](if (via == "fc") read(fc, p) else {
          val in = fs.open(p); try in.readAllBytes() finally in.close()
        })
      }
    }
  }

  test("an installed session forks no Hadoop Shell command: streams, a memo build, a facade write") {
    // Hadoop's own file: instance already in the JVM-wide cache, and a
    // context that holds none of graft's keys: a context built outside
    // GraftSession.builder, as a harness of its own builds it
    FileSystem.get(local, new Configuration())
    val hadoop = spark.sparkContext.hadoopConfiguration
    Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache").foreach(hadoop.unset)
    val s = GraftSession.install(spark.newSession())
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      Seq("st_window_agg", "st_sessionize_stream").foreach { q =>
        assert(SparkEntry.queries(q)(s, sf).collect().nonEmpty, s"$q returned no rows")
        GraftSession.resetBetweenQueries(s)
      }
      val memo = Shared.memo(s, sf, s"localfs_forks_${System.nanoTime}")(s.range(10).toDF("id"))
      assert(memo.count() == 10)
      Scratch.withDir("graft-localfs-") { dir =>
        val lines = Tables.documents(s, sf).select("text").rdd.map(_.getString(0))
        MapReduce.run[String, String, Int, String](lines, _.split(" ").iterator.map(_ -> 1),
          (k, vs) => s"$k: ${vs.sum}", 4).saveAsTextFile(s"$dir/out")
        assert(Files.exists(Paths.get(dir, "out", "_SUCCESS")))
      }
    } finally rec.stop()
    val events = Scratch.withDir("graft-localfs-jfr-") { dir =>
      val file = Paths.get(dir, "forks.jfr")
      rec.dump(file)
      rec.close()
      RecordingFile.readAllEvents(file).asScala.toSeq
    }
    def shellFrames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
    val forks = events.filter(shellFrames(_).exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(forks.isEmpty, s"${forks.size} Hadoop Shell forks, e.g. " +
      forks.take(3).map(e => e.getString("command") + " from " + shellFrames(e).take(12).mkString(" < "))
        .mkString("; "))
  }
}
