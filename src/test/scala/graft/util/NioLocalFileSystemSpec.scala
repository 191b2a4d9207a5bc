package graft.util

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FsConstants, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.GraftSession
import graft.streaming.{EventSource, GraftLoader}

/** [[NioLocalFileSystem]] and its FileContext pair against stock Hadoop:
  * each case does the same thing through both in sibling temp dirs and
  * compares the full mode bits (`unix:mode`, set-id and sticky included),
  * the `.crc` files' too. Hadoop caches `file://` by scheme and user, so
  * the cases build their instances directly, and the session cases clear
  * the cache that earlier suites in this JVM filled. */
class NioLocalFileSystemSpec extends AnyFlatSpec with Matchers {

  private def tmp(): File = Files.createTempDirectory("graft-niofs").toFile

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(FsConstants.LOCAL_FS_URI, c); fs
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `dir`, `depth` levels deep, by relative name, with
    * its mode. */
  private def modes(dir: File, depth: Int = 2): Map[String, Int] =
    Files.walk(dir.toPath, depth).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_ != dir.toPath)
      .map(p => dir.toPath.relativize(p).toString -> mode(p.toFile)).toMap

  private def chmod(f: File, m: String): Unit =
    new ProcessBuilder("chmod", m, f.getPath).inheritIO().start().waitFor() shouldBe 0

  behavior of "NioLocalFileSystem"

  it should "create files and mkdirs with stock Hadoop's modes for every mode under umask 022 and 000" in {
    for (umask <- Seq("022", "000")) {
      val c = conf(umask)
      val sides = Seq("stock" -> init(new LocalFileSystem, c), "nio" -> init(new NioLocalFileSystem, c))
      sides(1)._2.getRaw shouldBe a[NioRawLocalFileSystem]
      val root = tmp()
      for ((side, fs) <- sides) {
        new File(root, side).mkdir()
        for (m <- 0 to 0x1ff) {
          val perm = new FsPermission(m.toShort)
          val out = fs.create(new Path(s"$root/$side/f$m"), perm, true, 4096, 1.toShort, 1L << 20, null)
          out.write(m); out.close()
          fs.mkdirs(new Path(s"$root/$side/d$m"), perm) shouldBe true
        }
      }
      // depth 1: a mode-0000 directory is not entered
      val (stock, nio) = (modes(new File(root, "stock"), 1), modes(new File(root, "nio"), 1))
      stock.size shouldBe 3 * 512 // file, its .crc, directory
      stock.keySet should contain (".f420.crc")
      withClue(s"umask $umask: ") { nio shouldBe stock }
    }
  }

  it should "leave a sticky bit, and a directory's inherited set-gid bit, as stock Hadoop does" in {
    val c = conf("022")
    val root = tmp()
    for ((side, fs) <- Seq("stock" -> init(new LocalFileSystem, c), "nio" -> init(new NioLocalFileSystem, c))) {
      val dir = new File(root, side); dir.mkdir()
      // create and mkdirs apply the umask, which drops a sticky bit, so
      // only setPermission passes one down
      val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
      fs.mkdirs(new Path(s"$dir/sticky"))
      fs.setPermission(new Path(s"$dir/sticky"), sticky)
      val setgid = new File(dir, "setgid"); setgid.mkdir(); chmod(setgid, "g+s")
      fs.mkdirs(new Path(s"$setgid/child"), new FsPermission(Integer.parseInt("750", 8).toShort))
    }
    val (stock, nio) = (modes(new File(root, "stock")), modes(new File(root, "nio")))
    stock("sticky") & 0x200 shouldBe 0x200
    stock("setgid/child") & 0x400 shouldBe 0x400
    nio shouldBe stock
  }

  it should "answer getFileLinkStatus as stock Hadoop does for files, directories and links" in {
    val c = conf("022")
    val (stock, nio) = (init(new RawLocalFileSystem, c), init(new NioRawLocalFileSystem, c))
    val root = tmp()
    Files.write(Paths.get(s"$root/file"), "abc".getBytes("UTF-8"))
    new File(root, "dir").mkdir()
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get(s"$root/missing"))
    def facts(fs: FileSystem, name: String) = {
      val s = fs.getFileLinkStatus(new Path(s"$root/$name"))
      (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen)
    }
    for (name <- Seq("file", "dir", "link", "dangling"))
      withClue(name) { facts(nio, name) shouldBe facts(stock, name) }
    facts(stock, "link")._1 shouldBe true
    facts(stock, "file") shouldBe ((false, None, false, 3L))
    for (fs <- Seq(stock, nio))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$root/absent")))
  }

  behavior of "NioLocalFs"

  it should "create, rename with overwrite and mkdir through FileContext as stock Hadoop does" in {
    val root = tmp()
    def fileContext(impl: Option[String]): FileContext = {
      val c = conf("022")
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
    }
    val sides = Seq("stock" -> fileContext(None), "nio" -> fileContext(Some(classOf[NioLocalFs].getName)))
    sides(0)._2.getDefaultFileSystem should not be a[NioLocalFs]
    sides(1)._2.getDefaultFileSystem shouldBe a[NioLocalFs]
    for ((side, fc) <- sides) {
      val base = new Path(s"$root/$side")
      fc.mkdir(base, FsPermission.getDirDefault, true)
      fc.mkdir(new Path(base, "offsets"), new FsPermission(Integer.parseInt("750", 8).toShort), false)
      for ((name, text) <- Seq("0" -> "old", ".0.tmp" -> "new")) {
        val out = fc.create(new Path(base, s"offsets/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.perms(new FsPermission(Integer.parseInt("640", 8).toShort)))
        out.write(text.getBytes("UTF-8")); out.close()
      }
      fc.rename(new Path(base, "offsets/.0.tmp"), new Path(base, "offsets/0"), Options.Rename.OVERWRITE)
    }
    val (stock, nio) = (modes(new File(root, "stock")), modes(new File(root, "nio")))
    stock.keySet should contain allOf ("offsets", "offsets/0", "offsets/.0.crc")
    stock.keySet should not contain "offsets/.0.tmp"
    nio shouldBe stock
    for (side <- Seq("stock", "nio"))
      new String(Files.readAllBytes(Paths.get(s"$root/$side/offsets/0")), "UTF-8") shouldBe "new"
  }

  behavior of "GraftSession"

  it should "name the class a file:// cache entry made before the session pinned" in {
    FileSystem.closeAll()
    try {
      FileSystem.get(FsConstants.LOCAL_FS_URI, new Configuration()) // stock, now cached
      val asked = new Configuration()
      asked.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      GraftSession.pinnedLocalFs(asked) shouldBe Some(classOf[RawLocalFileSystem].getName)
      GraftSession.pinnedLocalFs(new Configuration()) shouldBe None // not asked for: no warning
    } finally FileSystem.closeAll()
  }

  it should "resolve file:// to the NIO classes and drain two sinks exactly" in {
    FileSystem.closeAll()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = GraftSession.create("local[2]", 2)
    try {
      import spark.implicits._
      val hc = spark.sparkContext.hadoopConfiguration
      FileSystem.getLocal(hc).getRaw shouldBe a[NioRawLocalFileSystem]
      FileContext.getFileContext(new URI("file:///"), hc).getDefaultFileSystem shouldBe a[NioLocalFs]
      GraftSession.pinnedLocalFs(hc) shouldBe None

      val root = tmp()
      val types = Seq("click", "view", "buy")
      val input = (0 until 300).map { i =>
        (i.toLong, new Timestamp(1704067200000L + i * 600000L), (i % 17).toLong,
          types(i % 3), i * 0.5, s"""{"i":$i}""")
      }.toDF(EventSource.schema.fieldNames.toSeq: _*)
      input.repartition(4).write.parquet(s"$root/src")
      def drain(sink: GraftLoader.Sink, name: String): Unit =
        GraftLoader.builder()
          .source(GraftLoader.FileSource(s"$root/src", maxFilesPerTrigger = 2))
          .sink(sink)
          .checkpoint(s"$root/cp-$name")
          .start(spark).awaitTermination()
      def rows(df: DataFrame, eventType: String): Seq[String] =
        df.select(col("event_id"), col("ts"), col("user_id"), col(eventType), col("value"), col("props"))
          .collect().toSeq.map((r: Row) => r.mkString("|")).sorted
      val expected = rows(input, "event_type")

      drain(GraftLoader.TwoPhaseCommit(s"$root/twopc"), "twopc")
      rows(spark.read.parquet(s"$root/twopc"), "event_type") shouldBe expected

      drain(GraftLoader.BudgetedFiles(s"$root/budgeted", maxRecords = Some(40L)), "budgeted")
      val epochs = new File(s"$root/budgeted").listFiles().filter(_.getName.startsWith("epoch_"))
      epochs.length should be >= 2
      rows(epochs.map(e => spark.read.parquet(e.getPath)).reduce(_ unionByName _), "group") shouldBe expected
    } finally {
      spark.stop()
      FileSystem.closeAll()
    }
  }
}
