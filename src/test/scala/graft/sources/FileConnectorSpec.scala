package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.io.Source

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The format-independent behaviour of [[FileConnector]], once per
  * format: write-failure cleanup, the read listing, the per-task file
  * layout and option-key matching. Format-specific round trips and wire
  * bytes live in each format's own spec. */
class FileConnectorSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** One format under test; `option` is a key the format reads, with a
    * value it accepts and one it rejects. */
  private case class Format(name: String, provider: String, ext: String,
      option: Option[(String, String, String)])

  private val formats = Seq(
    Format("rowbinary", classOf[RowBinarySource].getName, ".rowbinary",
      Some(("fieldSpec", "s:fixed(8)", "nope:uuid"))),
    Format("vertica-native", classOf[VerticaNativeSource].getName, ".vnative",
      Some(("fieldSpec", "s:fixed(8)", "nope:uuid"))),
    Format("avro", classOf[AvroContainerSource].getName, ".avro",
      Some(("compression", "deflate", "zstd"))),
    Format("proto", classOf[ProtoFileSource].getName, ".pb", None))

  private val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))

  /** Ids 0 until n in `parts` range partitions, with a string column. */
  private def rows(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id"), concat(lit("r"), col("id").cast("string")).as("s"))

  private def tmp(): String = Files.createTempDirectory("graft-fileconnector").toString

  private def filesUnder(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  private def read(f: Format, dir: String, options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(f.provider).options(options).schema(schema).load(dir)

  private def ids(df: DataFrame): Seq[Long] = df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  for (f <- formats) {
    behavior of s"FileConnector over ${f.name}"

    it should "leave no file when a task fails mid-write after another committed" in {
      val out = s"${tmp()}/out"
      val committed = new CountDownLatch(1)
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.reason == Success) committed.countDown()
      }
      FileConnectorSpec.committed = committed
      FileConnectorSpec.sawCommit = false
      // earlier jobs' queued task ends must not reach the new listener
      GraftShim.drainListenerBus(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      // partition 0 holds ids 0-99 and commits; partition 1 writes ids
      // 100-149 into its open file, then fails once partition 0 is done
      val failing = udf { (id: Long) =>
        if (id == 150L) {
          FileConnectorSpec.sawCommit = FileConnectorSpec.committed.await(60, TimeUnit.SECONDS)
          throw new IllegalStateException("injected write failure")
        }
        id
      }
      try {
        val ex = intercept[Exception] {
          rows(200, 2).withColumn("id", failing(col("id")))
            .write.format(f.provider).mode("append").save(out)
        }
        Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
          .exists(e => String.valueOf(e.getMessage).contains("injected write failure")) shouldBe true
      } finally spark.sparkContext.removeSparkListener(listener)
      FileConnectorSpec.sawCommit shouldBe true
      filesUnder(new File(out)) shouldBe empty
    }

    it should "read every file below the path except _- and .-prefixed ones" in {
      val dir = tmp()
      rows(10, 1).write.format(f.provider).mode("append").save(dir)
      val file = filesUnder(new File(dir)).filter(_.getName.endsWith(f.ext)) match {
        case Seq(one) => one
        case other => fail(s"expected one data file, got $other")
      }
      def copyTo(rel: String): Unit = {
        val target = new File(dir, rel)
        target.getParentFile.mkdirs()
        Files.copy(file.toPath, target.toPath)
      }
      copyTo(s"epoch=1/${file.getName}") // visible: subdirectories are listed
      copyTo(s"_staging/${file.getName}")
      copyTo(s".hidden/${file.getName}")
      copyTo(s"_${file.getName}")
      copyTo(s".${file.getName}")
      copyTo("notes.txt")
      val back = read(f, dir)
      back.rdd.getNumPartitions shouldBe 2
      ids(back) shouldBe ((0L until 10L) ++ (0L until 10L)).sorted
    }

    it should "write no file for an empty partition" in {
      val dir = tmp()
      val df = rows(2, 4)
      df.rdd.glom().map(_.length).collect() shouldBe Array(0, 1, 0, 1)
      df.write.format(f.provider).mode("append").save(dir)
      filesUnder(new File(dir)).count(_.getName.endsWith(f.ext)) shouldBe 2
      ids(read(f, dir)) shouldBe Seq(0L, 1L)
    }

    it should "plan one input partition per data file" in {
      val dir = tmp()
      rows(100, 4).write.format(f.provider).mode("append").save(dir)
      filesUnder(new File(dir)).count(_.getName.endsWith(f.ext)) shouldBe 4
      val back = read(f, dir)
      back.rdd.getNumPartitions shouldBe 4
      back.agg(sum("id")).collect()(0).getLong(0) shouldBe (0L until 100L).sum
    }

    for ((key, good, bad) <- f.option) {
      it should s"match the $key option key case-insensitively" in {
        val dir = tmp()
        rows(10, 1).write.format(f.provider).option(key, good).mode("append").save(dir)
        read(f, dir, Map(key.toUpperCase -> good)).orderBy("id").collect().map(_.getString(1)) shouldBe
          (0 until 10).map(i => s"r$i").toArray
        an[Exception] should be thrownBy
          rows(10, 1).write.format(f.provider).option(key.capitalize, bad).mode("append").save(tmp())
        an[Exception] should be thrownBy read(f, dir, Map(key.toUpperCase -> bad)).collect()
      }
    }
  }

  behavior of "graft.sources"

  it should "implement the DataSource V2 scaffolding only in FileConnector.scala" in {
    val root = new File("src/main/scala/graft/sources")
    withClue(s"run from the repository root (${root.getAbsolutePath}): ") {
      root.isDirectory shouldBe true
    }
    val sources = root.listFiles().toSeq.filter(_.getName.endsWith(".scala")).map { f =>
      val s = Source.fromFile(f, "UTF-8")
      try f.getName -> s.mkString finally s.close()
    }
    for (name <- Seq("Table", "ScanBuilder", "WriteBuilder", "InputPartition",
        "PartitionReaderFactory", "DataWriterFactory", "DataWriter", "WriterCommitMessage")) {
      val implementsIt = s"""\\b(extends|with|new)\\s+$name\\b""".r
      val hits = sources.flatMap { case (file, src) => implementsIt.findAllIn(src).map(_ => file) }
      withClue(s"$name: ") { hits shouldBe Seq("FileConnector.scala") }
    }
  }
}

object FileConnectorSpec {
  // the failing write task and the test run in one local-mode JVM
  @volatile var committed: CountDownLatch = new CountDownLatch(0)
  @volatile var sawCommit: Boolean = false
}
