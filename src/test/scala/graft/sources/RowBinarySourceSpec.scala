package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.plans.GraftFunctions

/** Round-trip spec for the graft-rowbinary DataSource V2 connector: the
  * reader must be the exact byte-level inverse of the writer (and of the
  * `graft_rowbinary` expression they share helpers with). */
class RowBinarySourceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fmt = "graft.sources.RowBinarySource"
  private def tmp(): String = Files.createTempDirectory("graft-rowbinary").toString

  behavior of "graft-rowbinary DataSource V2"

  it should "round-trip mixed primitive/string/null rows" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), true),
      (2L, None, Some(-2.25), false),
      (3L, Some("βeta✓"), None, true))
      .toDF("id", "name", "score", "flag")
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema).load(dir)
    back.count() shouldBe 3
    back.orderBy("id").collect().map(_.toSeq) shouldBe df.orderBy("id").collect().map(_.toSeq)
  }

  it should "round-trip fixed, bounded and uuid fields through the fieldSpec option" in {
    import spark.implicits._
    val df = Seq(
      (1L, "ab", "00112233-4455-6677-8899-aabbccddeeff", "short"),
      (2L, "cdef", "ffeeddcc-bbaa-9988-7766-554433221100", "this one is far too long"))
      .toDF("id", "code", "uid", "note")
    val spec = "code:fixed(8), uid:uuid, note:varchar(10)"
    val dir = tmp()
    df.write.format(fmt).option("fieldSpec", spec).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema)
      .option("fieldSpec", spec).load(dir).orderBy("id").collect()
    // fixed: zero padding stripped on read; uuid: canonical text restored
    back.map(_.getString(1)) shouldBe Array("ab", "cdef")
    back.map(_.getString(2)) shouldBe Array(
      "00112233-4455-6677-8899-aabbccddeeff", "ffeeddcc-bbaa-9988-7766-554433221100")
    // varchar(10) truncates the long note at the byte budget
    back.map(_.getString(3)) shouldBe Array("short", "this one i")
    // wire shape check: fixed(8) really is 8 bytes, uuid 16, no prefixes
    val raw = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".rowbinary")).sorted
    raw.length should be > 0
    // a bad spec (unknown field) is rejected up front
    intercept[Throwable] {
      spark.read.format(fmt).schema(df.schema)
        .option("fieldSpec", "nope:uuid").load(dir).collect()
    }
  }

  it should "round-trip the events table at second-truncated timestamps" in {
    // DateTime on the RowBinary wire is int32 epoch seconds (ClickHouse),
    // so sub-second precision is defined to truncate
    val sf = "/root/testdata/sf0.001"
    val src = graft.Tables.events(spark, sf)
      .withColumn("ts", date_trunc("second", col("ts")))
    val dir = tmp()
    src.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(src.schema).load(dir)
    back.count() shouldBe src.count()
    val a = back.orderBy("event_id").collect().map(_.toSeq)
    val b = src.orderBy("event_id").collect().map(_.toSeq)
    a shouldBe b
  }

  it should "write each row's graft_rowbinary bytes, in order, for an all-nullable schema" in {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("alpha"), Some(1.5), Some(true)),
      (None, Some("βeta✓" * 40), None, Some(false)),
      (Some(3L), None, Some(-2.25), None))
      .toDF("id", "name", "score", "flag").coalesce(1)
    df.schema.fields.forall(_.nullable) shouldBe true
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val encoded = df.select(GraftFunctions.call("graft_rowbinary", struct(df.columns.map(col): _*)))
      .collect().map(_.getAs[Array[Byte]](0))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".rowbinary"))
    files.length shouldBe 1
    Files.readAllBytes(files.head.toPath) shouldBe encoded.flatten
  }

  it should "refuse to read without an explicit schema" in {
    val dir = tmp()
    an[Exception] should be thrownBy spark.read.format(fmt).load(dir).collect()
  }
}
