package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.functions.VerticaNativeEncode
import graft.plans.GraftFunctions

/** Round-trip spec for the graft-vertica-native DataSource V2 connector:
  * header validation + reader as the framing inverse of the writer. */
class VerticaNativeSourceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fmt = "graft.sources.VerticaNativeSource"
  private def tmp(): String = Files.createTempDirectory("graft-vnative").toString

  behavior of "graft-vertica-native DataSource V2"

  it should "round-trip mixed rows including nulls" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), true),
      (2L, None, Some(-2.25), false),
      (3L, Some("βeta✓"), None, true))
      .toDF("id", "name", "score", "flag")
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema).load(dir)
    back.orderBy("id").collect().map(_.toSeq) shouldBe df.orderBy("id").collect().map(_.toSeq)
  }

  it should "round-trip CHAR/VARCHAR/UUID fields and carry their header widths" in {
    import spark.implicits._
    val df = Seq(
      (1L, "ab", "00112233-4455-6677-8899-aabbccddeeff"),
      (2L, "wxyz", "ffeeddcc-bbaa-9988-7766-554433221100"))
      .toDF("id", "code", "uid")
    val spec = "code:fixed(6), uid:uuid"
    val dir = tmp()
    df.write.format(fmt).option("fieldSpec", spec).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema)
      .option("fieldSpec", spec).load(dir).orderBy("id").collect()
    back.map(_.getString(1)) shouldBe Array("ab", "wxyz") // space pad stripped
    back.map(_.getString(2)) shouldBe Array(
      "00112233-4455-6677-8899-aabbccddeeff", "ffeeddcc-bbaa-9988-7766-554433221100")
    // reading WITHOUT the spec must fail the header width check (CHAR(6)
    // and UUID(16) columns are not variable-width on the wire)
    intercept[Throwable] {
      spark.read.format(fmt).schema(df.schema).load(dir).collect()
    }
  }

  it should "write fileHeader then each row's graft_verticarow bytes, in order" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("ab"), Some("00112233-4455-6677-8899-aabbccddeeff"), Some(1.5)),
      (2L, None, Some("ffeeddcc-bbaa-9988-7766-554433221100"), None),
      (3L, Some("wxyz"), None, Some(-2.25)))
      .toDF("id", "code", "uid", "score").coalesce(1)
    val spec = "code:fixed(6), uid:uuid"
    val dir = tmp()
    df.write.format(fmt).option("fieldSpec", spec).mode("append").save(dir)
    val encoded = df.select(GraftFunctions.call("graft_verticarow",
        struct(df.columns.map(col): _*), lit(spec)))
      .collect().map(_.getAs[Array[Byte]](0))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".vnative"))
    files.length shouldBe 1
    Files.readAllBytes(files.head.toPath) shouldBe
      VerticaNativeEncode.fileHeader(df.schema, spec) ++ encoded.flatten
  }

  it should "round-trip the events table at full microsecond precision" in {
    // Vertica timestamps are int64 micros since 2000 — unlike RowBinary's
    // int32 seconds, the round trip is exact
    val sf = "/root/testdata/sf0.001"
    val src = graft.Tables.events(spark, sf)
    val dir = tmp()
    src.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(src.schema).load(dir)
    back.count() shouldBe src.count()
    back.orderBy("event_id").collect().map(_.toSeq) shouldBe
      src.orderBy("event_id").collect().map(_.toSeq)
  }

  it should "reject a count-compatible but type-mismatched read schema" in {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s").write.format(fmt).mode("append").save(dir)
    // same column count, but widths disagree (string↔long swapped)
    val swapped = StructType(Seq(
      StructField("id", StringType), StructField("s", LongType)))
    val ex = intercept[Throwable] {
      spark.read.format(fmt).schema(swapped).load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    messages(ex).exists(_.contains("stored width")) shouldBe true
  }

  it should "reject files whose column count disagrees with the schema" in {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s").write.format(fmt).mode("append").save(dir)
    val wrong = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val ex = intercept[Throwable] {
      spark.read.format(fmt).schema(wrong).load(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    messages(ex).exists(_.contains("columns")) shouldBe true
  }
}
