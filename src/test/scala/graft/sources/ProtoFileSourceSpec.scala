package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.plans.GraftFunctions

/** Round-trip spec for the graft-proto DataSource V2 connector: varint
  * length framing + ProtoWire messages; the reader must be the exact
  * inverse of the writer, and the framed bytes must be decodable by the
  * `graft_proto_decode` expression after stripping the length prefix
  * (same kernel, same wire). */
class ProtoFileSourceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fmt = "graft.sources.ProtoFileSource"
  private def tmp(): String = Files.createTempDirectory("graft-proto").toString

  behavior of "graft-proto DataSource V2"

  it should "round-trip mixed rows including nulls, defaults and arrays" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), Some(Seq(1.0f, -2.5f))),
      (2L, None, Some(0.0), Some(Seq.empty[Float])), // explicit default + present-empty
      (3L, Some(""), None, None))
      .toDF("id", "name", "score", "vec")
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema).load(dir)
    back.count() shouldBe 3
    back.orderBy("id").collect().map(_.toSeq) shouldBe df.orderBy("id").collect().map(_.toSeq)
  }

  it should "round-trip the full events table" in {
    val sf = "/root/testdata/sf0.001"
    val src = graft.Tables.events(spark, sf)
    val dir = tmp()
    src.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(src.schema).load(dir)
    back.count() shouldBe src.count()
    back.orderBy("event_id").collect().map(_.toSeq) shouldBe
      src.orderBy("event_id").collect().map(_.toSeq)
  }

  it should "read with a NARROWER schema (unknown fields skipped)" in {
    import spark.implicits._
    val dir = tmp()
    Seq((7L, "keep", 9.5)).toDF("a", "b", "c")
      .write.format(fmt).mode("append").save(dir)
    // reader knows only fields 1-2: field 3 on the wire is skipped
    val narrow = org.apache.spark.sql.types.StructType.fromDDL("a BIGINT, b STRING")
    val row = spark.read.format(fmt).schema(narrow).load(dir).collect()(0)
    (row.getLong(0), row.getString(1)) shouldBe ((7L, "keep"))
  }

  it should "advertise a nullable scan schema so absent fields survive planning" in {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = tmp()
    Seq((5L, "x")).toDF("a", "b").write.format(fmt).mode("append").save(dir)
    // user declares every field NOT NULL, but field 3 is absent on the
    // wire: the scan must plan as nullable or `c IS NULL` constant-folds
    // to false and the row is silently lost
    val declared = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = false),
      StructField("c", DoubleType, nullable = false)))
    val df = spark.read.format(fmt).schema(declared).load(dir)
    df.schema.fields.forall(_.nullable) shouldBe true
    df.filter("c IS NULL").count() shouldBe 1
  }

  it should "produce frames decodable by graft_proto_decode on the raw bytes" in {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val dir = tmp()
    Seq((42L, "x")).toDF("a", "b").write.format(fmt).mode("append").save(dir)
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".pb")).head
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    // single record: first byte is the varint length of the remainder
    (bytes(0) & 0x80) shouldBe 0 // short message → 1-byte varint
    (bytes(0) & 0x7f) shouldBe (bytes.length - 1)
    val msg = java.util.Arrays.copyOfRange(bytes, 1, bytes.length)
    val r = spark.range(1).select(
        expr(s"graft_proto_decode(unhex('${msg.map("%02X".format(_)).mkString}'), 'a BIGINT, b STRING') AS rec"))
      .collect()(0).getStruct(0)
    (r.getLong(0), r.getString(1)) shouldBe ((42L, "x"))
  }

  it should "frame each row as varint(length) + its graft_proto bytes, in order" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("alpha"), Some(Seq(1.0f, -2.5f))),
      (2L, None, None),
      (3L, Some("long " * 40), Some(Seq.empty[Float]))) // a 2-byte length varint
      .toDF("id", "name", "vec").coalesce(1)
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val frames = df.select(GraftFunctions.call("graft_proto", struct(df.columns.map(col): _*)))
      .collect().map { r =>
        val msg = r.getAs[Array[Byte]](0)
        val frame = new java.io.ByteArrayOutputStream()
        graft.functions.ProtoWire.writeVarint(frame, msg.length.toLong)
        frame.write(msg)
        frame.toByteArray
      }
    frames.exists(_.length > 129) shouldBe true
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".pb"))
    files.length shouldBe 1
    Files.readAllBytes(files.head.toPath) shouldBe frames.flatten
  }

  it should "reject reads without a schema and unsupported field types" in {
    an[Exception] should be thrownBy
      spark.read.format(fmt).load(tmp()).collect()
    import spark.implicits._
    val nested = Seq((1L, Map("k" -> 1))).toDF("a", "m")
    an[Exception] should be thrownBy
      nested.write.format(fmt).mode("append").save(tmp())
  }
}
