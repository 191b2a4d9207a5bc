package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Spec for the graft-avro DataSource V2 connector: written files must be
  * genuine Avro object container files (any Avro tool can read them),
  * round-trip exactly, and self-describe their schema on read. */
class AvroContainerSourceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val fmt = "graft.sources.AvroContainerSource"
  private def tmp(): String = Files.createTempDirectory("graft-avro").toString

  behavior of "graft-avro DataSource V2"

  it should "round-trip mixed primitive/string/binary/null rows" in {
    import spark.implicits._
    val df = Seq(
      (1L, Some("alpha"), Some(1.5), true, Some(Array[Byte](1, 2, 3))),
      (2L, None, Some(-2.25), false, None),
      (3L, Some("βeta✓"), None, true, Some(Array[Byte]())))
      .toDF("id", "name", "score", "flag", "blob")
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(df.schema).load(dir)
    back.count() shouldBe 3
    back.orderBy("id").collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    }) shouldBe df.orderBy("id").collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    })
  }

  it should "write genuine container files and infer the schema from their header" in {
    import spark.implicits._
    val df = Seq((1L, "x", 0.5), (2L, "y", 1.5)).toDF("id", "tag", "w")
    val dir = tmp()
    df.write.format(fmt).mode("append").save(dir)
    // container magic: 'O' 'b' 'j' 1 — provable interop with any Avro tool
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".avro")).sorted.head
    val magic = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)).take(4)
    magic shouldBe Array[Byte]('O', 'b', 'j', 1)
    // and the header schema drives schema-less reads
    val inferred = spark.read.format(fmt).load(dir)
    inferred.schema.fieldNames shouldBe Array("id", "tag", "w")
    inferred.orderBy("id").collect().map(_.toSeq) shouldBe
      df.orderBy("id").collect().map(_.toSeq)
  }

  it should "round-trip the events table including micros timestamps" in {
    val sf = "/root/testdata/sf0.001"
    val src = graft.Tables.events(spark, sf)
    val dir = tmp()
    src.write.format(fmt).mode("append").save(dir)
    val back = spark.read.format(fmt).schema(src.schema).load(dir)
    back.count() shouldBe src.count()
    val key = Seq("event_id")
    back.orderBy(key.map(col): _*).collect().map(_.toSeq) shouldBe
      src.orderBy(key.map(col): _*).collect().map(_.toSeq)
  }

  it should "reject unsupported compression and types up front" in {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    intercept[Throwable] {
      df.write.format(fmt).option("compression", "zstd").mode("append").save(tmp())
    }
    val arr = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    intercept[Throwable] {
      arr.write.format(fmt).mode("append").save(tmp())
    }
  }
}
