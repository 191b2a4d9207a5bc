package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.GraftSession

/** The Bloom history-filter toolkit of [[Transforms]]: every kind's
  * filter keeps its bytes, an empty history gates nothing, and a save
  * that crashed at any step loads the last complete filter or fails
  * loudly, never a truncated one. */
class BloomSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.create("local[2]", 2)

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-bloom").toString

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  /** 120 two-line documents: a 17-token first line (two line segments,
    * 14 8-gram windows, four LSH bands) over a 61-word vocabulary and a
    * footer shared by every fifth document. */
  private def fixture: DataFrame = {
    val s = spark; import s.implicits._
    (0 until 120).map { i =>
      val words = (0 until 14).map(j => s"w${(i * 7 + j * 3) % 61}").mkString(" ")
      (i.toLong, s"Fixture Doc $i: $words\nshared footer line ${i % 5}")
    }.toDF("doc_id", "text")
  }

  private def docs(tag: String, n: Int, from: Long): DataFrame = {
    val s = spark; import s.implicits._
    (0 until n).map(i => (from + i, s"$tag doc $i")).toDF("doc_id", "text")
  }

  /** A sharded filter frame as comparable values, in shard order. */
  private def rows(filters: DataFrame): Seq[(Int, Seq[Byte], Int)] =
    filters.collect().toSeq
      .map(r => (r.getAs[Int]("shard"), r.getAs[Array[Byte]]("filter").toSeq, r.getAs[Int]("num_shards")))
      .sortBy(_._1)

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  behavior of "the Bloom history filters"

  it should "build every kind's filter with its pinned bytes" in {
    val fx = fixture
    val qtok = fx.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(graft.functions.TextFns.tokens(col("text")))).as("t"))
    // md5 of each filter on this fixture: any change to a kind's key
    // pipeline, the sizing rule or the build shows here
    val pinned = Seq[(String, () => Array[Byte], String)](
      ("content", () => Transforms.buildBloom(fx, 120L), "612b0cf8bee66ee21e0e7ef152fa684d"),
      ("band", () => Transforms.buildNearDupBloom(fx, 120L), "8b7835fe7244c0c40afa2c22703a161f"),
      ("line", () => Transforms.buildLineBloom(fx, 400L), "c417678069373aac806d0430ffe9783c"),
      ("gram", () => Transforms.buildSpanBloom(fx, 2000L), "7681318a5b244055d5a9ac7a74741665"),
      ("sharded content", () => rows(Transforms.buildBloomSharded(fx, 120L, 0.01, shards = 4))
        .flatMap { case (s, f, n) => s"$s/$n:".getBytes("UTF-8").toSeq ++ f }.toArray,
        "834e86eecb7cd587a03e4490840a9454"),
      ("ir truth pre-filter", () => graft.operators.Retrieval.truthFilter(qtok),
        "d632af8cb070348ee0bbf27920f51af2"))
    pinned.foreach { case (kind, build, digest) =>
      withClue(s"$kind: ") { md5(build()) shouldBe digest }
    }
  }

  it should "keep every document and line against an empty history" in {
    val fx = fixture
    val none = fx.limit(0)
    def total(df: DataFrame, c: String): Long = df.agg(sum(col(c))).head().getLong(0)
    Transforms.bloomDedup(fx, none, 120L).count() shouldBe 120
    Transforms.nearDupDedup(fx, none, 120L).count() shouldBe 120
    Transforms.lineDupGate(fx, Transforms.buildLineBloom(none, 400L)).count() shouldBe 120
    val lines = Transforms.lineTrim(fx, Transforms.buildLineBloom(none, 400L))
    (total(lines, "n_lines"), total(lines, "removed_lines")) shouldBe ((360L, 0L))
    val spans = Transforms.spanTrim(fx, Transforms.buildSpanBloom(none, 2000L))
    total(spans, "n_tokens") should be > 0L
    total(spans, "removed_tokens") shouldBe 0L
    // the empty filter has its kind's sizing, so it merges with a full one
    Seq[DataFrame => Array[Byte]](Transforms.buildBloom(_, 120L),
      Transforms.buildNearDupBloom(_, 120L), Transforms.buildLineBloom(_, 400L),
      Transforms.buildSpanBloom(_, 2000L)).foreach { build =>
      val full = build(fx)
      Transforms.mergeBloom(full, build(none)) shouldBe full
    }
    val path = tmp() + "/history"
    val saved = Transforms.buildBloom(fx, 120L)
    Transforms.saveBloom(spark, saved, path)
    Transforms.extendBloom(spark, path, none, 120L) shouldBe saved
    Transforms.loadBloom(spark, path) shouldBe saved
  }

  behavior of "saveBloom"

  it should "load the last complete filter from every crash state of a save" in {
    val day1 = docs("day one", 300, 0L)
    val day2 = docs("day two", 200, 1000L)
    val saved = Transforms.buildBloom(day1, 1000L)
    val staged = Transforms.buildBloom(day2, 1000L)
    val truncated = staged.take(staged.length / 2)
    def put(p: String, bytes: Array[Byte]): Unit = Files.write(Paths.get(p), bytes)
    val path = tmp() + "/history.bloom"

    // 1. crashed between the renames: the old copy moved aside, the new
    //    one staged complete, nothing at `path`
    put(s"$path.old", saved)
    put(s"$path.tmp", staged)
    Transforms.loadBloom(spark, path) shouldBe saved
    exists(s"$path.old") shouldBe false
    Transforms.extendBloom(spark, path, day2, 1000L)
    Seq(".tmp", ".old").map(s => exists(path + s)) shouldBe Seq(false, false)
    val kept = Transforms.bloomGate(day1.union(day2).union(docs("fresh", 200, 5000L)),
        Transforms.loadBloom(spark, path))
      .select("doc_id").collect().map(_.getLong(0))
    kept.count(_ < 5000L) shouldBe 0      // both days gated
    kept.count(_ >= 5000L) should be >= 190 // fresh docs survive near fpp

    // 2. crashed while staging over a saved filter
    val path2 = tmp() + "/history.bloom"
    put(path2, saved)
    put(s"$path2.tmp", truncated)
    Transforms.loadBloom(spark, path2) shouldBe saved
    Transforms.saveBloom(spark, staged, path2)
    Transforms.loadBloom(spark, path2) shouldBe staged

    // 3. a first save crashed while staging: there is no filter to load
    val path3 = tmp() + "/history.bloom"
    put(s"$path3.tmp", truncated)
    a[java.io.FileNotFoundException] should be thrownBy Transforms.loadBloom(spark, path3)
  }

  behavior of "saveBloomSharded"

  it should "load the last complete sharded filters from every crash state of a save" in {
    val day1 = docs("sharded day one", 300, 0L)
    val day2 = docs("sharded day two", 200, 1000L)
    val saved = Transforms.buildBloomSharded(day1, 1000L, 0.01, shards = 4).persist()
    val staged = Transforms.buildBloomSharded(day2, 1000L, 0.01, shards = 4).persist()
    def truncate(dir: String): Unit = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .foreach(f => Files.write(Paths.get(f), Files.readAllBytes(Paths.get(f)).take(20)))
    val path = tmp() + "/history_sharded"

    // 1. crashed between the renames
    saved.write.parquet(s"$path.old")
    staged.write.parquet(s"$path.tmp")
    rows(Transforms.loadBloomSharded(spark, path)) shouldBe rows(saved)
    exists(s"$path.old") shouldBe false
    Transforms.saveBloomSharded(
      Transforms.mergeBloomSharded(Transforms.loadBloomSharded(spark, path), staged), path)
    Seq(".tmp", ".old").map(s => exists(path + s)) shouldBe Seq(false, false)
    val kept = Transforms.bloomGateSharded(day1.union(day2).union(docs("fresh", 200, 5000L)),
        Transforms.loadBloomSharded(spark, path))
      .select("doc_id").collect().map(_.getLong(0))
    kept.count(_ < 5000L) shouldBe 0
    kept.count(_ >= 5000L) should be >= 190

    // 2. crashed while staging over saved filters
    val path2 = tmp() + "/history_sharded"
    saved.write.parquet(path2)
    staged.write.parquet(s"$path2.tmp")
    truncate(s"$path2.tmp")
    rows(Transforms.loadBloomSharded(spark, path2)) shouldBe rows(saved)
    Transforms.saveBloomSharded(staged, path2)
    rows(Transforms.loadBloomSharded(spark, path2)) shouldBe rows(staged)

    // 3. a first save crashed while staging
    val path3 = tmp() + "/history_sharded"
    staged.write.parquet(s"$path3.tmp")
    truncate(s"$path3.tmp")
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      Transforms.loadBloomSharded(spark, path3)
  }
}
