package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftShim, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Schema-shape regression gate for the driver-generated testdata.
  *
  * Round 4 lost 38 queries + the whole bench to one silent testdata change
  * (events.ts: TIMESTAMP(NANOS) → timestamp[us]) that surfaced as 19
  * identical cryptic analysis errors. This spec makes the next such change
  * fail loudly with a named assertion instead:
  *
  *  - `Tables.events` must load ALL THREE historical ts shapes (fixtures in
  *    src/test/resources/fixtures) to identical TimestampType values;
  *  - every real testdata table's loaded schema is pinned field-by-field;
  *  - `Tables.load` infers a table's schema once per JVM, and re-infers
  *    when the table is rewritten or the session's inference confs differ.
  */
class TableSchemaSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-table-schema-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fixtureDir(fixture: String): String = {
    val url = getClass.getResource(s"/fixtures/$fixture")
    require(url != null, s"missing test fixture $fixture")
    val dir = Files.createTempDirectory("graft-events-shape")
    Files.copy(Paths.get(url.toURI), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  behavior of "Tables.events shape adaptation"

  // All three fixtures encode the same three instants, 1 s apart.
  private val expectedMicros = Seq(0L, 1000000L, 2000000L).map(1700000000000000L + _)

  for (fixture <- Seq("events_ts_us.parquet", "events_ts_long.parquet", "events_ts_ns.parquet")) {
    it should s"load $fixture with ts as TIMESTAMP and correct values" in {
      val dir = fixtureDir(fixture)
      // the second load, in a fresh session, reads through the cached schema
      for (s <- Seq(spark, spark.newSession())) {
        val df = Tables.events(s, dir)
        df.schema("ts").dataType shouldBe TimestampType
        val got = df.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq
        got shouldBe expectedMicros
        df.columns.toSeq shouldBe Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      }
    }
  }

  behavior of "testdata schemas"

  private val pinned: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  for (name <- Tables.names) {
    it should s"pin the loaded schema of $name" in {
      val df = if (name == "events") Tables.events(spark, sf) else Tables.load(spark, sf, name)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      withClue(s"testdata table $name changed shape — adapt Tables.$name and re-pin:\n") {
        got shouldBe pinned(name)
      }
    }
  }

  behavior of "Tables.load schema cache"

  private def tmp(): String = Files.createTempDirectory("graft-table-schema").toString

  /** `body`'s result and the Spark jobs it runs on this thread (tagged
    * with a job group, so jobs of other threads are not counted). */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"table-schema-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    GraftShim.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { val out = body; GraftShim.drainListenerBus(sc); (out, n.get) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  it should "infer a table's schema once per JVM, with the rows of a plain read" in {
    val dir = tmp()
    spark.read.parquet(s"$sf/lineitem.parquet").write.parquet(s"$dir/lineitem.parquet")
    jobs(spark.read.parquet(s"$dir/lineitem.parquet"))._2 should be > 0
    Tables.load(spark.newSession(), dir, "lineitem")
    val fresh = spark.newSession()
    val (again, n) = jobs(Tables.load(fresh, dir, "lineitem"))
    n shouldBe 0
    val plain = fresh.read.parquet(s"$dir/lineitem.parquet")
    again.schema shouldBe plain.schema
    again.collect().toSeq.map(_.toString).sorted shouldBe plain.collect().toSeq.map(_.toString).sorted
  }

  it should "show a column added by an in-place rewrite" in {
    val dir = tmp()
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    Tables.load(spark, dir, "t").columns.toSeq shouldBe Seq("a")
    spark.range(5).selectExpr("id AS a", "id * 2 AS b").write.mode("overwrite").parquet(path)
    val df = Tables.load(spark.newSession(), dir, "t")
    df.columns.toSeq shouldBe Seq("a", "b")
    df.selectExpr("sum(b)").head.getLong(0) shouldBe 20L
  }

  it should "key the schema by the session's inference confs" in {
    Tables.load(spark, sf, "orders").schema("o_orderdate").dataType shouldBe TimestampNTZType
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    Tables.load(ltz, sf, "orders").schema("o_orderdate").dataType shouldBe TimestampType
    Tables.load(spark.newSession(), sf, "orders").schema("o_orderdate").dataType shouldBe TimestampNTZType
  }

  it should "keep the partition column of a partitioned table" in {
    val dir = tmp()
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(s"$dir/p.parquet")
    for (s <- Seq(spark, spark.newSession())) {
      val df = Tables.load(s, dir, "p")
      df.columns.toSeq shouldBe Seq("id", "k")
      df.selectExpr("sum(k)").head.getLong(0) shouldBe 3L
    }
  }

  it should "read a nested table plainly, so a rewrite below its first level shows" in {
    val dir = tmp()
    val table = s"$dir/n.parquet"
    spark.range(4).selectExpr("id", "0 AS a", "0 AS b").write.partitionBy("a", "b").parquet(table)
    Tables.load(spark, dir, "n").columns.toSeq shouldBe Seq("id", "a", "b")
    // swap the files of a=0/b=0 for ones with another column: the listing
    // of the table's own directory does not change
    val leaf = Paths.get(table, "a=0", "b=0")
    val staged = Paths.get(tmp(), "staged")
    spark.range(4).selectExpr("id", "id * 2 AS c").write.parquet(staged.toString)
    Files.list(leaf).iterator.asScala.foreach(Files.delete)
    Files.list(staged).iterator.asScala.foreach(f => Files.move(f, leaf.resolve(f.getFileName)))
    Tables.load(spark.newSession(), dir, "n").columns.toSeq shouldBe Seq("id", "c", "a", "b")
  }

  it should "fail on a missing table with the error of a plain read" in {
    val dir = tmp()
    val plain = intercept[AnalysisException](spark.read.parquet(s"$dir/absent.parquet"))
    val got = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
    got.getClass shouldBe plain.getClass
    got.getCondition shouldBe plain.getCondition
  }
}
