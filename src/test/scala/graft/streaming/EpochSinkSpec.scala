package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.GraftSession

/** What one epoch of each exactly-once sink costs in Spark jobs, and the
  * commit records the two-phase-commit and snapshot sinks observe during
  * their data write: exact under a retried task, and byte-equal to the
  * records of the aggregate they replaced. */
class EpochSinkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  // local[4,2]: a failed task is retried once, as on a cluster
  lazy val spark: SparkSession = {
    FileSystem.closeAll()
    GraftSession.create("local[4,2]", 4)
  }

  override def afterAll(): Unit = { spark.stop(); FileSystem.closeAll() }

  private def tmp(): String = Files.createTempDirectory("graft-epoch").toString

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  /** Spark jobs per epoch of the stream `start` runs to completion: the
    * micro-batch engine tags every job with its query and epoch. */
  private def jobsPerEpoch(start: => StreamingQuery): Map[Long, Int] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[(String, Long), AtomicInteger]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs.computeIfAbsent((p.getProperty("sql.streaming.queryId"), b.toLong),
            _ => new AtomicInteger).incrementAndGet()
    }
    GraftShim.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val q = start
      q.awaitTermination()
      GraftShim.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      jobs.asScala.collect { case ((id, b), n) if id == q.id.toString => b -> n.get }.toMap
    } finally sc.removeSparkListener(l)
  }

  /** 3,000 events in 3 parquet files: two epochs at 2 files a trigger. */
  private lazy val source: String = {
    val dir = tmp()
    spark.range(0, 3000, 1, 3)
      .select(col("id").as("event_id"),
        (timestamp_seconds(lit(1704067200L) + col("id") * 37)).as("ts"),
        (col("id") % 17).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("buy")), (col("id") % 3 + 1).cast("int"))
          .as("event_type"),
        (col("id") * 0.5).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def loader(sink: String => GraftLoader.Sink)(out: String, cp: String): StreamingQuery =
    GraftLoader.builder()
      .source(GraftLoader.FileSource(source, maxFilesPerTrigger = 2))
      .sink(sink(out)).checkpoint(cp).start(spark)

  behavior of "every exactly-once epoch sink"

  it should "run its pinned number of Spark jobs per epoch" in {
    // the budgeted sink's shuffle map stage is an AQE job of its own
    val sinks = Seq[(String, (String, String) => StreamingQuery, Int)](
      ("twopc", loader(GraftLoader.TwoPhaseCommit(_)), 1),
      ("indata", loader(GraftLoader.InDataOffsets(_)), 1),
      ("snapshot", loader(GraftLoader.SnapshotTable(_)), 1),
      ("snapshot partitioned", (out, cp) => new SnapshotTableSink(out, Seq("event_type"))
        .attach(EventSource.fileStream(spark, source, 2), cp), 1),
      ("rowbinary", loader(GraftLoader.RowBinaryFiles(_)), 1),
      ("avro", loader(GraftLoader.AvroFiles(_)), 1),
      ("proto", loader(GraftLoader.ProtoFiles(_)), 1),
      ("budgeted", loader(GraftLoader.BudgetedFiles(_, maxRecords = Some(400L))), 2))
    sinks.foreach { case (name, start, expected) =>
      withClue(s"$name: ") {
        jobsPerEpoch(start(tmp(), tmp())) shouldBe Map(0L -> expected, 1L -> expected)
      }
    }
  }

  it should "keep an empty partitioned snapshot epoch readable" in {
    val table = tmp()
    val sink = new SnapshotTableSink(table, Seq("event_type"))
    val events = spark.read.parquet(source)
    sink.writeBatch(events.limit(0), 0L)
    sink.read(spark).count() shouldBe 0
    sink.writeBatch(events.filter(col("event_id") < 10), 1L)
    sink.read(spark).count() shouldBe 10
    sink.read(spark).select("event_type").distinct().count() shouldBe 3
    read(s"$table/_snapshots/0.json") should include(""""range": {"lo": null, "hi": null, "rows": 0}""")
  }

  behavior of "the observed commit records"

  it should "stay exact when a write task fails once and is retried" in {
    val epoch = spark.range(0, 1000, 1, 4)
      .select(col("id").as("event_id"), concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"))
    // partition 0 holds ids 0..249: its first attempt fails mid-partition,
    // after the observation has folded the rows before id 100
    val failOnce = udf { (id: Long) =>
      if (id == 100L && TaskContext.get().attemptNumber() == 0)
        throw new IllegalStateException("injected task failure")
      id
    }
    val flaky = epoch.withColumn("event_id", failOnce(col("event_id")))
    val failed = new AtomicInteger
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (!e.taskInfo.successful) failed.incrementAndGet()
    }
    def records(batch: DataFrame): (String, String) = {
      val twopc = tmp(); val snap = tmp()
      new Sinks.TwoPhaseCommitSink(twopc).writeBatch(batch, 0L)
      new SnapshotTableSink(snap).writeBatch(batch, 0L)
      (read(s"$twopc/_commits/0"), read(s"$snap/_snapshots/0.json").split("\"range\": ")(1))
    }
    val clean = records(epoch)
    clean shouldBe ("t0=0..999,t1=1..997,t2=2..998;rows=1000\n", """{"lo": 0, "hi": 999, "rows": 1000}}""")
    GraftShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      records(flaky) shouldBe clean
      GraftShim.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    failed.get shouldBe 2 // one failed attempt in each sink's write
  }

  /** Epochs with null types, null ids, no rows, no event columns and
    * ids at the ends of the long range. */
  private def fixture: Seq[DataFrame] = {
    val ev = StructType(Seq(StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def frame(schema: StructType, rows: Row*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Seq(
      frame(ev, Row(5L, "click", 1.0), Row(null, "click", 2.0), Row(3L, "click", 3.0),
        Row(null, "view", 4.0), Row(9L, "view", 5.0), Row(-7L, "buy", 6.0)),
      frame(ev, Row(7L, null, 1.0), Row(null, null, 2.0), Row(2L, null, 3.0)),
      frame(ev),
      frame(StructType(ev.filter(_.name != "event_type")), Row(4L, 1.0), Row(null, 2.0), Row(8L, 3.0)),
      frame(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
        Row(1L, "a"), Row(2L, "b")),
      frame(ev, Row(Long.MaxValue, "max", 1.0), Row(null, "max", 2.0), Row(Long.MinValue, "min", 3.0)))
  }

  it should "write the same marker and snapshot bytes as the range aggregate they replaced" in {
    // md5 of each epoch's marker and snapshot JSON, recorded by running
    // this fixture through the sinks of commit 0fcbc08, which cached the
    // epoch and ran a separate range aggregate after the write
    val pinned = Seq(
      "twopc 0" -> "0b59d01bf0970e11cd5ba8f612889614", // buy=-7..-7,click=3..5,view=9..9;rows=6
      "twopc 1" -> "b893bee14dba874deb80a09765b630b0", // null=2..7;rows=3
      "twopc 2" -> "c9a4e4fb40b2b156295fd1710d04dc00", // ;rows=0
      "twopc 3" -> "c1351a5e969ca233d7995f2c8fc5bf7f", // ;rows=3
      "twopc 4" -> "6bfe71c811c0bc685739728e09e1be45", // ;rows=2
      // max=9223372036854775807..9223372036854775807,
      // min=-9223372036854775808..-9223372036854775808;rows=3
      "twopc 5" -> "cd9c211f582a1266e2dba04d2eeaf867",
      "snapshot 0" -> "183961082778aa28567bf9d9bd0f2a1b",
      "snapshot 1" -> "7bc97aec79a46470544f25143ad4d58a",
      "snapshot 2" -> "22dd4f88427fbf1cb71e826819213a7a",
      "snapshot 3" -> "d86ae246d816aed4b161b9b874d85d17",
      "snapshot 4" -> "a622179a2ee5a6668f0bc6f7d0561b46",
      "snapshot 5" -> "ae4f6f12c150d0ec962e9f96da8bffe7")
    val twopc = tmp(); val snap = tmp()
    fixture.zipWithIndex.foreach { case (batch, i) =>
      new Sinks.TwoPhaseCommitSink(twopc).writeBatch(batch, i.toLong)
      new SnapshotTableSink(snap).writeBatch(batch, i.toLong)
    }
    val got = fixture.indices.map(i => (s"twopc $i", read(s"$twopc/_commits/$i"))) ++
      fixture.indices.map(i => (s"snapshot $i", read(s"$snap/_snapshots/$i.json")))
    got.foreach { case (k, text) =>
      withClue(s"$k wrote $text: ") { md5(text) shouldBe pinned.toMap.apply(k) }
    }
    got.map(_._1) shouldBe pinned.map(_._1)
  }
}
