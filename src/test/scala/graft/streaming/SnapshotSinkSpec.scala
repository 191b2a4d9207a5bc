package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

import graft.util.{GraftMetrics, Retry}

class SnapshotSinkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll with Eventually {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
  private def tmp(): String = Files.createTempDirectory("graft-snap").toString

  behavior of "SnapshotTableSink"

  it should "release the cached epoch when the data write fails" in {
    import spark.implicits._
    val table = tmp()
    // a regular file where the data directory must go
    new java.io.File(table, "data").createNewFile() shouldBe true
    val epoch = Seq(Ev(0, ts(1), 1, "click", 1.0, "{}")).toDF()
    an[Exception] should be thrownBy new SnapshotTableSink(table).writeBatch(epoch, 0L)
    epoch.storageLevel shouldBe StorageLevel.NONE
  }

  it should "leave an epoch its caller cached as it was" in {
    import spark.implicits._
    val epoch = Seq(Ev(0, ts(1), 1, "click", 1.0, "{}")).toDF().persist()
    new SnapshotTableSink(tmp()).writeBatch(epoch, 0L)
    epoch.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
    epoch.unpersist()
  }

  it should "commit epochs as snapshots, read committed data, skip replays" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = tmp(); val cp = tmp()
    val sink = new SnapshotTableSink(table)

    ms.addData(Ev(0, ts(1), 1, "click", 1.0, "{}"), Ev(1, ts(2), 2, "view", 2.0, "{}"))
    sink.attach(ms.toDF(), cp).awaitTermination()
    sink.currentSnapshot(spark).map(_._2) shouldBe Some(Seq(0L))
    sink.read(spark).count() shouldBe 2

    // second epoch via the same checkpoint
    ms.addData(Ev(2, ts(3), 1, "purchase", 3.0, "{}"))
    sink.attach(ms.toDF(), cp).awaitTermination()
    sink.currentSnapshot(spark).map(_._2) shouldBe Some(Seq(0L, 1L))
    sink.read(spark).count() shouldBe 3

    // replaying an already-committed epoch is a no-op
    sink.writeBatch(sink.read(spark), 0L)
    sink.read(spark).count() shouldBe 3
    sink.currentSnapshot(spark).map(_._2) shouldBe Some(Seq(0L, 1L))
  }

  it should "recover the table when a crash loses the LATEST pointer" in {
    // the pointer switch is delete + rename; a crash in that window must
    // NOT read as an empty table (that would fork snapshot ids at 0 and
    // let vacuumOrphans delete the whole committed history)
    import spark.implicits._
    val table = tmp()
    val sink = new SnapshotTableSink(table)
    sink.writeBatch(Seq(Ev(0, ts(1), 1, "click", 1.0, "{}")).toDF(), 0L)
    sink.writeBatch(Seq(Ev(1, ts(2), 2, "view", 2.0, "{}")).toDF(), 1L)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table, "_snapshots/LATEST"), false)
    // recovery falls back to the max-numbered snapshot
    sink.currentSnapshot(spark).map(_._2) shouldBe Some(Seq(0L, 1L))
    sink.read(spark).count() shouldBe 2
    // the next epoch continues the snapshot chain instead of forking it
    sink.writeBatch(Seq(Ev(2, ts(3), 3, "view", 3.0, "{}")).toDF(), 2L)
    sink.currentSnapshot(spark).map(_._2) shouldBe Some(Seq(0L, 1L, 2L))
    // and vacuum finds nothing to delete
    sink.vacuumOrphans(spark) shouldBe empty
    sink.read(spark).count() shouldBe 3
  }

  it should "time-travel, expire old snapshots and vacuum orphans" in {
    import spark.implicits._
    val table = tmp()
    val sink = new SnapshotTableSink(table)
    // three epochs committed directly (no stream needed for maintenance)
    Seq(Ev(0, ts(1), 1, "click", 1.0, "{}")).toDF().createOrReplaceTempView("b0")
    sink.writeBatch(spark.table("b0"), 0L)
    Seq(Ev(1, ts(2), 2, "view", 2.0, "{}")).toDF().createOrReplaceTempView("b1")
    sink.writeBatch(spark.table("b1"), 1L)
    Seq(Ev(2, ts(3), 3, "view", 3.0, "{}")).toDF().createOrReplaceTempView("b2")
    sink.writeBatch(spark.table("b2"), 2L)

    // time travel reconstructs each historical table state
    sink.readAsOf(spark, 0L).count() shouldBe 1
    sink.readAsOf(spark, 1L).count() shouldBe 2
    sink.read(spark).count() shouldBe 3

    // an orphan: a data dir with no snapshot (crash between write+publish)
    Seq(Ev(9, ts(9), 9, "view", 9.0, "{}")).toDF()
      .write.parquet(s"$table/data/batch=99")
    val vacuumed = sink.vacuumOrphans(spark)
    vacuumed.map(_.split('/').last) shouldBe Seq("batch=99")
    sink.read(spark).count() shouldBe 3 // committed data untouched

    // expire all but the newest two snapshots: time travel to 0 dies,
    // 1 and latest still resolve, and the data files all survive
    sink.expireSnapshots(spark, keepLast = 2) shouldBe Seq(0L)
    an[IllegalArgumentException] should be thrownBy sink.readAsOf(spark, 0L)
    sink.readAsOf(spark, 1L).count() shouldBe 2
    sink.read(spark).count() shouldBe 3
  }

  it should "read schema-evolved epochs back as the union schema" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = tmp()
    val sink = new SnapshotTableSink(table)
    Seq((0L, "a")).toDF("id", "v").createOrReplaceTempView("s0")
    sink.writeBatch(spark.table("s0"), 0L)
    // epoch 1 adds a column — the snapshot read must surface it with
    // nulls for the pre-evolution epoch, not silently drop it
    Seq((1L, "b", 9.5)).toDF("id", "v", "extra").createOrReplaceTempView("s1")
    sink.writeBatch(spark.table("s1"), 1L)
    val read = sink.read(spark)
    read.columns.toSet shouldBe Set("id", "v", "extra")
    read.filter(col("id") === 0L).select("extra").collect()(0).isNullAt(0) shouldBe true
    read.filter(col("id") === 1L).select("extra").collect()(0).getDouble(0) shouldBe 9.5
    // time travel to the pre-evolution snapshot keeps the old schema
    sink.readAsOf(spark, 0L).columns.toSet shouldBe Set("id", "v")
  }

  it should "serve the latest row per key and materialize it via compaction" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val table = tmp()
    val sink = new SnapshotTableSink(table)
    // change log: key k1 updated in every epoch, k2 only in epoch 0
    Seq(("k1", 1L, "a"), ("k2", 1L, "x")).toDF("k", "ver", "v")
      .createOrReplaceTempView("u0")
    sink.writeBatch(spark.table("u0"), 0L)
    Seq(("k1", 2L, "b")).toDF("k", "ver", "v").createOrReplaceTempView("u1")
    sink.writeBatch(spark.table("u1"), 1L)
    Seq(("k1", 3L, "c"), ("k3", 1L, "z")).toDF("k", "ver", "v")
      .createOrReplaceTempView("u2")
    sink.writeBatch(spark.table("u2"), 2L)

    def latest() = sink.readLatest(spark, Seq("k"), "ver")
      .select("k", "ver", "v").as[(String, Long, String)].collect().toSet
    val want = Set(("k1", 3L, "c"), ("k2", 1L, "x"), ("k3", 1L, "z"))
    latest() shouldBe want
    sink.read(spark).count() shouldBe 5 // the log still holds every version

    // compaction folds the log into the latest view; read() now IS it
    val cid = sink.compactLatest(spark, Seq("k"), "ver")
    cid shouldBe Some(3L)
    sink.read(spark).count() shouldBe 3
    latest() shouldBe want // idempotent view over the compacted table
    // pre-compaction snapshots still time-travel (dirs not vacuumed yet)
    sink.readAsOf(spark, 1L).count() shouldBe 3
    // the replay guard survives compaction: a stale epoch 1 replay skips
    sink.writeBatch(spark.table("u1"), 1L)
    sink.read(spark).count() shouldBe 3
    // new epochs append onto the compacted base
    Seq(("k2", 5L, "y")).toDF("k", "ver", "v").createOrReplaceTempView("u3")
    sink.writeBatch(spark.table("u3"), 3L)
    latest() shouldBe Set(("k1", 3L, "c"), ("k2", 5L, "y"), ("k3", 1L, "z"))
    // incremental reads keep working from the compaction snapshot on
    sink.readChangesBetween(spark, 3L, 4L)
      .select("k").as[String].collect().toSeq shouldBe Seq("k2")

    // vacuum keeps every dir a RETAINED snapshot still references...
    sink.vacuumOrphans(spark) shouldBe empty
    sink.readAsOf(spark, 0L).count() shouldBe 2
    // ...and frees the folded epoch dirs once those snapshots expire
    sink.expireSnapshots(spark, keepLast = 2)
    val vacuumed = sink.vacuumOrphans(spark).map(_.split('/').last).sorted
    vacuumed shouldBe Seq("batch=0", "batch=1", "batch=2")
    latest() shouldBe Set(("k1", 3L, "c"), ("k2", 5L, "y"), ("k3", 1L, "z"))
    // an increment whose epoch dir is GONE (corruption / manual delete)
    // fails loudly instead of resurfacing as a partial read
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table, "data/batch=3"), true)
    an[IllegalArgumentException] should be thrownBy
      sink.readChangesBetween(spark, 3L, 4L)
  }

  it should "read exactly the increment between snapshots" in {
    import spark.implicits._
    val table = tmp()
    val sink = new SnapshotTableSink(table)
    Seq(Ev(0, ts(1), 1, "click", 1.0, "{}")).toDF().createOrReplaceTempView("i0")
    sink.writeBatch(spark.table("i0"), 0L)
    Seq(Ev(1, ts(2), 2, "view", 2.0, "{}"),
        Ev(2, ts(3), 3, "view", 3.0, "{}")).toDF().createOrReplaceTempView("i1")
    sink.writeBatch(spark.table("i1"), 1L)
    Seq(Ev(3, ts(4), 4, "click", 4.0, "{}")).toDF().createOrReplaceTempView("i2")
    sink.writeBatch(spark.table("i2"), 2L)
    // increment 0→2 = epochs 1 and 2, never epoch 0's record
    val inc = sink.readChangesBetween(spark, 0L, 2L)
    inc.count() shouldBe 3
    inc.select("event_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    // since-latest convenience; empty when nothing new
    sink.readChangesSince(spark, 0L).count() shouldBe 3
    sink.readChangesSince(spark, 2L).count() shouldBe 0
    // identical bounds = empty increment
    sink.readChangesBetween(spark, 1L, 1L).count() shouldBe 0
    // an expired lower bound must fail loudly, not silently re-read all
    sink.expireSnapshots(spark, keepLast = 2)
    an[IllegalArgumentException] should be thrownBy sink.readChangesBetween(spark, 0L, 2L)
  }

  behavior of "GraftMetrics"

  it should "count rows and epochs per streaming query" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val metrics = GraftMetrics.install(spark)
    val ms = MemoryStream[Ev]
    ms.addData(Ev(0, ts(1), 1, "click", 1.0, "{}"), Ev(1, ts(2), 2, "view", 2.0, "{}"))
    val q = ms.toDF().writeStream.format("memory")
      .queryName("metered").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    eventually(timeout(Span(10, Seconds))) {
      metrics.rowsLoaded("metered") shouldBe 2L
      metrics.epochsCommitted("metered") shouldBe 1L
    }
    spark.streams.removeListener(metrics)
  }

  behavior of "MetricsPush"

  it should "push per-query NDJSON snapshots through the file transport" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val metrics = GraftMetrics.install(spark)
    val ms = MemoryStream[Ev]
    ms.addData(Ev(0, ts(1), 1, "click", 1.0, "{}"), Ev(1, ts(2), 2, "view", 2.0, "{}"))
    val q = ms.toDF().writeStream.format("memory")
      .queryName("pushed").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    eventually(timeout(Span(10, Seconds))) { metrics.rowsLoaded("pushed") shouldBe 2L }
    val out = java.nio.file.Files.createTempDirectory("graft-mp").resolve("m.ndjson").toString
    val push = new graft.util.MetricsPush(metrics, graft.util.MetricsPush.fileTransport(out), 60000L)
    push.pushOnce()
    push.close() // flush-on-close pushes a second snapshot
    val lines = scala.io.Source.fromFile(out).getLines().toSeq
    val mine = lines.filter(_.contains("\"query\":\"pushed\""))
    mine.size shouldBe 2
    mine.head should include("\"rows\":2")
    mine.head should include("\"epochs\":1")
    mine.head should include("\"ts_ms\":")
    push.pushFailures shouldBe 0L
    spark.streams.removeListener(metrics)
  }

  it should "count transport failures without throwing" in {
    val metrics = new GraftMetrics // empty is fine; we drive pushOnce manually
    val boom = new graft.util.MetricsPush(metrics, _ => sys.error("gateway down"), 60000L)
    noException should be thrownBy boom.pushOnce() // no queries → no pushes
    boom.pushFailures shouldBe 0L
    // a query with reported metrics + a dead transport: counted, not thrown
    val metered = GraftMetrics.install(spark)
    try {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val ms = MemoryStream[Ev]
      ms.addData(Ev(0, ts(1), 1, "click", 1.0, "{}"))
      val q = ms.toDF().writeStream.format("memory")
        .queryName("deadgw").outputMode("append").start()
      q.processAllAvailable(); q.stop()
      eventually(timeout(Span(10, Seconds))) { metered.rowsLoaded("deadgw") shouldBe 1L }
      val p = new graft.util.MetricsPush(metered, _ => sys.error("gateway down"), 60000L)
      noException should be thrownBy p.pushOnce()
      p.pushFailures should be >= 1L
    } finally spark.streams.removeListener(metered)
  }

  behavior of "Retry"

  it should "retry with backoff until success" in {
    var attempts = 0
    val result = Retry.withBackoff(maxAttempts = 3, initialDelay = scala.concurrent.duration.Duration(1, "ms")) {
      attempts += 1
      if (attempts < 3) sys.error("transient") else "ok"
    }
    result shouldBe "ok"
    attempts shouldBe 3
  }

  it should "rethrow after exhausting attempts" in {
    var attempts = 0
    an[RuntimeException] should be thrownBy {
      Retry.withBackoff(maxAttempts = 2, initialDelay = scala.concurrent.duration.Duration(1, "ms")) {
        attempts += 1; sys.error("always")
      }
    }
    attempts shouldBe 2
  }
}
