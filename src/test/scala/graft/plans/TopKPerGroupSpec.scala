package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class TopKPerGroupSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  behavior of "TopKPerGroup"

  it should "return exactly the window-row_number top-k per group" in {
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
    val viaHeap = TopKPerGroup.transform(ev,
        Seq(col("event_type")), Seq(col("value").desc, col("event_id").asc), 3)
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
    val viaWindow = ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    viaHeap shouldBe viaWindow
    viaHeap.size shouldBe 15 // 5 event types × 3
  }

  // conf-sensitive tests use a frame rooted in THIS session: events frames
  // come from Tables' memoized nanos child session, whose conf snapshot
  // freezes at first use — spark.conf.set here would never reach their
  // doExecute (found the hard way: the flush test's conf was a no-op)
  private def synthFrame = spark.range(0, 2000)
    .selectExpr("id % 7 AS g", "(id * 2654435761) % 100003 AS v", "id")

  it should "stay exact when the partial pass flushes under memory pressure" in {
    // force the partial heap map to flush every 4 buffered rows: each
    // flushed segment is a superset of its top-k, so the final pass must
    // still produce exactly the window answer
    spark.conf.set("spark.graft.topk.partialFlushRows", "4")
    try {
      val viaHeap = TopKPerGroup.transform(synthFrame,
          Seq(col("g")), Seq(col("v").desc, col("id").asc), 3)
        .select(col("g"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val viaWindow = synthFrame.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("g"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      viaHeap shouldBe viaWindow
      viaHeap.size shouldBe 21 // 7 groups × 3
    } finally spark.conf.unset("spark.graft.topk.partialFlushRows")
  }

  it should "reject a non-positive partialFlushRows instead of looping forever" in {
    // flushRows = 0 would make the partial pass's flush iterator spin
    // (hasNext true, buffering guard never satisfied) — must fail loudly.
    // k=7 keeps this plan canonically distinct from the flush test's k=3
    // plan: AQE's per-session stage cache would otherwise REUSE its
    // materialized shuffle and the partial pass would never re-execute.
    spark.conf.set("spark.graft.topk.partialFlushRows", "0")
    try {
      val e = intercept[Throwable] {
        TopKPerGroup.transform(synthFrame,
            Seq(col("g")), Seq(col("v").desc, col("id").asc), 7)
          .collect()
      }
      // the require throws during stage materialization; depending on the
      // execution path it may surface wrapped — check the cause chain
      val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      messages should include("partialFlushRows")
    } finally spark.conf.unset("spark.graft.topk.partialFlushRows")
  }

  it should "treat 0.0 and -0.0 group keys as ONE group, like a window would" in {
    import spark.implicits._
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (-0.0, 4L))
      .toDF("g", "id").repartition(4)
    val top = TopKPerGroup.transform(df, Seq(col("g")), Seq(col("id").asc), 10)
      .collect()
    top.length shouldBe 4 // one logical group — unnormalized keys would split it
    TopKPerGroup.transform(df, Seq(col("g")), Seq(col("id").asc), 1)
      .collect().map(_.getLong(1)).toSeq shouldBe Seq(1L)
  }

  it should "handle groups smaller than k and plan without Window/Sort" in {
    val ev = graft.Tables.events(spark, sf).filter(col("event_id") < 7)
      .select(col("event_type"), col("event_id"))
    val df = TopKPerGroup.transform(ev,
      Seq(col("event_type")), Seq(col("event_id").asc), 100)
    df.count() shouldBe 7
    val physical = df.queryExecution.executedPlan.toString
    physical should include("TopKPerGroup")
    physical should not include "Window"
    physical should not include "Sort"
  }

  it should "install its strategy once when 8 threads transform a fresh session at once" in {
    // a new session starts with no extra strategies; every thread's
    // transform installs on use, so all 8 race the check-then-append
    val fresh = spark.newSession()
    val frame = fresh.range(0, 2000)
      .selectExpr("id % 7 AS g", "(id * 2654435761) % 100003 AS v", "id")
    def viaWindow(k: Int): Set[(Long, Long)] = {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      frame.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("g"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val start = new java.util.concurrent.CountDownLatch(1)
    val viaHeap = try {
      val futures = (1 to 8).map { k =>
        pool.submit(new java.util.concurrent.Callable[Set[(Long, Long)]] {
          override def call(): Set[(Long, Long)] = {
            start.await()
            TopKPerGroup.transform(frame, Seq(col("g")), Seq(col("v").desc, col("id").asc), k)
              .select(col("g"), col("id"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          }
        })
      }
      start.countDown()
      futures.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    fresh.experimental.extraStrategies.count(_ eq GraftStrategy) shouldBe 1
    for (k <- 1 to 8) withClue(s"k=$k: ") {
      viaHeap(k - 1) shouldBe viaWindow(k)
      viaHeap(k - 1).size shouldBe 7 * k
    }
  }
}
