package graft.plans

import graft.operators.{EventValue, Relational, RelationalExt}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Pins [[DistributedRank]] — the replacement for single-partition
  * `Window.orderBy` sorts — against Spark's OWN window functions:
  * identical answers, Window-free plans. The remainder semantics of
  * NTILE (first N mod n buckets one row larger) are exactly the part a
  * cut-point/bucketing rewrite gets subtly wrong, so parity is checked
  * across sizes that exercise every branch: n < buckets, n = buckets,
  * remainder 0, remainder ≠ 0, single row. */
class DistributedRankSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-distributed-rank-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // scrambled-but-deterministic keys with deliberate ties in `v` so the
  // id tiebreak and the bucket boundaries are both exercised
  private def frame(n: Int) =
    spark.range(n).select(col("id"), ((col("id") * 37) % 11).as("v"))

  behavior of "withGlobalRank"

  it should "equal row_number over the same order" in {
    for (n <- Seq(1, 2, 5, 64, 1000)) {
      val df = frame(n)
      val win = df.withColumn("r", row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      val dist = DistributedRank.withGlobalRank(df, Seq(col("v"), col("id")), "r")
      withClue(s"n=$n: ") {
        dist.except(win).count() shouldBe 0L
        win.except(dist).count() shouldBe 0L
      }
    }
  }

  it should "honor descending orders" in {
    val df = frame(100)
    val win = df.withColumn("r",
      row_number().over(Window.orderBy(col("v").desc, col("id"))).cast("long"))
    val dist = DistributedRank.withGlobalRank(df, Seq(col("v").desc, col("id")), "r")
    dist.except(win).count() shouldBe 0L
    win.except(dist).count() shouldBe 0L
  }

  it should "return empty on empty input" in {
    DistributedRank.withGlobalRank(frame(0), Seq(col("v"), col("id")), "r").count() shouldBe 0L
  }

  behavior of "withNtile"

  it should "match Spark's ntile window across sizes and bucket counts" in {
    for (n <- Seq(1, 3, 4, 5, 7, 23, 100, 1000); b <- Seq(1, 4, 5, 10)) {
      val df = frame(n)
      val win = df.withColumn("t", ntile(b).over(Window.orderBy(col("v"), col("id"))).cast("long"))
      val dist = DistributedRank.withNtile(df, b, Seq(col("v"), col("id")), "t")
      withClue(s"n=$n buckets=$b: ") {
        dist.except(win).count() shouldBe 0L
        win.except(dist).count() shouldBe 0L
      }
    }
  }

  behavior of "rewritten operators"

  it should "give q_ntile deciles identical to the window formulation" in {
    val spend = graft.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(13,3)")).as("spend_d"))
    val keys = Seq(col("spend_d").desc, col("o_custkey"))
    val win = spend.withColumn("decile", ntile(10).over(
      Window.orderBy(keys: _*)).cast("long"))
    val dist = DistributedRank.withNtile(spend, 10, keys, "decile")
    dist.except(win).count() shouldBe 0L
    win.except(dist).count() shouldBe 0L
  }

  it should "give ev_rfm segments identical to the three-window formulation" in {
    val dayUs = 86400000000L
    val perUser0 = graft.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(12,2)")).as("mon"))
    val refW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val winOut = perUser0
      .withColumn("idle_us", max(col("last_us")).over(refW) - col("last_us"))
      .withColumn("rec_days", expr(s"idle_us div $dayUs"))
      .withColumn("r_score", ntile(5).over(Window.orderBy(col("rec_days"), col("user_id"))).cast("long"))
      .withColumn("f_score", ntile(5).over(Window.orderBy(col("freq").desc, col("user_id"))).cast("long"))
      .withColumn("m_score", ntile(5).over(Window.orderBy(col("mon").desc, col("user_id"))).cast("long"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("mon")), 2).cast("double").as("revenue"))
    val shipped = EventValue.evRfm(spark, sf)
    shipped.except(winOut).count() shouldBe 0L
    winOut.except(shipped).count() shouldBe 0L
  }

  it should "give q_window_dist ranks identical to the window formulation" in {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val winOut = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6)
      .withColumn("cume", floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6)
      .withColumn("value", round(col("value"), 6))
    val shipped = Relational.qWindowDist(spark, sf)
    shipped.except(winOut).count() shouldBe 0L
    winOut.except(shipped).count() shouldBe 0L
  }

  it should "plan q_ntile / ev_rfm / q_window_dist / ta_zipf with NO Window node" in {
    val targets = Seq(
      "q_ntile" -> RelationalExt.qNtile,
      "ev_rfm" -> EventValue.evRfm,
      "q_window_dist" -> Relational.qWindowDist,
      "ta_zipf" -> graft.operators.TextAnalysis.taZipf)
    targets.foreach { case (name, q) =>
      val plan = graft.tools.Dev.finalPlan(q(spark, sf))
      withClue(s"$name executed plan: ") {
        plan should not include "Window ["
      }
    }
  }
}
