package graft.streaming

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.GraftSession

/** The budgeted sink's layout on a factory session at the loader
  * benchmark's size: 10,000 events in 5 event types over 30 days, a
  * 2,000-record budget, one epoch. Every row lands in the
  * `(group, commit, dt)` a sequential per-group fold in offset order
  * assigns it, and the epoch is written by more than one task. */
class BudgetedSinkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-budgeted").toString

  private lazy val src: String = {
    import spark.implicits._
    val dir = tmp()
    val rnd = new scala.util.Random(7)
    val types = Seq("click", "view", "purchase", "signup", "error")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0L until 10000L).map(i => Ev(i, new Timestamp(t0 + rnd.nextLong(30L * 86400000L)),
        rnd.nextInt(1000).toLong, types(rnd.nextInt(types.size)), rnd.nextDouble(),
        s"""{"k": ${rnd.nextInt(100)}}"""))
      .toDF().repartition(8).write.mode("overwrite").parquet(dir)
    dir
  }

  /** event_id -> (group, commit, dt) from one sequential fold over the
    * collected rows: the sink's definition, independent of how the epoch
    * is partitioned. */
  private def expected(records: Long, jitter: Option[(Double, Long)]): Map[Long, (String, Long, String)] = {
    val spread = jitter.fold(0L) { case (rel, _) => math.max(1L, math.round(records * rel)) }
    val rows = spark.read.parquet(src)
      .select(col("event_type"), col("event_id"), date_format(col("ts"), "yyyyMMdd"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2))
    rows.groupBy(_._1).toSeq.flatMap { case (g, groupRows) =>
      val fold = new MultiFileCommit.FuzzyTotalFold(None, Some((records, spread)), jitter.fold(0L)(_._2))
      fold.reset(g.##.toLong)
      groupRows.sortBy(_._2).map { case (_, id, dt) => id -> (g, fold.next(0L), dt) }
    }.toMap
  }

  private def check(jitter: Option[(Double, Long)]): Unit = {
    val out = tmp() + "/table"
    GraftLoader.builder()
      .source(GraftLoader.FileSource(src, maxFilesPerTrigger = 8))
      .sink(GraftLoader.BudgetedFiles(out, maxRecords = Some(2000L), jitter = jitter))
      .checkpoint(tmp())
      .start(spark).awaitTermination()
    val epoch = s"$out/epoch_0"
    val got = spark.read.parquet(epoch)
      .select(col("event_id"), col("group"), col("commit").cast("long"), col("dt").cast("string"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    got.size shouldBe 10000
    got shouldBe expected(2000L, jitter)
    // one file per (commit, dt) of a group, named by the task that wrote it
    val files = listFiles(new File(epoch)).filter(_.getName.endsWith(".parquet"))
    files.map(_.getParentFile.getPath).distinct.size shouldBe files.size
    val tasks = files.map(f => "part-(\\d+)-".r.findFirstMatchIn(f.getName).get.group(1)).distinct
    tasks.size should be > 1
  }

  private def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  behavior of "multiFileBatchingSink on local[4]"

  it should "fold a fixed budget into the same layout from several write tasks" in check(None)

  it should "fold a jittered budget into the same layout from several write tasks" in check(Some((0.3, 42L)))
}
