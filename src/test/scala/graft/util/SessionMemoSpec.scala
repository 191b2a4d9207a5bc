package graft.util

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class SessionMemoSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pool = Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  override def afterAll(): Unit = {
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    spark.stop()
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("memo-spec").toString

  behavior of "SessionMemo"

  it should "leave a fingerprint-superseded frame readable by a live consumer" in {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    spark.range(100).write.parquet(path)
    val memo = new SessionMemo[DataFrame]("t")
    def pinned(): DataFrame = spark.read.parquet(path).localCheckpoint()
    val old = memo.getOrCompute(spark, dir)(pinned())
    spark.range(40).write.mode("overwrite").parquet(path)
    memo.getOrCompute(spark, dir)(pinned()).count() shouldBe 40
    old.count() shouldBe 100 // the consumer still holding the old frame
  }

  it should "run one compute for concurrent callers of one key" in {
    val memo = new SessionMemo.Keyed[String, Int]("absent")
    val dir = tempDir()
    val computes = new AtomicInteger
    val start = new CountDownLatch(1)
    val calls = (1 to 8).map(_ => Future {
      start.await()
      memo.getOrCompute(spark, dir, "k") {
        computes.incrementAndGet()
        Thread.sleep(200)
        42
      }
    })
    start.countDown()
    Await.result(Future.sequence(calls), 1.minute) shouldBe Seq.fill(8)(42)
    computes.get shouldBe 1
  }

  it should "compute two keys of one memo concurrently" in {
    val memo = new SessionMemo.Keyed[String, Boolean]("absent")
    val dir = tempDir()
    val aStarted = new CountDownLatch(1)
    val bRan = new CountDownLatch(1)
    // key A's compute waits for key B's: under a per-session lock held
    // across the compute, B could never start and A's await times out
    val a = Future(memo.getOrCompute(spark, dir, "a") {
      aStarted.countDown()
      bRan.await(10, TimeUnit.SECONDS)
    })
    aStarted.await(1, TimeUnit.MINUTES) shouldBe true
    val b = Future(memo.getOrCompute(spark, dir, "b") { bRan.countDown(); true })
    Await.result(a, 1.minute) shouldBe true
    Await.result(b, 1.minute) shouldBe true
  }

  it should "not cache a compute that throws" in {
    val memo = new SessionMemo[Int]("absent")
    val dir = tempDir()
    val computes = new AtomicInteger
    an[IllegalStateException] should be thrownBy memo.getOrCompute(spark, dir) {
      computes.incrementAndGet(); throw new IllegalStateException("boom")
    }
    memo.getOrCompute(spark, dir) { computes.incrementAndGet(); 7 } shouldBe 7
    memo.getOrCompute(spark, dir) { computes.incrementAndGet(); 8 } shouldBe 7
    computes.get shouldBe 2
  }
}
