package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.streaming.GraftLoader

/** Generated code compiles once per JVM on a [[GraftSession]]: a second
  * identical loader drain (a new streaming query, so a new cloned
  * session) and a registered query re-run in `newSession()` add no
  * Janino compile. With Spark's per-session artifact class loaders both
  * recompile every class. */
class CodegenReuseSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  // the sf0.001 testdata vendored with the benchmark: the spec reads only
  // the checkout
  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  lazy val spark: SparkSession = GraftSession.create("local[4]", 4)

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-codegen").toString

  /** Janino compiles in this JVM while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  behavior of "GraftSession"

  it should "compile a loader drain's code once, not once per streaming query" in {
    val src = tmp()
    Tables.events(spark, sf).repartition(4).write.mode("overwrite").parquet(src)
    for (sink <- Seq[String => GraftLoader.Sink](
        GraftLoader.TwoPhaseCommit(_), d => GraftLoader.BudgetedFiles(d, maxRecords = Some(200L)))) {
      def drain(): Unit = GraftLoader.builder()
        .source(GraftLoader.FileSource(src, maxFilesPerTrigger = 4))
        .sink(sink(tmp() + "/table"))
        .checkpoint(tmp())
        .start(spark).awaitTermination()
      drain()
      compiles(drain()) shouldBe 0L
    }
  }

  it should "compile a registered query's code once, not once per session" in {
    val q = SparkEntry.queries("q1_pricing")
    val first = q(spark, sf).collect().toSeq
    var again = Seq.empty[org.apache.spark.sql.Row]
    compiles { again = q(spark.newSession(), sf).collect().toSeq } shouldBe 0L
    again shouldBe first
  }
}
