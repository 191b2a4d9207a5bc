package graft.plans

import java.io.{ByteArrayOutputStream, File}

import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Pins [[GraftFunctions.call]], the DataFrame route to graft's native
  * expressions: on a session where nothing registered them, every
  * function returns the rows the registry route (`register` +
  * `call_function`) returns, rejects a wrong argument count with the
  * same message, and leaves the session's function registry untouched.
  * A source guard keeps src/main on that route. */
class NativeColumnsSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  // newSession(): suites share a forked JVM, and the session getOrCreate
  // returns may already have the functions registered; a new session
  // starts from the built-in registry
  lazy val base: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = base.stop()

  private def frame(s: SparkSession): DataFrame = s.range(0, 4)
    .select(col("id"), concat(lit("the quick brown fox "), col("id").cast("string"),
      lit(" jumps over the lazy dog")).as("text"))
    .select(col("id"), col("text"),
      split(col("text"), " ").as("tk"),
      array(lit(1.0f), col("id").cast("float"), lit(-2.0f)).as("a"),
      array(lit(0.5f), lit(2.0f), col("id").cast("float")).as("b"),
      array(lit(1L), lit(3L), col("id") + 5).as("sa"),
      array(lit(3L), col("id") + 5, lit(20L)).as("sb"),
      struct(col("id").as("event_id"), col("text").as("event_type"),
        (col("id") * 1.5).as("value")).as("rec"),
      encode(col("text"), "UTF-8").as("payload"),
      xxhash64(col("text")).as("h"),
      (col("id") % 2).cast("int").as("shard"))

  private val filterBytes: Array[Byte] = {
    val bf = BloomFilter.create(100, 1024)
    bf.putLong(42L)
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Valid arguments per function, over [[frame]]'s columns. */
  private val argsOf: Map[String, Seq[Column]] = Map(
    "graft_dot" -> Seq(col("a"), col("b")),
    "graft_overlap" -> Seq(col("sa"), col("sb")),
    "graft_minhash" -> Seq(col("tk")),
    "graft_minhash_tokens" -> Seq(col("tk")),
    "graft_minhash_tokens_w" -> Seq(col("tk"), lit(4)),
    "graft_script_census" -> Seq(col("text")),
    "graft_rowbinary" -> Seq(col("rec")),
    "graft_verticarow" -> Seq(col("rec")),
    "graft_bpe_fuse" -> Seq(split(col("text"), ""),
      typedLit(Seq("t", "th")), typedLit(Seq("h", "e"))),
    "graft_proto" -> Seq(col("rec")),
    "graft_proto_decode" -> Seq(unhex(lit("0896011203616263")),
      lit("event_id BIGINT, event_type STRING")),
    "graft_pq_score" -> Seq(typedLit(Seq(0.1, 0.2, 0.3, 0.4)), array(col("id") % 2, lit(1L))),
    "graft_pq_encode" -> Seq(col("a"),
      typedLit(Seq(0.0, 1.0, 0.0, 0.0, 1.0, 0.0, 1.0, 0.0)), lit(1)),
    "graft_ivf_assign" -> Seq(col("a"), (col("id") + 1).cast("double"),
      typedLit(Seq.empty[Double]),
      typedLit(Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0)), lit(0)),
    "graft_cdc_cuts" -> Seq(col("payload"), lit(4), lit(2), lit(16)),
    "graft_gram_buckets" -> Seq(col("tk"), lit(2), lit(8), lit(0)),
    "graft_bm25_probe" -> Seq(col("tk"), typedLit(Seq("fox", "lazy")),
      typedLit(Seq(1.0, 2.0)), typedLit(Seq(0, 1, 3)), typedLit(Seq(7L, 7L, 9L)),
      lit(1.2), lit(0.75), lit(9.0)),
    "graft_phrase_probe" -> Seq(col("tk"), typedLit(Seq(1L, 2L)),
      typedLit(Seq(0, 2, 3)), typedLit(Seq("quick", "brown", "dog"))),
    "graft_span_trim" -> Seq(col("tk"),
      transform(col("tk"), t => t === lit("fox") || t === lit("the")), lit(2), lit(1)),
    "graft_bloom_agg" -> Seq(col("h"), lit(100L), lit(1024L)),
    "graft_bloom_contains" -> Seq(lit(filterBytes), col("h")),
    "graft_bloom_probe" -> Seq(col("shard"), lit(filterBytes), col("h")))

  private val aggregates = Set("graft_bloom_agg")

  private def names: Seq[String] = GraftFunctions.all.map(_._1.funcName)

  private def rows(s: SparkSession, name: String, c: Column): Seq[String] = {
    val out = if (aggregates(name)) frame(s).agg(c.as("r"))
      else frame(s).select(col("id"), c.as("r"))
    out.select(to_json(struct(out.columns.map(col).toIndexedSeq: _*)))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  private def iaeMessage(run: => Any): String = {
    val e = intercept[Throwable](run)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e"))
  }

  behavior of "GraftFunctions.call"

  it should "cover every registered function" in {
    argsOf.keySet shouldBe names.toSet
  }

  it should "return the registry route's rows on a session nothing registered" in {
    val unregistered = base.newSession()
    val registered = base.newSession()
    GraftFunctions.register(registered)
    for (name <- names) withClue(s"$name: ") {
      val viaCall = rows(unregistered, name, GraftFunctions.call(name, argsOf(name): _*))
      val viaRegistry = rows(registered, name, call_function(name, argsOf(name): _*))
      viaCall should not be empty
      viaCall shouldBe viaRegistry
    }
    for (name <- names) withClue(s"$name: ") {
      unregistered.catalog.functionExists(name) shouldBe false
    }
  }

  it should "reject a wrong argument count with the registry route's message" in {
    val unregistered = base.newSession()
    val registered = base.newSession()
    GraftFunctions.register(registered)
    for (name <- names) withClue(s"$name: ") {
      val wrong = argsOf(name) ++ Seq(lit(0), lit(0))
      val viaCall = iaeMessage(
        frame(unregistered).select(GraftFunctions.call(name, wrong: _*)).collect())
      val viaRegistry = iaeMessage(
        frame(registered).select(call_function(name, wrong: _*)).collect())
      viaCall should include ("argument")
      viaCall shouldBe viaRegistry
    }
    iaeMessage(GraftFunctions.call("graft_nope", col("id"))) should include ("graft_nope")
    for (name <- names) withClue(s"$name: ") {
      unregistered.catalog.functionExists(name) shouldBe false
    }
  }

  behavior of "src/main"

  it should "reach native expressions through GraftFunctions.call only" in {
    val root = new File("src/main/scala")
    withClue(s"run from the repository root (${root.getAbsolutePath}): ") {
      root.isDirectory shouldBe true
    }
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val allowed = Set("GraftSession.scala", "GraftFunctions.scala")
    val offenders = for {
      f <- files(root) if !allowed(f.getName)
      src = { val s = Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      pattern <- Seq("call_function(\"graft_", "GraftFunctions.register(") if src.contains(pattern)
    } yield s"${f.getPath}: $pattern"
    offenders shouldBe empty
  }
}
