package graft.tools

import java.io.{ByteArrayOutputStream, File}

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[Dev]]'s modes through `Dev.run`, which returns the exit code instead
  * of exiting, so a bad mode or name is a result, not a dead JVM. A source
  * guard keeps the dev mains folded into it. */
class DevSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val base: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // session memos are keyed by session: the entries `build` evicts and
  // rebuilds are this suite's own
  lazy val spark: SparkSession = base.newSession()

  override def afterAll(): Unit = base.stop()

  /** Exit code, stdout and stderr of one `Dev.run`. */
  private def dev(args: String*): (Int, String, String) = {
    val (out, err) = (new ByteArrayOutputStream, new ByteArrayOutputStream)
    val rc = Console.withOut(out)(Console.withErr(err)(Dev.run(spark, sf, args)))
    (rc, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  /** Class names of the listeners on the session's context (the bus is
    * `private[spark]`; its accessors are public in bytecode). */
  private def listeners(): Seq[String] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq.map(_.getClass.getName)
  }

  behavior of "Dev"

  it should "profile a query's jobs, stages and tasks" in {
    val (rc, out, _) = dev("profile", "q1_pricing")
    rc shouldBe 0
    out should include regex """COLDRUN q1_pricing\s+wall=.* compiles=\d+"""
    val jobs = """JOBPROFILE q1_pricing\s+wall=\s*[\d.]+ s jobs=\s*(\d+) stages=""".r
      .findFirstMatchIn(out).map(_.group(1).toInt)
    withClue(out) { jobs.exists(_ >= 1) shouldBe true }
    // the timed run repeats the cold run's plans in the same session
    val compiles = """JOBPROFILE q1_pricing .* compiles=\s*(\d+)""".r
      .findFirstMatchIn(out).map(_.group(1).toInt)
    withClue(out) { compiles shouldBe Some(0) }
  }

  it should "evict and rebuild a shared build" in {
    val (rc, out, _) = dev("build", "ql_train")
    rc shouldBe 0
    out should include regex """BUILDPROFILE ql_train\s+min="""
  }

  it should "print the static plan of a truth build" in {
    val (rc, out, _) = dev("plan", "build:ir_truth")
    rc shouldBe 0
    out should include ("===== build:ir_truth =====")
    out should include ("== Physical Plan ==")
  }

  it should "count the parquet scans of the plan that ran" in {
    val (rc, out, _) = dev("scans", "q1_pricing")
    rc shouldBe 0
    out should include regex """q1_pricing\s+scans=1 """
  }

  it should "lint a query clean" in {
    val (rc, out, _) = dev("lint", "q1_pricing")
    rc shouldBe 0
    out should include ("q1_pricing:")
    out should include ("[lint] errors: 0, build failures: 0")
  }

  it should "refuse an unknown mode or name with the known names" in {
    val (modeRc, _, modeErr) = dev("nope")
    modeRc should not be 0
    modeErr should include ("final-plan")
    val (nameRc, _, nameErr) = dev("profile", "no_such_query")
    nameRc should not be 0
    nameErr should include ("no_such_query")
    nameErr should include ("q1_pricing")
    val (buildRc, _, buildErr) = dev("build", "q1_pricing")
    buildRc should not be 0
    buildErr should include ("ql_train")
    dev("plan")._1 should not be 0
    spark.range(3).count() shouldBe 3 // the JVM and the session survive
  }

  it should "leave no listener on the session, also when a mode throws" in {
    val before = listeners()
    an[Exception] should be thrownBy Dev.run(spark, s"$sf/no_such_dir", Seq("final-plan", "q1_pricing"))
    listeners() shouldBe before
    before.filter(_.startsWith(classOf[Dev.type].getName.stripSuffix("$"))) shouldBe empty
  }

  behavior of "src/main"

  it should "keep one dev main beside the bench, verify, loader and scale mains" in {
    val root = new File("src/main/scala")
    withClue(s"run from the repository root (${root.getAbsolutePath}): ") {
      root.isDirectory shouldBe true
    }
    def files(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val mains = for {
      f <- files(root)
      src = { val s = Source.fromFile(f, "UTF-8"); try s.mkString finally s.close() }
      if src.contains("def main(")
    } yield root.toPath.relativize(f.toPath).toString
    mains.sorted shouldBe Seq("graft/Bench.scala", "graft/LoaderApp.scala", "graft/Verify.scala",
      "graft/tools/Dev.scala", "graft/tools/ScaleCheck.scala", "graft/tools/ScaleGen.scala")
  }
}
