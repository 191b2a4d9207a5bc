package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.operators.Retrieval
import graft.plans.PlanLint

/** The dev tool, `runMain graft.tools.Dev <mode> [name...]`, on
  * [[session]]:
  *  - `profile <query...>`: the cold wall, then one timed run's Spark
  *    jobs, stages, tasks and summed task time (compute vs per-job
  *    overhead) and its 8 longest stages;
  *  - `build <build...>`: evict and rebuild a [[SparkEntry.SharedBuilds]]
  *    entry, 1 warm and 3 timed runs, with the last run's 10 longest stages;
  *  - `plan <query|build:ir_truth|build:ir_truth_shingle...>`: the
  *    formatted static plan (`build:` names are the unpinned truth joins);
  *  - `final-plan <query...>`: the plan AQE actually ran ([[finalPlan]]);
  *  - `scans [query...]`: parquet scans per table in that plan; a repeat
  *    re-runs a corpus pass (ScanAuditSpec pins the ceilings);
  *  - `lint [query...]`: [[PlanLint]] findings, without executing;
  *    nonzero on an error finding or a query that does not build.
  * `scans` and `lint` cover every query when given no names. */
object Dev {

  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = session()
    val rc = try run(spark, sfDir, args.toSeq) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** The session every dev main runs on: `local[n]` with n shuffle
    * partitions, n = `SPARK_GRAFT_CPUS` or all cores, and the data dir
    * `SPARK_GRAFT_SF_DIR` (default sf0.1). Planning-time lint is off: a
    * timing or dump harness re-plans every query, and the warn-mode
    * screen would add planning time and log noise to each. */
  def session(): (SparkSession, String) = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.create(s"local[$n]", n)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.graft.lint", "off")
    (spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
  }

  /** Execute the frame and return its POST-EXECUTION plan string: the
    * plan AQE actually ran, with reused subtrees printed as one-line
    * ReusedExchange nodes. collect() (not a write) so THIS
    * QueryExecution's adaptive plan is the one finalized, and the
    * trailing "== Initial Plan ==" section is stripped. */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Parquet scan nodes in a plan string. */
  def parquetScans(plan: String): Int = "FileScan parquet|Scan parquet".r.findAllIn(plan).length

  private val Modes = Seq("profile", "build", "plan", "final-plan", "scans", "lint")
  private val TruthBuilds = Map("build:ir_truth" -> false, "build:ir_truth_shingle" -> true)

  /** Run one mode; returns the exit code. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Int = {
    val queries = SparkEntry.queries
    val queryNames = queries.keys.toSeq.sorted
    val (mode, names) = (args.headOption.getOrElse(""), args.drop(1))
    val known = mode match {
      case "build" => SparkEntry.SharedBuilds.map(_._1)
      case "plan" => queryNames ++ TruthBuilds.keys.toSeq.sorted
      case _ => queryNames
    }
    val unknown = names.filterNot(known.contains)
    if (!Modes.contains(mode)) {
      Console.err.println(s"unknown mode '$mode' (known: ${Modes.mkString(", ")})")
      return 2
    }
    if (unknown.nonEmpty || (names.isEmpty && mode != "scans" && mode != "lint")) {
      val what = if (unknown.isEmpty) "no name given" else s"unknown ${unknown.mkString(", ")}"
      Console.err.println(s"$mode: $what (known: ${known.mkString(", ")})")
      return 2
    }
    val selected = queryNames.filter(n => names.isEmpty || names.contains(n))
    val profile = new Profile(spark)
    spark.sparkContext.addSparkListener(profile)
    try mode match {
      case "profile" =>
        names.foreach { name =>
          val fn = queries(name)
          var rows = 0L
          val cold = profile.measure { rows = fn(spark, sfDir).count() } // also fills session memos
          println(f"COLDRUN $name%-22s wall=$cold%7.3f s rows=$rows")
          val wall = profile.measure(fn(spark, sfDir).count())
          println(f"JOBPROFILE $name%-22s wall=$wall%7.3f s jobs=${profile.jobs.get}%3d " +
            f"stages=${profile.stages.get}%4d tasks=${profile.tasks.get}%5d taskTime=${profile.taskMs.get / 1e3}%8.2f s")
          profile.printStages(8)
        }
        0
      case "build" =>
        names.foreach { name =>
          val (_, evict, build) = SparkEntry.SharedBuilds.find(_._1 == name).get
          def once(): Unit = { evict(spark); build(spark, sfDir) }
          once() // warm codegen/JIT and upstream memos, e.g. the sample
          val times = (1 to 3).map(_ => profile.measure(once()))
          println(f"BUILDPROFILE $name%-18s min=${times.min}%7.3f s  runs=${times.map(t => f"$t%.3f").mkString(", ")}")
          profile.printStages(10)
        }
        0
      case "plan" =>
        names.foreach { name =>
          val df = TruthBuilds.get(name)
            .fold(queries(name)(spark, sfDir))(Retrieval.truthBuildPlan(spark, sfDir, _))
          println(s"===== $name =====")
          println(df.queryExecution.explainString(FormattedMode))
        }
        0
      case "final-plan" =>
        names.foreach { name =>
          println(s"===== $name =====")
          println(finalPlan(queries(name)(spark, sfDir)))
        }
        0
      case "scans" =>
        val rows = selected.flatMap { name =>
          try {
            val plan = finalPlan(queries(name)(spark, sfDir))
            val byTable = "([a-z]+)\\.parquet".r.findAllMatchIn(plan)
              .map(_.group(1)).toSeq.groupBy(identity).view.mapValues(_.size)
              .toSeq.sortBy(-_._2).map { case (t, c) => s"$t=$c" }.mkString(",")
            Some((name, parquetScans(plan), byTable))
          } catch { case NonFatal(e) =>
            println(s"$name FAILED: ${e.getMessage}"); None
          }
        }
        rows.foreach { case (n, s, bt) => println(f"$n%-22s scans=$s%-3d $bt") }
        0
      case "lint" =>
        var (nErr, nFail) = (0, 0)
        selected.foreach { name =>
          try {
            val findings = PlanLint.lint(queries(name)(spark, sfDir))
            if (findings.nonEmpty || names.nonEmpty) {
              println(s"$name:")
              findings.foreach(f => println(s"  $f"))
              if (findings.isEmpty) println("  clean")
            }
            nErr += findings.count(_.severity == "error")
          } catch { case NonFatal(e) =>
            // a query that cannot even build must fail the gate, not pass it
            nFail += 1
            println(s"$name FAILED to build: ${e.getMessage}")
          }
        }
        println(s"[lint] errors: $nErr, build failures: $nFail")
        if (nErr + nFail > 0) 1 else 0
    } finally spark.sparkContext.removeSparkListener(profile)
  }

  /** Counts the Spark jobs, stages and tasks, executor task time and
    * per-stage walls of the actions run inside [[measure]]. */
  private final class Profile(spark: SparkSession) extends SparkListener {
    val jobs, stages, tasks, taskMs = new AtomicLong
    private val stageRows = new ConcurrentLinkedQueue[(Long, Int, String)]

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val info = sc.stageInfo
      val dur = (for (a <- info.completionTime; b <- info.submissionTime) yield a - b).getOrElse(0L)
      stageRows.add((dur, info.numTasks, info.name.linesIterator.next().take(100)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    }

    /** Wall seconds of `body`, with the counters holding its events only. */
    def measure(body: => Unit): Double = {
      GraftShim.drainListenerBus(spark.sparkContext)
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
      stageRows.clear()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftShim.drainListenerBus(spark.sparkContext)
      wall
    }

    def printStages(n: Int): Unit =
      stageRows.asScala.toSeq.sortBy(-_._1).take(n).foreach { case (dur, nt, nm) =>
        println(f"  STAGE ${dur / 1e3}%7.3f s tasks=$nt%4d  $nm")
      }
  }
}
