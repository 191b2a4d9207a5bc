package graft.tools

/** Dev profiler for the PRICED shared-build lines (round 16): times
  * evict → rebuild of a named [[graft.SparkEntry.SharedBuilds]] entry,
  * min-of-N, without paying a full bench sweep per data point. The r15
  * c8 capture showed the shingle truth build at 127× its c32 time — this
  * tool exists to measure that ratio in isolation before/after the
  * truth-join fixes.
  * Usage: `runMain graft.tools.SharedBuildProfile <name> [name...]`;
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench;
  * `GRAFT_BUILD_RUNS` (default 3) timed runs per name. */
object SharedBuildProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.get("GRAFT_BUILD_RUNS").flatMap(_.toIntOption).getOrElse(3)
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.graft.lint", "off")
    val stageRows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Int, String)]())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val dur = (for (a <- info.completionTime; b <- info.submissionTime)
          yield a - b).getOrElse(0L)
        stageRows.add((dur, info.numTasks,
          info.name.linesIterator.next().take(100)))
      }
    })
    args.foreach { name =>
      val (_, evict, build) = graft.SparkEntry.SharedBuilds.find(_._1 == name).getOrElse(
        sys.error(s"unknown build (known: ${graft.SparkEntry.SharedBuilds.map(_._1).mkString(", ")})"))
      def fn(): Unit = { evict(spark); build(spark, sfDir) }
      fn() // warm codegen/JIT (and upstream memos, e.g. the sample)
      val times = (1 to runs).map { _ =>
        stageRows.clear()
        val t0 = System.nanoTime()
        fn()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"BUILDPROFILE $name%-18s min=${times.min}%7.3f s  runs=${times.map(t => f"$t%.3f").mkString(", ")}")
      if (sys.env.contains("GRAFT_PROFILE_STAGES")) {
        import scala.jdk.CollectionConverters._
        Thread.sleep(300)
        stageRows.asScala.toSeq.sortBy(-_._1).take(10).foreach {
          case (dur, nt, nm) =>
            println(f"  STAGE ${dur / 1e3}%7.3f s tasks=$nt%4d  $nm")
        }
      }
    }
    spark.stop()
  }
}
