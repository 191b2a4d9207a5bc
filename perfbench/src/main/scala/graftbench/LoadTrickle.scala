package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{EventSource, GraftLoader, Sinks}

/** `load_trickle`: live arrival, open loop.
  *
  * Set-up pre-writes the source files. A generator thread then renames one
  * file into the watched directory every `intervalMs`, on a fixed schedule
  * that never slows when the loader does. The loader
  * (`GraftLoader` + `TwoPhaseCommit`, `AvailableNow`) is restarted back to
  * back from one checkpoint, the way a scheduler re-runs `LoaderApp`.
  * Each file's latency runs from the time it was due to the commit of the
  * epoch that holds it. Fixed per-start costs dominate here.
  */
object LoadTrickle {

  final case class Size(intervalMs: Double, rowsPerFile: Int, perTrigger: Int, maxSeconds: Int)
  val Full = Size(intervalMs = 100.0, rowsPerFile = 1000, perTrigger = 64, maxSeconds = 60)
  val Smoke = Size(intervalMs = 50.0, rowsPerFile = 20, perTrigger = 64, maxSeconds = 3)

  val phases = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

  def run(r: Run): Unit = {
    val spark = r.spark
    val a = r.args
    val size = if (a.smoke) Smoke else Full
    val seconds = math.min(a.seconds, size.maxSeconds)
    val nFiles = math.ceil(seconds * 1000 / size.intervalMs).toInt
    val baseRows = r.tracer.span("bench", "count_events")(spark.read.parquet(s"${a.data}/events.parquet").count())
    val factor = math.ceil(nFiles.toDouble * size.rowsPerFile / baseRows).toInt
    r.info("size") = s"$size files=$nFiles factor=$factor"

    val files = r.setup(3) { k =>
      val gen = Inputs.scaleGen(spark, a.data, s"${a.work}/gen$k", factor, Some(Set("events")))
      val fs = Inputs.split(spark, graft.Tables.events(spark, gen), s"${a.work}/staged$k", nFiles, 0.5,
        a.seed, contiguous = true)
      Files.rmTree(gen)
      if (k == 2) Files.rmTree(s"${a.work}/staged1")
      fs
    }
    val warmFiles = s"${a.work}/staged0"
    val staged = s"${a.work}/staged2"

    // Warm-up, untimed: three loader starts over a few files each, on a
    // checkpoint of their own, so the first timed start is not a JVM's first.
    r.tracer.span("bench", "warm_up") {
      val watch = new File(s"${a.work}/warm-watch"); watch.mkdirs()
      files.take(6).grouped(2).foreach { g =>
        g.foreach(f => Files.move(new File(warmFiles, f.name), new File(watch, f.name)))
        startLoader(r, watch.getPath, s"${a.work}/warm-out", s"${a.work}/warm-cp", size.perTrigger, None)
          .awaitTermination()
      }
      Files.rmTree(warmFiles)
    }

    val watch = new File(s"${a.work}/watch"); watch.mkdirs()
    val out = s"${a.work}/out"
    val cp = s"${a.work}/cp"
    val totalRows = files.map(_.rows).sum
    val dueMs = new Array[Double](files.length)
    val lateMs = new Array[Double](files.length)
    @volatile var genDone = false
    val runs = mutable.ArrayBuffer.empty[(Double, Seq[StreamingQueryProgress])]

    r.measured {
      val startMs = System.currentTimeMillis() + 100.0
      val startNs = System.nanoTime() + 100000000L
      val generator = new Thread(() => {
        try files.zipWithIndex.foreach { case (f, i) =>
          val dueNs = startNs + (i * size.intervalMs * 1e6).toLong
          val wait = dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          Files.move(new File(staged, f.name), new File(watch, f.name))
          dueMs(i) = startMs + i * size.intervalMs
          lateMs(i) = (System.nanoTime() - dueNs) / 1e6
        } finally genDone = true
      }, "perfbench-trickle-generator")
      generator.setDaemon(true)
      generator.start()
      var committed = 0L
      val deadline = System.nanoTime() + (seconds + 60) * 1000000000L
      while (!(genDone && committed >= totalRows) && System.nanoTime() < deadline) {
        r.tracer.span("streaming", "trickle.run") {
          val parent = r.tracer.current
          r.op("loader run") {
            val q = startLoader(r, watch.getPath, out, cp, size.perTrigger, Some(parent).filter(_ => r.tracer.enabled))
            q.awaitTermination()
            q.exception.foreach(e => throw e)
            q.recentProgress.toSeq.filter(_.numInputRows > 0)
          }
        }.foreach { case (progress, s) =>
          runs += ((s * 1000, progress))
          committed += progress.map(_.numInputRows).sum
        }
      }
      generator.join()
      r.check(committed == totalRows, s"trickle: $committed rows committed of $totalRows released")
    }

    // Which epoch holds each file, read back from the table; every file
    // must be committed exactly once, whole.
    val commitMs = runs.flatMap(_._2).map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue)
    }.toMap
    val los = files.map(_.minId).toArray
    val fileOf = udf { (id: Long) =>
      val i = java.util.Arrays.binarySearch(los, id)
      if (i >= 0) i else -i - 2
    }
    val placed = r.tracer.span("bench", "check.exactly_once") {
      spark.read.parquet(out)
        .groupBy(fileOf(col("event_id")).as("f"))
        .agg(count(lit(1)), min("batch"), max("batch"))
        .collect().map(row => row.getInt(0) -> (row.getLong(1), row.getInt(2), row.getInt(3))).toMap
    }
    val latencies = files.zipWithIndex.flatMap { case (f, i) =>
      placed.get(i) match {
        case Some((n, b0, b1)) if n == f.rows && b0 == b1 && commitMs.contains(b0.toLong) =>
          Some(commitMs(b0.toLong) - dueMs(i))
        case other =>
          r.fail(s"trickle: ${f.name} with ${f.rows} rows committed as $other")
          None
      }
    }
    r.check(placed.keySet.forall(_ < files.length), "trickle: rows outside every released file")
    r.info("files") = files.length.toString
    r.info("runs") = runs.length.toString
    if (latencies.nonEmpty) r.endToEnd(totalRows / (runs.map(_._1).sum / 1000), latencies)

    val epochs = runs.flatMap(_._2)
    phases.foreach(ph => r.put(s"streaming.trickle.${ph}_ms",
      Stats.median(epochs.map(p => Option(p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0)).toSeq)))
    val quarter = math.max(1, runs.length / 4)
    r.put("streaming.trickle.run_ms_first_q", Stats.mean(runs.take(quarter).map(_._1).toSeq))
    r.put("streaming.trickle.run_ms_last_q", Stats.mean(runs.takeRight(quarter).map(_._1).toSeq))
    r.put("streaming.trickle.files_per_run", files.length.toDouble / math.max(1, runs.length))
    r.put("streaming.trickle.generator_late_ms_max", lateMs.max)
    if (r.tracer.enabled) LoadDrain.writeBatchSelf(r)
  }

  /** The loader; with a traced parent span, the sink is attached by the
    * benchmark so each epoch's `writeBatch` gets its own span. */
  private def startLoader(r: Run, watch: String, out: String, cp: String, perTrigger: Int,
      tracedParent: Option[Int]): StreamingQuery = tracedParent match {
    case None =>
      GraftLoader.builder()
        .source(GraftLoader.FileSource(watch, maxFilesPerTrigger = perTrigger))
        .sink(GraftLoader.TwoPhaseCommit(out))
        .checkpoint(cp)
        .start(r.spark)
    case Some(parent) =>
      LoadDrain.tracedAttach(r, EventSource.fileStream(r.spark, watch, perTrigger), cp, "twopc",
        new Sinks.TwoPhaseCommitSink(out).writeBatch, parent)
  }
}
