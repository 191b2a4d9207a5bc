package graft

import graft.streaming.GraftLoader
import graft.util.GraftMetrics

/** Standalone loader entrypoint — the `StreamLoader` analog
  * (reference: StreamLoader.scala wires source→sink with lifecycle;
  * here the Spark runtime owns lifecycle/commit, we wire and block).
  *
  * Usage: runMain graft.LoaderApp <srcDir> <outDir> <checkpointDir> [sink] [lookback]
  *   sink: files (default) | 2pc | indata | snapshot | rowbinary
  *   lookback (indata sink only): offsets:<n> | duration:<iso8601, e.g. PT2H>
  *     — rewind consumption on restart by n records / a duration per
  *     partition (reference StreamInterval); re-deliveries land in a
  *     replay epoch and collapse via InDataOffsetSink.readDeduped.
  *
  * Swap the file source for `format("kafka")` at deployment; everything
  * downstream is unchanged.
  */
object LoaderApp {

  private[graft] def parseLookback(s: String): streaming.StreamInterval = s.split(":", 2) match {
    case Array("offsets", n) => streaming.StreamInterval.OffsetRange(n.toLong)
    case Array("duration", d) => streaming.StreamInterval.WatermarkRange(java.time.Duration.parse(d))
    case _ => throw new IllegalArgumentException(
      s"lookback '$s': expected offsets:<n> or duration:<iso8601>")
  }

  private val usage =
    "usage: LoaderApp <srcDir> <outDir> <checkpointDir> [files|2pc|indata|snapshot|rowbinary] [lookback]"

  private val sinks: Map[String, String => GraftLoader.Sink] = Map(
    "files" -> (GraftLoader.PartitionedFiles(_)),
    "2pc" -> (GraftLoader.TwoPhaseCommit(_)),
    "indata" -> (GraftLoader.InDataOffsets(_)),
    "snapshot" -> (GraftLoader.SnapshotTable(_)),
    "rowbinary" -> (GraftLoader.RowBinaryFiles(_)))

  /** The loader sink a command-line sink name selects, writing to `outDir`. */
  private[graft] def sink(kind: String, outDir: String): GraftLoader.Sink = {
    // an explicit whitelist: a TYPO'd sink name must not silently fall
    // through to the default file sink — it would commit data in the
    // wrong layout before anyone notices
    require(sinks.contains(kind), s"unknown sink '$kind'; $usage")
    sinks(kind)(outDir)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val Array(srcDir, outDir, checkpointDir) = args.take(3)
    val loaderSink = sink(args.lift(3).getOrElse("files"), outDir)
    val lookback = args.lift(4).map(parseLookback)
      .getOrElse(streaming.StreamInterval.Current)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = GraftMetrics.install(spark)
    // a lookback needs the indata sink: the builder rejects any other
    val query = GraftLoader.builder()
      .source(GraftLoader.FileSource(srcDir, maxFilesPerTrigger = 64))
      .sink(loaderSink)
      .checkpoint(checkpointDir)
      .lookback(lookback)
      .start(spark)
    sys.addShutdownHook { query.stop() }
    query.awaitTermination()
    // count from the query's own progress objects, not the metrics
    // listener: the async listener bus may not have delivered the last
    // batch's event yet when awaitTermination returns (the listener
    // stays installed for long-running monitoring; this print is the
    // synchronous summary). NOTE recentProgress is itself a sliding
    // window (spark.sql.streaming.numRecentProgressUpdates, default 100
    // entries), so label it recent-window: on a run longer than ~100
    // batches it undercounts and the listener total is the one to read.
    val rows = query.recentProgress.map(_.numInputRows).sum
    println(s"[loader] done; rows(recent-window)=$rows (listener total: ${
      metrics.rowsLoaded(Option(query.name).getOrElse(query.id.toString))})")
    spark.stop()
  }
}
