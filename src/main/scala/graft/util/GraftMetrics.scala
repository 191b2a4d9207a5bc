package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming metrics (reference analog: util/Metrics.scala +
  * KafkaMetricsReporter — semantics only): per-query counters for rows
  * and epochs, fed by Spark's StreamingQueryListener instead of a
  * hand-rolled poll-loop reporter.
  */
class GraftMetrics extends StreamingQueryListener {

  private val rows = new ConcurrentHashMap[String, LongAdder]()
  private val batches = new ConcurrentHashMap[String, LongAdder]()
  private val durations = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  private def name(n: String, id: java.util.UUID): String =
    Option(n).getOrElse(id.toString)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val key = name(e.progress.name, e.progress.id)
    rows.computeIfAbsent(key, _ => new LongAdder).add(e.progress.numInputRows)
    if (e.progress.numInputRows > 0) {
      batches.computeIfAbsent(key, _ => new LongAdder).increment()
      val q = durations.computeIfAbsent(key,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      q.add(e.progress.batchDuration)
      // bounded retention: a long-lived loader commits millions of epochs;
      // keep a sliding window of the most recent samples (the percentile
      // is a recent-health signal, not an all-time archive)
      while (q.size > GraftMetrics.MaxDurationSamples) q.poll()
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def rowsLoaded(query: String): Long = Option(rows.get(query)).map(_.sum).getOrElse(0L)
  def epochsCommitted(query: String): Long = Option(batches.get(query)).map(_.sum).getOrElse(0L)

  /** Epoch-latency percentile (ms) over non-empty epochs of `query`
    * (nearest-rank); -1 with no completed epochs. The reference surfaces
    * the same signal as its micrometer batch-commit timers. */
  def epochLatencyMs(query: String, p: Double): Long = {
    val q = durations.get(query)
    if (q == null) -1L
    else {
      import scala.jdk.CollectionConverters._
      GraftMetrics.percentileMs(q.asScala.toSeq, p)
    }
  }

  /** Names of all queries that have reported progress so far. */
  def queryNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    rows.keySet.asScala.toSeq.sorted
  }
}

object GraftMetrics {
  /** Sliding-window cap on retained per-epoch durations (see
    * onQueryProgress) — large enough for meaningful p99s, small enough
    * to never matter on the heap. */
  val MaxDurationSamples = 16384

  /** Install a metrics listener on the session and return it. */
  def install(spark: SparkSession): GraftMetrics = {
    val m = new GraftMetrics
    spark.streams.addListener(m)
    m
  }

  /** Nearest-rank percentile over latencies; -1 on an empty sample. */
  def percentileMs(lats: Seq[Long], p: Double): Long =
    if (lats.isEmpty) -1L
    else {
      val sorted = lats.sorted
      sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))
    }
}
