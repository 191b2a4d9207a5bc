package graft.streaming

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One exactly-once epoch sink — the reference's `RecordBatchStorage`
  * contract on Structured Streaming's epoch model (Armbrust et al.,
  * "Structured Streaming", SIGMOD 2018: an epoch-idempotent sink plus a
  * replayable source and a checkpointed offset log give exactly-once).
  *
  * A sink implements one method, [[writeBatch]], which must be
  * idempotent per epoch id: a replayed epoch (restart between the sink's
  * commit and the checkpoint's) is detected by the sink's own commit
  * record and skipped. [[attach]] is the one place a sink meets a
  * stream: checkpoint, `AvailableNow` trigger, `foreachBatch`.
  */
trait EpochSink extends Serializable {

  /** Write epoch `epochId` of the stream; a no-op if it already committed. */
  def writeBatch(batch: DataFrame, epochId: Long): Unit

  /** Drain `events` into this sink, checkpointing at `checkpointDir`. */
  final def attach(events: DataFrame, checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch _)
      .start()
}

object EpochSink {

  /** What `record` observed on an epoch write that has returned, by
    * metric name. The metrics reach the driver through the session's
    * listener bus; if they never arrive (a dropped listener event), the
    * epoch fails and its replay rewrites it, instead of the stream
    * hanging. */
  private[streaming] def observed(record: Observation): Map[String, Any] = {
    val row = Await.result(record.future, 2.minutes)
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }

  /** A sink whose epoch is one directory `<prefix><id>` under `outDir`:
    * `stage` writes the epoch into a staging dir that [[Sinks.publish]]
    * renames into place, and a replayed epoch whose directory already
    * exists is skipped — it was published atomically. A half-staged
    * epoch left no directory, so its retry re-stages it. */
  def publishOnce(outDir: String, prefix: String)(
      stage: (DataFrame, Path) => Unit): EpochSink = new EpochSink {
    def writeBatch(batch: DataFrame, epochId: Long): Unit = {
      val fs = new Path(outDir).getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      val name = s"$prefix$epochId"
      if (!fs.exists(new Path(outDir, name)))
        Sinks.publish(fs, outDir, name)(stage(batch, _))
    }
  }
}
