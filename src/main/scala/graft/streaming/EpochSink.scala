package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

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

  /** Run `body` with `batch` cached: foreachBatch re-executes the source
    * scan for every action otherwise. The epoch is persisted only when
    * the caller has not already cached it, and only what was persisted
    * here is released — a caller's cache outlives the call, and a failed
    * write leaves nothing cached. */
  def cached[T](batch: DataFrame)(body: => T): T = {
    val owned = batch.storageLevel == StorageLevel.NONE
    if (owned) batch.persist()
    try body finally if (owned) batch.unpersist()
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
