package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Composable loader builder — the reference's user-facing API shape
  * (`StreamLoader` + builders: source, formatter, batcher, storage),
  * re-expressed over Structured Streaming. A stream-loader user writes:
  *
  * {{{
  * GraftLoader.builder()
  *   .source(GraftLoader.FileSource(srcDir, maxFilesPerTrigger = 64))
  *   .transform(_.filter(col("event_type") =!= "error"))   // RecordFormatter analog
  *   .sink(GraftLoader.TwoPhaseCommit(outDir))             // storage analog
  *   .checkpoint(cpDir)                                    // offset tracking analog
  *   .start(spark)
  * }}}
  *
  * Lifecycle, offset management and exactly-once bookkeeping are owned by
  * the Spark runtime + the chosen sink's commit protocol.
  */
object GraftLoader {

  sealed trait Source
  /** File-based stream (Kafka stand-in in this environment; swap for a
    * kafka reader at deployment without touching the rest). */
  final case class FileSource(dir: String, maxFilesPerTrigger: Int = 1) extends Source

  /** Kafka topic source — the reference's `source/KafkaSource.scala`
    * surface (subscribe, start position, poll-size bound) on Structured
    * Streaming's kafka connector, which owns the poll/rebalance/commit
    * loop the reference implements by hand. `decode` maps the kafka wire
    * record (key, value, topic, partition, offset, timestamp) to the
    * event schema — the `RecordFormatter` seam; the default parses the
    * value as JSON of [[EventSource.schema]].
    *
    * Deployment note: needs `spark-sql-kafka-0-10` on the classpath.
    * This environment ships no kafka jars, so `start()` fails with
    * Spark's data-source-not-found error (pinned in StreamingSpec) —
    * everything downstream of the source is connector-agnostic.
    *
    * `options` passes consumer-level settings straight to the connector
    * (the reference's KafkaSource consumer-properties seam — SASL/SSL
    * configs go here as `kafka.`-prefixed keys). `format` injects the
    * connector implementation itself: production leaves the default
    * `"kafka"`; tests drive the IDENTICAL builder path through a
    * wire-schema-faithful fake (KafkaIntegrationSpec's FakeKafkaSource),
    * and `tools/kafka-ci/` holds the compose recipe for running the
    * real-broker gate. */
  final case class KafkaTopic(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      decode: DataFrame => DataFrame = Builder.jsonEventDecoder,
      options: Map[String, String] = Map.empty,
      format: String = "kafka") extends Source

  sealed trait Sink
  /** Partitioned file sink (HDFS/S3 storage analog). */
  final case class PartitionedFiles(
      dir: String,
      format: String = "parquet",
      compression: Option[String] = None,
      maxRecordsPerFile: Long = 100000) extends Sink
  /** Staged two-phase commit with manifest (S3 multipart / HDFS staging analog). */
  final case class TwoPhaseCommit(dir: String) extends Sink
  /** Offsets live inside the data (Vertica in-row offset analog). */
  final case class InDataOffsets(dir: String) extends Sink
  /** Snapshot-metadata table commit (Iceberg analog). */
  final case class SnapshotTable(dir: String) extends Sink
  /** ClickHouse-RowBinary files via the graft DataSource V2 connector
    * (rowbinary encoder analog: the bytes a ClickHouse INSERT ingests). */
  final case class RowBinaryFiles(dir: String) extends Sink
  /** Avro object container files via the graft DataSource V2 connector
    * (AvroParquetFileBuilder analog; the spark-avro module is absent in
    * this environment, so the container format is written with the core
    * avro library directly). */
  final case class AvroFiles(dir: String) extends Sink
  /** Varint-delimited protobuf record files via the graft DataSource V2
    * connector (ProtoParquetFileBuilder analog at the wire level: proto
    * messages framed `writeDelimitedTo`-style, no protobuf runtime). */
  final case class ProtoFiles(dir: String) extends Sink
  /** Cross-file total-budget batching (MultiFileCommitStrategy.Total
    * analog), with optional [[MultiFileCommit.FuzzyTotalFold]] commit
    * jitter: `jitter = Some((relStdDev, seed))` de-synchronizes the
    * fleet's file sizes while keeping replay-deterministic commit
    * assignment. */
  final case class BudgetedFiles(
      dir: String,
      maxBytes: Option[Long] = None,
      maxRecords: Option[Long] = None,
      jitter: Option[(Double, Long)] = None) extends Sink

  /** Dead-letter routing — the reference's `RecordFormatter` surfaces
    * decode failures by skipping (and logging) bad records; production
    * loaders need them QUARANTINED, not dropped: `bad` rows (evaluated on
    * the decoded frame, BEFORE the user transform) are diverted to a
    * parquet dead-letter table at `dir` with a `dl_reason` column, and
    * only the clean rows continue into transform → sink. Runs as its own
    * checkpointed streaming query (`<checkpoint>/_quarantine`) — the
    * PartitionGroupingSink pattern: each destination commits
    * independently and exactly-once, and a replayable source (file /
    * kafka) serves both. */
  final case class Quarantine(
      dir: String,
      bad: org.apache.spark.sql.Column,
      reason: org.apache.spark.sql.Column)

  def builder(): Builder = Builder()

  object Builder {
    /** Default kafka decode: the record value is a JSON event
      * ([[EventSource.schema]]); malformed values become null structs a
      * downstream transform can filter (PERMISSIVE, like the reference's
      * formatter surfacing decode failures instead of crashing the poll
      * loop). */
    val jsonEventDecoder: DataFrame => DataFrame = df => {
      import org.apache.spark.sql.functions.{col, from_json}
      df.select(from_json(col("value").cast("string"), EventSource.schema).as("r"))
        .select(col("r.*"))
    }
  }

  final case class Builder(
      maybeSource: Option[Source] = None,
      transformFn: DataFrame => DataFrame = identity,
      maybeSink: Option[Sink] = None,
      checkpointDir: Option[String] = None,
      interval: StreamInterval = StreamInterval.Current,
      maybeQuarantine: Option[Quarantine] = None) {

    def source(s: Source): Builder = copy(maybeSource = Some(s))
    def transform(f: DataFrame => DataFrame): Builder = copy(transformFn = f)
    def sink(s: Sink): Builder = copy(maybeSink = Some(s))
    def checkpoint(dir: String): Builder = copy(checkpointDir = Some(dir))
    /** Rewind consumption on (re)start — see [[StreamInterval]]. */
    def lookback(iv: StreamInterval): Builder = copy(interval = iv)
    /** Divert decode-failure / validation-failure rows — see [[Quarantine]]. */
    def quarantine(dir: String, bad: org.apache.spark.sql.Column,
        reason: org.apache.spark.sql.Column): Builder =
      copy(maybeQuarantine = Some(Quarantine(dir, bad, reason)))

    /** Starts the loader and returns the MAIN query (the common case).
      * With a [[Quarantine]] configured the dead-letter query starts too —
      * use [[startAll]] to get both handles. */
    def start(spark: SparkSession): StreamingQuery = startAll(spark).head

    /** All queries this loader runs: main first, then the quarantine
      * query if configured. */
    def startAll(spark: SparkSession): Seq[StreamingQuery] = {
      val src = maybeSource.getOrElse(throw new IllegalStateException("source is required"))
      val snk = maybeSink.getOrElse(throw new IllegalStateException("sink is required"))
      val cp = checkpointDir.getOrElse(throw new IllegalStateException("checkpoint is required"))
      replayLookbackWindow(spark, src, snk)
      // one decoded-frame builder, used by BOTH queries: each start() gets
      // its own readStream instance tracking its own offsets, so the
      // quarantine query's progress is independent of the main sink's
      def decoded(): DataFrame = src match {
        case FileSource(dir, n) => EventSource.fileStream(spark, dir, n)
        case KafkaTopic(servers, topic, startingOffsets, maxOffsets, decode, opts, fmt) =>
          val r = spark.readStream
            .format(fmt)
            .options(opts)
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", startingOffsets)
          decode(maxOffsets.fold(r)(n => r.option("maxOffsetsPerTrigger", n)).load())
      }
      val events = transformFn(
        maybeQuarantine.fold(decoded())(q => decoded().filter(!q.bad)))
      val deadLetters = maybeQuarantine.map { q =>
        import org.apache.spark.sql.streaming.Trigger
        decoded().filter(q.bad)
          .withColumn("dl_reason", q.reason)
          .writeStream
          .option("checkpointLocation", s"$cp/_quarantine")
          .trigger(Trigger.AvailableNow())
          .format("parquet") // exactly-once via the file sink's commit log
          .option("path", q.dir)
          .start()
      }
      // every sink but Spark's own partitioned file sink is an EpochSink
      val writer: Either[DataStreamWriter[Row], EpochSink] = snk match {
        case PartitionedFiles(dir, fmt, comp, maxRec) =>
          Left(Sinks.recordBatchingSink(events, dir, cp, maxRec, fmt, comp))
        case TwoPhaseCommit(dir) => Right(new Sinks.TwoPhaseCommitSink(dir))
        case InDataOffsets(dir) => Right(new Sinks.InDataOffsetSink(dir))
        case SnapshotTable(dir) => Right(new SnapshotTableSink(dir))
        case RowBinaryFiles(dir) =>
          Right(connectorFileSink(dir, classOf[graft.sources.RowBinarySource].getName))
        case AvroFiles(dir) =>
          Right(connectorFileSink(dir, classOf[graft.sources.AvroContainerSource].getName))
        case ProtoFiles(dir) =>
          Right(connectorFileSink(dir, classOf[graft.sources.ProtoFileSource].getName))
        case BudgetedFiles(dir, maxBytes, maxRecords, jitter) =>
          Right(Sinks.multiFileBatchingSink(dir,
            MultiFileCommit.Total(ReachedAnyOf(maxBytes = maxBytes, maxRecords = maxRecords)), jitter))
      }
      writer.fold(_.start(), _.attach(events, cp)) +: deadLetters.toList
    }

    /** Epoch-published sink over a graft DSv2 file connector: one
      * `epoch=<id>` dir per epoch (the [[EpochSink.publishOnce]] protocol). */
    private def connectorFileSink(dir: String, format: String): EpochSink =
      EpochSink.publishOnce(dir, "epoch=") { (batch, staging) =>
        batch.write.format(format).mode("append").save(staging.toString)
      }

    /** Reference rewind (StreamInterval): re-consume the rewound window
      * from the SOURCE (not the sink's already-transformed rows),
      * re-apply the transform, and publish it as one extra committed
      * epoch before live consumption resumes from the checkpoint.
      * Supported for every RE-READABLE source — FileSource re-reads the
      * directory; KafkaTopic re-reads the topic through the connector's
      * BATCH surface (`spark.read.format("kafka")`, startingOffsets
      * earliest — the broker's retention must still cover the window,
      * the same precondition the reference's KafkaSource rewind has) —
      * paired with the epoch-addressed sink that can atomically commit
      * the extra epoch (InDataOffsets); a no-op on first start (no
      * committed position to rewind from). Downstream must dedup —
      * see [[Sinks.InDataOffsetSink.readDeduped]]. */
    private def replayLookbackWindow(
        spark: SparkSession, src: Source, snk: Sink): Unit = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      (interval, src, snk) match {
        case (StreamInterval.Current, _, _) => ()
        case (iv, src2 @ (_: FileSource | _: KafkaTopic), InDataOffsets(dir)) =>
          val sink = new Sinks.InDataOffsetSink(dir)
          val maxId = sink.committedMaxBatchId(spark)
          if (maxId >= 0) {
            // raw SOURCE re-read in the event schema, per source type
            def rawSource(): DataFrame = src2 match {
              case FileSource(srcDir, _) =>
                spark.read.schema(EventSource.schema).parquet(srcDir)
              case kt: KafkaTopic =>
                kt.decode(spark.read.format(kt.format).options(kt.options)
                  .option("kafka.bootstrap.servers", kt.bootstrapServers)
                  .option("subscribe", kt.topic)
                  .option("startingOffsets", "earliest").load())
            }
            // Committed positions come from the TRANSFORMED sink rows but
            // select raw SOURCE records — the transform must therefore
            // preserve the position columns (event_type/event_id/ts), the
            // same invariant the reference imposes by keeping offsets on
            // every formatted record. Checked up front so a renaming
            // transform fails loudly at restart, not mid-plan. A partition
            // the transform filters out ENTIRELY has no committed
            // position and is deliberately not rewound (rewinding from
            // "nothing committed" is ill-defined).
            val committed = sink.read(spark)
            val missing = Seq("event_type", "event_id", "ts")
              .filterNot(committed.columns.contains(_))
            if (missing.nonEmpty) throw new IllegalStateException(
              s"lookback: committed data lacks position columns ${missing.mkString(", ")} " +
                "— the loader transform must preserve event_type/event_id/ts for rewind")
            // committed position per partition, from the data itself
            val pos = committed
              .groupBy(col("event_type"))
              .agg(max(col("event_id")).as("_end"), max(col("ts")).as("_wm"))
            val upToCommitted = rawSource()
              .join(broadcast(pos), Seq("event_type"))
              .filter(col("event_id") <= col("_end"))
            val window = iv match {
              case StreamInterval.OffsetRange(n) =>
                // last n committed records per partition = ascending
                // chunked rank > (per-partition count − n). Handles any
                // positive Long n with bounded memory (a top-n heap
                // would hold n rows per partition in RAM; a desc
                // row-number window keyed on the ~|partitions|-value
                // event_type would sort each partition's FULL committed
                // history in one task on every restart).
                val cnt = upToCommitted.groupBy(col("event_type").as("_ct"))
                  .agg(count(lit(1)).as("_n"))
                // Chunk sizing wants an APPROXIMATE row count (the autoWidth
                // contract is sizing, not semantics) — count the raw source
                // rather than executing the full committed-join pipeline once
                // per rewind restart: for files that is a metadata-only
                // parquet footer count (read in the event schema, so no
                // schema-inference job either); for kafka one batch count of
                // the topic (no footer shortcut exists — a restart-path cost).
                // The unfiltered count upper-bounds the committed count, so
                // chunks err wider, never narrower than optimal.
                val sizingRows = rawSource().count()
                graft.plans.ChunkedPrefix.rowNumber(upToCommitted,
                    keys = Seq("event_type"), order = Seq(col("event_id")),
                    chunk = graft.plans.ChunkedPrefix.idChunks(col("event_id"),
                      graft.plans.ChunkedPrefix.autoWidth(sizingRows)),
                    out = "_rn")
                  .join(broadcast(cnt), col("event_type") === col("_ct"))
                  .filter(col("_rn") > col("_n") - n)
              case StreamInterval.WatermarkRange(d) =>
                upToCommitted.filter(
                  col("ts") >= col("_wm") - expr(s"INTERVAL ${d.toMillis} MILLISECONDS"))
              case StreamInterval.Current => upToCommitted // unreachable
            }
            val replay = window.select(EventSource.schema.fieldNames.map(col(_)): _*)
            // mirror the LIVE pipeline exactly: quarantined rows were
            // diverted to the dead-letter table on first delivery, so the
            // replay must exclude them too — re-publishing them into the
            // main sink would let the rewind bypass the quarantine.
            // (Decode failures self-exclude via the positions join — all
            // their position columns are null — but a validation rule
            // over VALID positions, e.g. value < 0, reaches here.) They
            // are NOT re-dead-lettered: the quarantine table already
            // holds their first delivery.
            val clean = maybeQuarantine.fold(replay)(q => replay.filter(!q.bad))
            sink.writeReplayEpoch(transformFn(clean))
          }
        case (_, src2, other) =>
          throw new UnsupportedOperationException(
            "lookback requires a re-readable source (FileSource or " +
              "KafkaTopic) and the epoch-addressed InDataOffsets sink " +
              "(atomic replay epoch + in-data dedup keys); " +
              s"got source=$src2 sink=$other")
      }
    }
  }
}
