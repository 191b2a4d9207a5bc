package graft.operators

import graft.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-loader core semantics re-expressed as batch-checkable Spark plans
  * (SURVEY.md §2b). The `events` table models the stream: `event_type` is
  * the topic partition, `event_id` the offset, `ts` the event time.
  *
  * References (semantics only, no code reuse):
  *  - StreamPosition (offset, watermark): model/StreamPosition.scala:17
  *  - StreamRange merge: model/StreamRange.scala:28
  *  - monotonic watermark: source/WatermarkProvider.scala
  *  - committed-offset replay filtering: sink/batch/storage/RecordBatchStorage.scala
  *  - time partitioning: sink/file/TimePartitioningFilePathFormatter.scala
  *  - commit strategies: sink/file/FileCommitStrategy.scala:40 (ReachedAnyOf)
  *  - CSV encoding: sink/encoding/csv/CsvRecordEncoder.scala
  */
object StreamSemantics {

  type Q = (SparkSession, String) => DataFrame

  /** End StreamPosition per partition: (max offset, watermark = max event time). */
  def slPositions: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(max(col("event_id")).as("end_offset"), max(col("ts")).as("watermark"))
      .orderBy(col("event_type"))

  val slPositionsSql: String =
    """SELECT event_type, max(event_id) AS end_offset, max(ts)::TIMESTAMP AS watermark
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Merged consumed range per partition: start/end offsets with the
    * watermark at each boundary (StreamRange.merge over the whole stream). */
  def slRangeMerge: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        min(col("event_id")).as("start_offset"),
        max(col("event_id")).as("end_offset"),
        min_by(col("ts"), col("event_id")).as("start_watermark"),
        max(col("ts")).as("end_watermark"),
        count(lit(1)).as("n_records"))
      .orderBy(col("event_type"))

  val slRangeMergeSql: String =
    """SELECT event_type, min(event_id) AS start_offset, max(event_id) AS end_offset,
      |  arg_min(ts, event_id)::TIMESTAMP AS start_watermark,
      |  max(ts)::TIMESTAMP AS end_watermark, count(*) AS n_records
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin


  /** Offset-chunk id for the chunked prefix ports below: width auto-
    * sizes to √N (ChunkedPrefix.autoWidth) so the local windows AND the
    * per-partition carry window both stay ~√N rows at any corpus size;
    * the sizing count is a filter-free parquet footer read. */
  private def offsetChunks(s: SparkSession, d: String) =
    graft.plans.ChunkedPrefix.idChunks(col("event_id"),
      graft.plans.ChunkedPrefix.autoWidth(Tables.events(s, d).count()))

  /** Monotonic running watermark per partition (max event time seen so far,
    * in offset order) — WatermarkProvider semantics, per record.
    *
    * Scale: a [[graft.plans.ChunkedPrefix]] two-phase prefix max over
    * (partition, offset-chunk) — the single-consumer running max the
    * reference computes incrementally decomposes associatively, so no
    * window partition ever holds corpus/|partitions| rows (the r6 plan's
    * `Window.partitionBy(event_type)` did exactly that). */
  def slWatermark: Q = (s, d) => {
    import graft.plans.ChunkedPrefix
    ChunkedPrefix.runningMax(
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts")),
        keys = Seq("event_type"), order = Seq(col("event_id")),
        chunk = offsetChunks(s, d),
        value = col("ts"), out = "watermark", inclusive = true)
      .select(col("event_id"), col("event_type"), col("ts"), col("watermark"))
      .orderBy(col("event_id"))
  }

  val slWatermarkSql: String =
    """SELECT event_id, event_type, ts::TIMESTAMP AS ts,
      |  (max(ts) OVER (PARTITION BY event_type ORDER BY event_id))::TIMESTAMP AS watermark
      |FROM events ORDER BY event_id""".stripMargin

  /** Exactly-once replay: given committed positions (the max offset among
    * records with event time before the cutoff, per partition), keep only
    * records strictly past the committed offset and summarize what would
    * be (re)loaded. Partitions with nothing committed replay from start. */
  def slReplayFilter: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val committed = ev
      .filter(col("ts") < lit("2024-01-15").cast("timestamp"))
      .groupBy(col("event_type").as("p"))
      .agg(max(col("event_id")).as("committed_offset"))
    ev.join(broadcast(committed), col("event_type") === col("p"), "left")
      .filter(col("event_id") > coalesce(col("committed_offset"), lit(-1L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"),
        min(col("event_id")).as("first_offset"),
        max(col("event_id")).as("last_offset"))
      .orderBy(col("event_type"))
  }

  val slReplayFilterSql: String =
    """WITH committed AS (
      |  SELECT event_type AS p, max(event_id) AS committed_offset
      |  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY event_type)
      |SELECT event_type, count(*) AS n_new, min(event_id) AS first_offset,
      |  max(event_id) AS last_offset
      |FROM events LEFT JOIN committed ON event_type = p
      |WHERE event_id > coalesce(committed_offset, -1)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** StreamInterval lookback (model/StreamInterval.scala:26,33 —
    * OffsetRange(n) / WatermarkRange(duration)): on restart the reference
    * can rewind consumption from the committed position by N records or
    * by a duration. Per partition: the committed position (max offset /
    * watermark before the cutoff), the offset-rewind window (last 100
    * committed records) and the duration-rewind window (committed records
    * within 2 days of the watermark) — start offset and size of each.
    *
    * Scale (r7 rewrite): the r6 plan rode one exchange but ordered each
    * stream partition's FULL committed history through a
    * `row_number over (partition by event_type order by event_id desc)`
    * — with ~5 partitions that is corpus/5 rows sorted in one
    * unsplittable WindowExec task (the ev_late_data hazard class). Now:
    * the narrow committed frame is localCheckpoint-pinned once; the
    * last-100 window comes from [[graft.plans.TopKPerGroup]] (two-phase
    * bounded heaps, O(k·partitions) shuffle, no sort of the history);
    * the duration window re-aggregates the pinned frame against the
    * broadcast |partitions|-row watermark table. Three passes over the
    * pinned 3-column frame replace the serial sort. */
  def slLookback: Q = (s, d) => {
    val committed = Tables.events(s, d)
      .filter(col("ts") < lit("2024-01-15").cast("timestamp"))
      .select(col("event_type"), col("event_id"), col("ts"))
      .localCheckpoint()
    val stats = committed.groupBy(col("event_type"))
      .agg(max(col("event_id")).as("committed_offset"),
        max(col("ts")).as("committed_watermark"))
    val top = graft.plans.TopKPerGroup.transform(committed,
        Seq(col("event_type")), Seq(col("event_id").desc), 100)
      .groupBy(col("event_type"))
      .agg(min(col("event_id")).as("offset_rewind_start"),
        count(lit(1)).as("offset_rewind_n"))
    val dur = committed
      .join(broadcast(stats.select(col("event_type"),
        col("committed_watermark").as("wm"))), "event_type")
      .filter(col("ts") >= col("wm") - expr("INTERVAL 2 DAYS"))
      .groupBy(col("event_type"))
      .agg(min(col("event_id")).as("duration_rewind_start"),
        count(lit(1)).as("duration_rewind_n"))
    stats.join(top, "event_type").join(dur, "event_type")
      .select(col("event_type"), col("committed_offset"),
        col("committed_watermark"), col("offset_rewind_start"),
        col("offset_rewind_n"), col("duration_rewind_start"),
        col("duration_rewind_n"))
      .orderBy(col("event_type"))
  }

  val slLookbackSql: String =
    """WITH committed AS (
      |  SELECT event_type, event_id, ts FROM events WHERE ts < TIMESTAMP '2024-01-15'),
      |numbered AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS rn
      |  FROM committed),
      |stats AS (
      |  SELECT event_type, max(event_id) AS committed_offset,
      |    max(ts)::TIMESTAMP AS committed_watermark,
      |    min(CASE WHEN rn <= 100 THEN event_id END) AS offset_rewind_start,
      |    count(CASE WHEN rn <= 100 THEN 1 END) AS offset_rewind_n
      |  FROM numbered GROUP BY event_type),
      |dur AS (
      |  SELECT c.event_type, min(c.event_id) AS duration_rewind_start,
      |    count(*) AS duration_rewind_n
      |  FROM committed c JOIN stats s ON c.event_type = s.event_type
      |  WHERE c.ts::TIMESTAMP >= s.committed_watermark - INTERVAL 2 DAY
      |  GROUP BY c.event_type)
      |SELECT s.event_type, s.committed_offset, s.committed_watermark,
      |  s.offset_rewind_start, s.offset_rewind_n,
      |  d.duration_rewind_start, d.duration_rewind_n
      |FROM stats s JOIN dur d USING (event_type) ORDER BY event_type""".stripMargin

  /** Time partitioning: route each record to its `dt=yyyyMMdd` path and
    * report per-(path, partition) file stats. */
  def slTimePartition: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("path", concat(lit("dt="), date_format(col("ts"), "yyyyMMdd")))
      .groupBy(col("path"), col("event_type"))
      .agg(count(lit(1)).as("n_records"),
        min(col("event_id")).as("min_offset"),
        max(col("event_id")).as("max_offset"))
      .orderBy(col("path"), col("event_type"))

  val slTimePartitionSql: String =
    """SELECT 'dt=' || strftime(ts::TIMESTAMP, '%Y%m%d') AS path, event_type,
      |  count(*) AS n_records, min(event_id) AS min_offset, max(event_id) AS max_offset
      |FROM events GROUP BY 1, 2 ORDER BY path, event_type""".stripMargin

  /** Record-count commit strategy (ReachedAnyOf(recordsWritten=1000)):
    * assign each record to its batch within the partition and emit one row
    * per committed batch with its range and watermark. */
  def slBatchAssign: Q = (s, d) => {
    import graft.plans.ChunkedPrefix
    // Two-phase chunked row number (see slWatermark): local rank within
    // rate-bounded (partition, offset-chunk) windows + carried counts.
    ChunkedPrefix.rowNumber(
        Tables.events(s, d),
        keys = Seq("event_type"), order = Seq(col("event_id")),
        chunk = offsetChunks(s, d), out = "rn")
      .withColumn("batch_id", floor((col("rn") - 1) / 1000))
      .groupBy(col("event_type"), col("batch_id"))
      .agg(count(lit(1)).as("n_records"),
        min(col("event_id")).as("start_offset"),
        max(col("event_id")).as("end_offset"),
        max(col("ts")).as("watermark"))
      .orderBy(col("event_type"), col("batch_id"))
  }

  val slBatchAssignSql: String =
    """WITH numbered AS (
      |  SELECT event_type, event_id, ts,
      |    (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 1000 AS batch_id
      |  FROM events)
      |SELECT event_type, batch_id, count(*) AS n_records,
      |  min(event_id) AS start_offset, max(event_id) AS end_offset,
      |  max(ts)::TIMESTAMP AS watermark
      |FROM numbered GROUP BY event_type, batch_id ORDER BY event_type, batch_id""".stripMargin

  /** Byte-size commit strategy: quantize the cumulative encoded size per
    * partition into 64 KiB byte-budget batches (deterministic proxy for
    * ReachedAnyOf(fileSize=64k)). */
  def slByteBatches: Q = (s, d) => {
    import graft.plans.ChunkedPrefix
    val line = concat_ws(",",
      col("event_id").cast("string"), col("user_id").cast("string"),
      col("event_type"), unix_millis(col("ts")).cast("string"), col("props"))
    // Two-phase chunked exclusive prefix sum (see slWatermark): the
    // cumulative byte budget carries across offset-chunks via the
    // metadata-sized summary frame.
    ChunkedPrefix.runningSum(
        Tables.events(s, d).withColumn("nbytes", octet_length(line)),
        keys = Seq("event_type"), order = Seq(col("event_id")),
        chunk = offsetChunks(s, d),
        value = col("nbytes"), out = "cum_prev", inclusive = false)
      .withColumn("batch_id", floor(col("cum_prev") / 65536))
      .groupBy(col("event_type"), col("batch_id"))
      .agg(count(lit(1)).as("n_records"), sum(col("nbytes")).as("n_bytes"),
        min(col("event_id")).as("start_offset"), max(col("event_id")).as("end_offset"))
      .orderBy(col("event_type"), col("batch_id"))
  }

  val slByteBatchesSql: String =
    """WITH enc AS (
      |  SELECT event_type, event_id,
      |    strlen(concat_ws(',', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
      |      event_type, CAST(epoch_ms(ts::TIMESTAMP) AS VARCHAR), props)) AS nbytes
      |  FROM events),
      |cum AS (
      |  SELECT event_type, event_id, nbytes,
      |    (sum(nbytes) OVER (PARTITION BY event_type ORDER BY event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nbytes) // 65536 AS batch_id
      |  FROM enc)
      |SELECT event_type, CAST(batch_id AS BIGINT) AS batch_id, count(*) AS n_records,
      |  CAST(sum(nbytes) AS BIGINT) AS n_bytes,
      |  min(event_id) AS start_offset, max(event_id) AS end_offset
      |FROM cum GROUP BY event_type, batch_id ORDER BY event_type, batch_id""".stripMargin

  /** CSV record encoding with RFC-4180-style quoting of the free-form
    * payload column (CsvRecordEncoder semantics, codegen'd concat). */
  def slCsvEncode: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("line", concat_ws(",",
        col("event_id").cast("string"),
        col("user_id").cast("string"),
        col("event_type"),
        unix_millis(col("ts")).cast("string"),
        concat(lit("\""), regexp_replace(coalesce(col("props"), lit("")), "\"", "\"\""), lit("\""))))
      .select(col("event_id"), col("line"), md5(col("line").cast("binary")).as("line_md5"))
      .orderBy(col("event_id"))

  val slCsvEncodeSql: String =
    """SELECT event_id,
      |  concat_ws(',', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type,
      |    CAST(epoch_ms(ts::TIMESTAMP) AS VARCHAR),
      |    '"' || replace(coalesce(props, ''), '"', '""') || '"') AS line,
      |  md5(concat_ws(',', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), event_type,
      |    CAST(epoch_ms(ts::TIMESTAMP) AS VARCHAR),
      |    '"' || replace(coalesce(props, ''), '"', '""') || '"')) AS line_md5
      |FROM events ORDER BY event_id""".stripMargin

  /** Payload parsing (RecordFormatter): extract the numeric `k` field from
    * the JSON props and aggregate it per partition. */
  def slJsonProps: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(-?\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_parsed"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        // integral sum / count: identical quotient doubles in both
        // engines; floor idiom pins the rounding (Exact idiom 2)
        Exact.floorRound(sum(col("k")).cast("double") / count(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  val slJsonPropsSql: String =
    """SELECT event_type, count(k) AS n_parsed, min(k) AS min_k, max(k) AS max_k,
      |  floor((sum(k)::DOUBLE / count(k)) * 10000 + 0.5) / 10000 AS avg_k
      |FROM (SELECT event_type,
      |        TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ClickHouse-RowBinary-style binary record encoding (rows-only check;
    * byte-level vectors are pinned in RowBinarySpec — binary output is not
    * expressible in the SQL oracle). */
  def slRowbinary: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_id"),
        hex(GraftFunctions.call("graft_rowbinary",
          struct(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), col("value")))).as("rowbinary_hex"))
      .orderBy(col("event_id"))
  }

  /** Offset-gap detection (loader monitoring): find missing offsets per
    * partition — places where consecutive consumed offsets differ by more
    * than the partition stride (events are round-robin across 5 types, so
    * the in-partition stride varies; a "gap" here means an unusually large
    * jump, > 2× the median stride proxy of 15). */
  def slGapDetect: Q = (s, d) => {
    import graft.plans.ChunkedPrefix
    // Two-phase chunked lag (see slWatermark): the previous offset at a
    // chunk boundary is the preceding chunk's max offset, carried on the
    // metadata-sized summary frame.
    ChunkedPrefix.lagValue(
        Tables.events(s, d).select(col("event_type"), col("event_id")),
        keys = Seq("event_type"), order = Seq(col("event_id")),
        chunk = offsetChunks(s, d),
        value = col("event_id"), out = "prev_id")
      .filter(col("prev_id").isNotNull && col("event_id") - col("prev_id") > 15)
      .select(col("event_type"), col("prev_id").as("gap_start"),
        col("event_id").as("gap_end"),
        (col("event_id") - col("prev_id") - 1).as("missing"))
      .orderBy(col("event_type"), col("gap_start"))
  }

  val slGapDetectSql: String =
    """WITH g AS (
      |  SELECT event_type, event_id,
      |    lag(event_id, 1) OVER (PARTITION BY event_type ORDER BY event_id) AS prev_id
      |  FROM events)
      |SELECT event_type, prev_id AS gap_start, event_id AS gap_end,
      |  event_id - prev_id - 1 AS missing
      |FROM g WHERE prev_id IS NOT NULL AND event_id - prev_id > 15
      |ORDER BY event_type, gap_start""".stripMargin

  /** Upsert materialization (loader CDC view): the newest event per user
    * — the same latest-row-per-key contract SnapshotTableSink.readLatest
    * serves over committed epochs, expressed over the raw table so the
    * oracle can check it. Version order is (ts, event_id): event_id is
    * unique, so the winner is total-ordered and cross-engine stable. One
    * keyed shuffle; rank-1 filter prunes before the final sort. */
  def slUpsert: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"), col("event_id").as("last_event_id"))
      .orderBy(col("user_id"))
  }

  val slUpsertSql: String =
    """WITH r AS (
      |  SELECT user_id, ts, event_type, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, ts AS last_ts, event_type AS last_type, event_id AS last_event_id
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Protobuf wire-format round-trip (ProtoParquetFileBuilder analog):
    * encode each record as a proto message (graft_proto), decode it back
    * (graft_proto_decode), and emit the decoded fields. The oracle is
    * plain SQL identity over the same projection — a hash match proves
    * encode∘decode = id on real data; byte-level golden vectors for the
    * encoding itself are pinned in ProtoWireSpec. */
  def slProto: Q = (s, d) => {
    Tables.events(s, d)
      .select(GraftFunctions.call("graft_proto",
        struct(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"), col("props"))).as("pb"))
      .select(GraftFunctions.call("graft_proto_decode", col("pb"),
        lit("event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE, props STRING")).as("rec"))
      .select(col("rec.event_id").as("event_id"), col("rec.user_id").as("user_id"),
        col("rec.event_type").as("event_type"), col("rec.ts").as("ts"),
        col("rec.value").as("value"), col("rec.props").as("props"))
      .orderBy(col("event_id"))
  }

  val slProtoSql: String =
    """SELECT event_id, user_id, event_type, ts::TIMESTAMP AS ts, value, props
      |FROM events ORDER BY event_id""".stripMargin

  /** Incremental aggregate maintenance — the algebraic contract every
    * epoch-committed sink relies on: merging the PARTIAL aggregate of a
    * committed snapshot with the partial aggregate of a newly arrived
    * delta must equal re-aggregating from scratch,
    * `merge(partial(A), partial(B)) = partial(A ∪ B)`. The operator
    * splits the stream deterministically (event_id % 10 = 0 plays the
    * delta batch), aggregates each side separately, merges by
    * full-outer combine (counts add, exact-decimal sums add, min/max
    * fold null-safely, the mean DERIVES from merged sum/count — never
    * averaged across sides), and the oracle recomputes the whole table
    * directly: a hash match IS the maintenance identity, checked on
    * real data. At 100 TB the snapshot side is already materialized
    * state (epochs of it) and only the delta is scanned — this is why a
    * loader stores partial aggregates (sum, count) and never finalized
    * means: means do not merge. */
  def slIncrAgg: Q = (s, d) => {
    def partial(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Exact.dec2(col("value"))).as("sv"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val ev = Tables.events(s, d)
    val snap = partial(ev.filter(pmod(col("event_id"), lit(10)) =!= 0))
      .select(col("event_type"), col("n").as("n1"), col("sv").as("sv1"),
        col("mn").as("mn1"), col("mx").as("mx1"))
    val delta = partial(ev.filter(pmod(col("event_id"), lit(10)) === 0))
      .select(col("event_type"), col("n").as("n2"), col("sv").as("sv2"),
        col("mn").as("mn2"), col("mx").as("mx2"))
    snap.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_events"),
        (coalesce(col("sv1"), lit(0).cast("decimal(22,2)")) +
          coalesce(col("sv2"), lit(0).cast("decimal(22,2)"))).as("sv"),
        least(col("mn1"), col("mn2")).as("first_ts"),  // least/greatest skip nulls
        greatest(col("mx1"), col("mx2")).as("last_ts"))
      .select(col("event_type"), col("n_events"),
        round(col("sv"), 2).cast("double").as("total_value"),
        Exact.floorRound(col("sv").cast("double") / col("n_events"), 4).as("avg_value"),
        col("first_ts"), col("last_ts"))
      .orderBy(col("event_type"))
  }

  val slIncrAggSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value::DECIMAL(12,2)), 2)::DOUBLE AS total_value,
      |  floor(sum(value::DECIMAL(12,2))::DOUBLE / count(*) * 1e4 + 0.5) / 1e4 AS avg_value,
      |  min(ts::TIMESTAMP) AS first_ts, max(ts::TIMESTAMP) AS last_ts
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def queries: Map[String, Q] = Map(
    "sl_incr_agg" -> slIncrAgg,
    "sl_proto" -> slProto,
    "sl_upsert" -> slUpsert,
    "sl_gap_detect" -> slGapDetect,
    "sl_rowbinary" -> slRowbinary,
    "sl_positions" -> slPositions,
    "sl_range_merge" -> slRangeMerge,
    "sl_watermark" -> slWatermark,
    "sl_replay_filter" -> slReplayFilter,
    "sl_lookback" -> slLookback,
    "sl_time_partition" -> slTimePartition,
    "sl_batch_assign" -> slBatchAssign,
    "sl_byte_batches" -> slByteBatches,
    "sl_csv_encode" -> slCsvEncode,
    "sl_json_props" -> slJsonProps)

  def oracleSql: Map[String, String] = Map(
    "sl_incr_agg" -> slIncrAggSql,
    "sl_proto" -> slProtoSql,
    "sl_upsert" -> slUpsertSql,
    "sl_gap_detect" -> slGapDetectSql,
    "sl_positions" -> slPositionsSql,
    "sl_range_merge" -> slRangeMergeSql,
    "sl_watermark" -> slWatermarkSql,
    "sl_replay_filter" -> slReplayFilterSql,
    "sl_lookback" -> slLookbackSql,
    "sl_time_partition" -> slTimePartitionSql,
    "sl_batch_assign" -> slBatchAssignSql,
    "sl_byte_batches" -> slByteBatchesSql,
    "sl_csv_encode" -> slCsvEncodeSql,
    "sl_json_props" -> slJsonPropsSql)
}
