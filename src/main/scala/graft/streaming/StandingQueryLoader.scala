package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** End-to-end standing-query document loader (round 14) — the
  * [[VectorStoreLoader]] composition discipline (reference:
  * `core/StreamLoader.scala` — a loader IS a source wired through
  * transforms into a committing sink) applied to retrieval: document
  * ingest → [[Transforms.bm25Score]] under FROZEN corpus stats
  * ([[graft.operators.Retrieval.frozenStats]]) → a TWO-WAY split into
  * exactly-once snapshot tables — documents matching any standing query
  * at `minScore` land in a query_id-PARTITIONED quarantine table (a
  * reviewer's per-query read prunes at the PATH level), everything else
  * passes to the clean table.
  *
  * The production loop this closes: decontamination review at ingest.
  * Benchmark prompts register as standing queries once; from then on
  * every arriving document is scored record-locally and suspect docs
  * are quarantined for review BEFORE they can enter a training corpus —
  * the streaming enforcement of the `dd_decontaminate` /
  * `dd_decontaminate_drop` batch censuses, at retrieval granularity
  * (BM25 over the benchmark's terms) rather than n-gram overlap.
  *
  * Semantics: the split is a PARTITION of the input — a doc quarantines
  * exactly when some query scores it ≥ `minScore`, else it is clean;
  * no doc is dropped, no doc lands in both. A quarantined doc appears
  * ONCE PER MATCHING QUERY in the quarantine table (the reviewer's
  * unit of work is a (query, doc) pair, carrying that query's score).
  * Both sinks commit snapshots with replayed-epoch skip, so the split
  * is exactly-once end to end across checkpoint recovery.
  *
  * Scale shape: scoring is record-local (frozen stats are literals
  * bounded by the query budget); the only per-epoch non-local step is
  * the doc_id anti-join that derives the clean side — micro-batch
  * sized, never corpus-sized. StreamingSpec pins the split against the
  * batch scorer on the same corpus across multiple epochs, the
  * `query_id=` partition layout, and the no-doc-lost / no-doc-duplicated
  * conservation identity.
  */
object StandingQueryLoader {

  /** Start the loader: score `docs` (must carry `doc_id` and `text`)
    * against the standing `queries` under the frozen stats and commit
    * the quarantine/clean split. */
  def attach(docs: DataFrame, queries: Map[Long, Seq[String]],
      df: Map[String, Long], nDocs: Long, avgdl: Double, minScore: Double,
      cleanDir: String, quarantineDir: String,
      checkpointDir: String): StreamingQuery = {
    val quarantine = new SnapshotTableSink(quarantineDir,
      partitionCols = Seq("query_id"))
    val clean = new SnapshotTableSink(cleanDir)
    new EpochSink {
      def writeBatch(batch: DataFrame, epochId: Long): Unit = {
        batch.persist() // split consumers: quarantine + clean
        try {
          val hits = Transforms.bm25Score(batch, queries, df, nDocs, avgdl)
            .filter(col("score") >= minScore)
            .persist() // consumers: quarantine write + hit-id anti-join
          try {
            quarantine.writeBatch(hits, epochId)
            clean.writeBatch(
              batch.join(hits.select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_anti"), epochId)
          } finally hits.unpersist()
        } finally batch.unpersist()
      }
    }.attach(docs, checkpointDir)
  }

  /** A reviewer's queue for one standing query — read from the
    * quarantine table with a partition filter, so only that query's
    * `query_id=` directories are touched (path-level pruning). */
  def reviewQueue(spark: SparkSession, quarantineDir: String,
      queryId: Long): DataFrame = {
    new SnapshotTableSink(quarantineDir, partitionCols = Seq("query_id"))
      .read(spark).filter(col("query_id") === queryId)
  }

  /** The published clean corpus. */
  def cleanCorpus(spark: SparkSession, cleanDir: String): DataFrame =
    new SnapshotTableSink(cleanDir).read(spark)
}
