package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Iceberg-style snapshot table sink (reference:
  * iceberg/IcebergRecordBatchStorage.scala — offsets committed atomically
  * with the data in table snapshot metadata).
  *
  * Every epoch appends data files and publishes a new snapshot JSON that
  * records its parent, the cumulative committed epoch ids and the consumed
  * offset ranges; `LATEST` is switched by atomic rename. Recovery reads
  * the latest snapshot: an epoch already in `committed` is a replay and is
  * skipped — exactly-once without an external commit log, at any
  * partition count (data-file writes scale out; only the tiny snapshot
  * JSON is driver-side, exactly like Iceberg metadata).
  *
  * Beyond the append log: [[readLatest]] serves the CDC latest-row-per-
  * key view, and [[compactLatest]] materializes it — folding all live
  * dirs into one `compact=N` dir while the committed epoch-id list (the
  * replay guard) is preserved verbatim, so compaction can never re-admit
  * a stale epoch. Snapshots track data dirs (`live`) separately from the
  * guard for exactly this reason.
  */
/** @param partitionCols optional Hive-style partition columns for the
  *   epoch data dirs (round 14): a vector-store table partitioned by
  *   its IVF `cell` turns every probe's cell filter into PATH-level
  *   pruning — a nprobe=4 probe reads 4/K of the index files instead
  *   of scanning every epoch. Orthogonal to the snapshot protocol
  *   (dirs, commits and replay guards are untouched; parquet partition
  *   discovery restores the column on read). */
class SnapshotTableSink(tableDir: String,
    partitionCols: Seq[String] = Nil) extends Serializable {

  def attach(events: DataFrame, checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(writeBatch _)
      .start()

  private def fs(spark: SparkSession) =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Full snapshot record: `committed` is the REPLAY GUARD (every epoch
    * id ever written — grows forever, a few bytes each), `live` the data
    * dirs a read of this snapshot scans. They coincide until a
    * compaction folds history into one `compact=N` dir; separating them
    * is what lets compaction rewrite data without ever forgetting an
    * epoch id (a forgotten id would let a stale replay re-append). */
  private case class Snap(id: Long, committed: Seq[Long], live: Seq[String])

  private def parseSnapshot(content: String): Snap = {
    val idRe = """"snapshot_id":\s*(-?\d+)""".r
    val committedRe = """"committed":\s*\[([^\]]*)\]""".r
    val liveRe = """"live":\s*\[([^\]]*)\]""".r
    val id = idRe.findFirstMatchIn(content).map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed snapshot: $content"))
    val committed = committedRe.findFirstMatchIn(content).map(_.group(1))
      .getOrElse(sys.error(s"malformed snapshot: $content"))
      .split(",").filter(_.trim.nonEmpty).map(_.trim.toLong).toSeq
    // pre-compaction snapshots carry no live list: their data dirs are
    // exactly their committed epochs
    val live = liveRe.findFirstMatchIn(content).map(_.group(1)) match {
      case Some(s) => s.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
      case None => committed.map(id => s"batch=$id")
    }
    Snap(id, committed, live)
  }

  private def readFile(spark: SparkSession, p: Path): String = {
    val in = fs(spark).open(p)
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  /** (snapshotId, cumulative committed epoch ids) of the latest snapshot. */
  def currentSnapshot(spark: SparkSession): Option[(Long, Seq[Long])] =
    latestSnap(spark).map(s => (s.id, s.committed))

  private def latestSnap(spark: SparkSession): Option[Snap] = {
    val f = fs(spark)
    val latest = new Path(tableDir, "_snapshots/LATEST")
    if (f.exists(latest)) Some(parseSnapshot(readFile(spark, latest)))
    else {
      // The LATEST pointer switch is delete + rename (rename cannot
      // overwrite on most Hadoop filesystems), so a crash inside that
      // window leaves no pointer but every numbered snapshot intact.
      // Recover from the max-numbered snapshot instead of treating the
      // table as empty — an "empty" answer here would restart snapshot
      // ids at 0, orphan the entire committed history, and let
      // vacuumOrphans delete it.
      val snapDir = new Path(tableDir, "_snapshots")
      if (!f.exists(snapDir)) None
      else {
        val ids = f.listStatus(snapDir).toSeq
          .map(_.getPath.getName)
          .filter(_.endsWith(".json"))
          .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
        if (ids.isEmpty) None
        else Some(parseSnapshot(readFile(spark, new Path(snapDir, s"${ids.max}.json"))))
      }
    }
  }

  private def readDirs(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => s"$tableDir/data/$d")
    // mergeSchema: epochs written under an evolved schema (added columns)
    // read back as the union schema with nulls for pre-evolution rows —
    // the versioned-encoder treatment InDataOffsetSink.read already
    // applies; without it parquet takes one file's schema and silently
    // DROPS the other epochs' new columns
    if (paths.isEmpty) spark.emptyDataFrame
    else if (partitionCols.isEmpty)
      spark.read.option("mergeSchema", "true").parquet(paths: _*)
    else {
      // partitioned epochs read PER DIR: a multi-path read would try to
      // discover one partition layout across batch=/compact= roots and
      // throw CONFLICTING_DIRECTORY_STRUCTURES; per-dir discovery
      // restores the partition columns, and unionByName with missing
      // columns gives evolved epochs the same null-fill treatment
      // mergeSchema gives unpartitioned ones (an empty epoch writes an
      // unpartitioned schema-only file — its missing partition column
      // null-fills over zero rows)
      val merged = paths
        .map(p => spark.read.option("mergeSchema", "true").parquet(p))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      // restore the WRITTEN partition-column types (round 15, r14
      // advice): partition discovery re-infers types from directory
      // names (a BIGINT `cell` written as cell=3 reads back INT), so
      // the published table's schema would silently change across the
      // write/read round-trip; the writer records the pre-write DDL in
      // the PART_TYPES sidecar and every read path casts the discovered
      // column back through it
      readPartTypes(spark).foldLeft(merged) { case (df, (c, ddl)) =>
        if (df.columns.contains(c)) df.withColumn(c, col(c).cast(ddl)) else df
      }
    }
  }

  /** The recorded partition-column DDL types (name → ddl), empty when no
    * writer has published them (pre-round-15 tables keep the old
    * inferred-type behavior — no silent cast against unknown intent). */
  private def readPartTypes(spark: SparkSession): Seq[(String, String)] = {
    val p = new Path(tableDir, "_snapshots/PART_TYPES")
    if (!fs(spark).exists(p)) Seq.empty
    else readFile(spark, p).linesIterator.toSeq
      .map(_.split("\t", 2)).collect { case Array(n, ddl) => (n, ddl) }
  }

  /** Publish the partition columns' pre-write DDL types. Overwrite-last-
    * wins: an evolved writer's types supersede (the union read coerces
    * older epochs' discovered values before the cast). Tiny and
    * idempotent — same discipline as the snapshot JSONs. */
  private def writePartTypes(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val lines = partitionCols.flatMap(c =>
      schema.find(_.name == c).map(f => s"$c\t${f.dataType.sql}"))
    if (lines.nonEmpty) {
      val f = fs(spark)
      f.mkdirs(new Path(tableDir, "_snapshots"))
      val out = f.create(new Path(tableDir, "_snapshots/PART_TYPES"), true)
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    }
  }

  /** Read the table as of the latest snapshot (only committed files). */
  def read(spark: SparkSession): DataFrame =
    readDirs(spark, latestSnap(spark).map(_.live).getOrElse(Seq.empty))

  /** Time travel: read the table as of snapshot `snapshotId` — each
    * snapshot records its full cumulative committed set, so any retained
    * snapshot reconstructs its exact table state (Iceberg
    * `VERSION AS OF`). Throws if the snapshot has been expired. */
  def readAsOf(spark: SparkSession, snapshotId: Long): DataFrame = {
    val p = new Path(tableDir, s"_snapshots/$snapshotId.json")
    require(fs(spark).exists(p),
      s"snapshot $snapshotId does not exist (expired or never committed)")
    readDirs(spark, parseSnapshot(readFile(spark, p)).live)
  }

  /** Upsert view: the newest row per key, ranked by `versionCol` — the
    * CDC "latest state" read over an append-only change log. CONTRACT:
    * `versionCol` must be unique per key (a sequence number or exact
    * event time); a version tie has no defined winner. One keyed
    * shuffle; at scale the window is the same exchange a downstream
    * dedup would pay anyway, and [[compactLatest]] materializes it away
    * for repeat readers. */
  def readLatest(spark: SparkSession, keyCols: Seq[String],
      versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "readLatest needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    read(spark).withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
  }

  /** Incremental (append-only) scan: exactly the records committed AFTER
    * snapshot `fromSnapshotId`, up to and including snapshot
    * `toSnapshotId` — the Iceberg incremental-read contract that lets a
    * downstream job process ONLY new data since its last run instead of
    * rescanning the table. Because every snapshot records its FULL
    * cumulative committed set, the increment is a pure set difference of
    * two metadata files; no data-file bookkeeping, and the read plan
    * touches only the new epochs' directories (partition-pruned at the
    * path level — at 100 TB the scan cost is the increment's size, not
    * the table's). Both snapshots must still be retained. */
  def readChangesBetween(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId must be <= toSnapshotId $toSnapshotId")
    def committed(id: Long): Seq[Long] = {
      val p = new Path(tableDir, s"_snapshots/$id.json")
      require(fs(spark).exists(p),
        s"snapshot $id does not exist (expired or never committed)")
      parseSnapshot(readFile(spark, p)).committed
    }
    val from = committed(fromSnapshotId).toSet
    val to = committed(toSnapshotId)
    // cumulativity invariant: a later snapshot's set contains every
    // earlier one's — a violated invariant means corrupted metadata, and
    // silently diffing it would misreport the increment
    val missing = from -- to.toSet
    require(missing.isEmpty,
      s"snapshot $toSnapshotId is missing epochs ${missing.toSeq.sorted.mkString(",")} " +
        s"committed in $fromSnapshotId — corrupted snapshot metadata")
    val inc = to.filterNot(from)
    // a compaction folds epoch dirs away: an increment that spans one
    // must fail loudly rather than resurface as a partial read
    val f = fs(spark)
    val gone = inc.filterNot(id => f.exists(new Path(tableDir, s"data/batch=$id")))
    require(gone.isEmpty,
      s"epochs ${gone.mkString(",")} were compacted away — incremental " +
        "readers must consume before compaction passes their range " +
        "(read the compacted table instead)")
    readDirs(spark, inc.map(id => s"batch=$id"))
  }

  /** [[readChangesBetween]] from `fromSnapshotId` to the CURRENT
    * snapshot — the common "what's new since my last run" call. Empty
    * frame when nothing new was committed. */
  def readChangesSince(spark: SparkSession, fromSnapshotId: Long): DataFrame =
    currentSnapshot(spark) match {
      case Some((cur, _)) => readChangesBetween(spark, fromSnapshotId, cur)
      case None => spark.emptyDataFrame
    }

  /** Retire snapshot metadata older than the newest `keepLast` (the
    * Iceberg expire-snapshots maintenance op). Data files are never
    * touched: committed sets are cumulative, so every retained snapshot
    * still resolves. Returns the expired snapshot ids. */
  def expireSnapshots(spark: SparkSession, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val f = fs(spark)
    currentSnapshot(spark) match {
      case None => Seq.empty
      case Some((latestId, _)) =>
        // one listStatus, not an exists() probe per historical id — a
        // long-lived table has committed millions of epochs and most are
        // already expired
        val expired = f.listStatus(new Path(tableDir, "_snapshots")).toSeq
          .flatMap(st => st.getPath.getName.stripSuffix(".json").toLongOption
            .filter(_ => st.getPath.getName.endsWith(".json")))
          .filter(_ <= latestId - keepLast)
          .sorted
        expired.foreach(id => f.delete(new Path(tableDir, s"_snapshots/$id.json"), false))
        expired
    }
  }

  /** Delete orphan data directories — `batch=N` dirs not in the latest
    * snapshot's committed set, i.e. epochs that crashed after their data
    * write but before the snapshot publish. Safe concurrently with
    * readers (they resolve paths from committed sets only) but NOT with
    * a writer mid-epoch, whose in-flight dir looks orphaned until its
    * snapshot publishes — the same discipline as Iceberg's
    * remove-orphan-files. Returns the deleted paths. */
  def vacuumOrphans(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    val dataDir = new Path(tableDir, "data")
    if (!f.exists(dataDir)) return Seq.empty
    // a dir is live if ANY retained snapshot's live set references it —
    // the union keeps time travel to every unexpired snapshot working
    // even after a compaction supersedes old epoch dirs (they become
    // vacuumable only once the pre-compaction snapshots expire)
    val snapDir = new Path(tableDir, "_snapshots")
    val live: Set[String] =
      if (!f.exists(snapDir)) Set.empty
      else f.listStatus(snapDir).toSeq
        .map(_.getPath)
        .filter(p => p.getName.endsWith(".json") &&
          p.getName.stripSuffix(".json").toLongOption.isDefined)
        .flatMap(p => parseSnapshot(readFile(spark, p)).live)
        .toSet
    val orphans = f.listStatus(dataDir).toSeq
      .filter(_.isDirectory)
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith("batch=") || n.startsWith("compact=")) && !live.contains(n)
      }
    orphans.foreach(st => f.delete(st.getPath, true))
    orphans.map(_.getPath.toString)
  }

  def writeBatch(batchRaw: DataFrame, batchId: Long): Unit = {
    val spark = batchRaw.sparkSession
    val prev = latestSnap(spark)
    if (prev.exists(_.committed.contains(batchId))) return // replayed epoch
    // cache: the write and the ranges agg would otherwise each re-read the source
    val batch = batchRaw.persist()
    val ranges = try {
      // data files (distributed write; optionally cell/partition-pruned).
      // An EMPTY epoch writes unpartitioned: partitionBy of zero rows
      // emits no files at all and the dir becomes unreadable (schema
      // inference fails); the unpartitioned empty write keeps a
      // schema-bearing file, and readDirs null-fills the partition column
      val w = batch.write.mode("overwrite")
      if (partitionCols.nonEmpty) writePartTypes(spark, batch.schema)
      (if (partitionCols.nonEmpty && !batch.isEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$tableDir/data/batch=$batchId")
      // consumed ranges recorded with the commit (StreamRange analog); the
      // range endpoints come from event_id when the schema carries one —
      // the sink itself is schema-agnostic, so other tables get rows-only
      val hasEventId = batch.columns.contains("event_id")
      val loHi =
        if (hasEventId) Seq(min(col("event_id")), max(col("event_id")))
        else Seq(lit(null), lit(null))
      batch.agg(loHi.head, (loHi.tail :+ count(lit(1))): _*).collect()(0)
    } finally batch.unpersist()
    val committed = prev.map(_.committed).getOrElse(Seq.empty) :+ batchId
    val live = prev.map(_.live).getOrElse(Seq.empty) :+ s"batch=$batchId"
    publishSnapshot(spark,
      Snap(prev.map(_.id + 1).getOrElse(0L), committed, live),
      parent = prev.map(_.id).getOrElse(-1L), epoch = batchId,
      rangeJson = s"""{"lo": ${ranges.get(0)}, "hi": ${ranges.get(1)}, "rows": ${ranges.get(2)}}""")
  }

  /** Materialize the [[readLatest]] view: fold every live data dir into
    * ONE `compact=<id>` dir holding only the newest row per key, and
    * publish a snapshot whose live set is just that dir. The committed
    * epoch-id list is carried over UNCHANGED, so a stale replay of any
    * folded epoch still skips; pre-compaction snapshots keep resolving
    * (their dirs stay until those snapshots expire and a vacuum runs).
    * After this, `read` returns the latest-state table and incremental
    * reads across the folded range fail loudly.
    *
    * NOT concurrent-safe with a writer mid-epoch (same discipline as
    * [[vacuumOrphans]]); run it between epochs or from the maintenance
    * job that owns the table. Returns the new snapshot id, or None on an
    * empty table. */
  def compactLatest(spark: SparkSession, keyCols: Seq[String],
      versionCol: String): Option[Long] = {
    latestSnap(spark) match {
      case None => None
      case Some(s) =>
        val snapshotId = s.id + 1
        val dir = s"compact=$snapshotId"
        val latestView = readLatest(spark, keyCols, versionCol)
        if (partitionCols.nonEmpty) writePartTypes(spark, latestView.schema)
        val cw = latestView.write.mode("overwrite")
        (if (partitionCols.nonEmpty) cw.partitionBy(partitionCols: _*) else cw)
          .parquet(s"$tableDir/data/$dir")
        publishSnapshot(spark, Snap(snapshotId, s.committed, Seq(dir)),
          parent = s.id, epoch = -1L, rangeJson = "null")
        Some(snapshotId)
    }
  }

  private def publishSnapshot(spark: SparkSession, snap: Snap, parent: Long,
      epoch: Long, rangeJson: String): Unit = {
    val f = fs(spark)
    val json =
      s"""{"snapshot_id": ${snap.id}, "parent": $parent,
         | "committed": [${snap.committed.mkString(",")}],
         | "live": [${snap.live.map(d => s""""$d"""").mkString(",")}],
         | "epoch": $epoch,
         | "range": $rangeJson}""".stripMargin
    val snapDir = new Path(tableDir, "_snapshots")
    f.mkdirs(snapDir)
    val snapFile = new Path(snapDir, s"${snap.id}.json")
    val out = f.create(snapFile, true)
    out.write(json.getBytes("UTF-8")); out.close()
    // pointer switch: delete + rename (rename cannot overwrite); a crash
    // in the window is repaired by currentSnapshot's max-snapshot fallback
    val tmp = new Path(snapDir, s"LATEST.tmp.${snap.id}")
    val t = f.create(tmp, true); t.write(json.getBytes("UTF-8")); t.close()
    val latest = new Path(snapDir, "LATEST")
    if (f.exists(latest)) f.delete(latest, false)
    Sinks.renameOrThrow(f, tmp, latest)
  }
}
