package graft.streaming

import java.time.Duration

/** Open-file statistics a commit decision is made over (reference:
  * sink/file/MultiFileCommitStrategy.scala:13 FileStats). */
final case class FileStats(openDuration: Duration, sizeBytes: Long, records: Long)

/** Single-file commit condition — commit once ANY configured limit is
  * reached (reference: sink/file/FileCommitStrategy.scala:40
  * ReachedAnyOf(fileOpenDuration, fileSize, recordsWritten)). The
  * duration limit only participates in the pure decision API here: in
  * Spark the epoch cadence (and therefore any wall-clock flush) is owned
  * by the trigger, exactly as SURVEY §1 notes for commit-jitter. */
final case class ReachedAnyOf(
    maxDuration: Option[Duration] = None,
    maxBytes: Option[Long] = None,
    maxRecords: Option[Long] = None) {
  require(maxDuration.nonEmpty || maxBytes.nonEmpty || maxRecords.nonEmpty,
    "ReachedAnyOf needs at least one limit")

  def shouldCommit(openDuration: Duration, sizeBytes: Long, records: Long): Boolean =
    maxDuration.exists(openDuration.compareTo(_) >= 0) ||
      maxBytes.exists(sizeBytes >= _) ||
      maxRecords.exists(records >= _)
}

/** Jittered commit condition — commit once ANY parameter reaches a
  * threshold sampled per-commit from a Gaussian (reference:
  * sink/file/FileCommitStrategy.scala:64 FuzzyReachedAnyOf). The point
  * at fleet scale: hundreds of writers configured with the SAME fixed
  * thresholds close files in lockstep and hammer storage in synchronized
  * bursts; per-commit jitter decorrelates them. Two reference
  * subtleties preserved: thresholds RE-SAMPLE ONLY when a commit fires
  * (re-sampling on every check would skew the effective distribution
  * toward small thresholds — any one low draw would trigger
  * immediately), and the size check runs only every `sizeCheckEvery`
  * records (`sizeBytes` is by-name: sizing an open file can be
  * expensive, so it must not be forced on the skipped checks).
  * Stateful — one instance per sink, like the reference. A fixed seed
  * makes the sequence deterministic for specs and replay analysis.
  *
  * As with [[ReachedAnyOf]], wall-clock cadence in Spark is owned by
  * the trigger; the records/bytes draws are what a rolling sink maps
  * onto its per-file limits. */
final class FuzzyReachedAnyOf(
    duration: Option[(Duration, Duration)] = None,
    bytes: Option[(Long, Long)] = None,
    records: Option[(Long, Long)] = None,
    sizeCheckEvery: Long = 1L,
    seed: Long = 0L) extends Serializable {
  require(duration.nonEmpty || bytes.nonEmpty || records.nonEmpty,
    "FuzzyReachedAnyOf needs at least one (mean, stdDev) distribution")
  require(sizeCheckEvery >= 1, s"sizeCheckEvery must be >= 1 (got $sizeCheckEvery)")

  private val rand = new scala.util.Random(seed)
  // floor at 1 (and 0ms): a low Gaussian tail must jitter the threshold,
  // not produce a commit-every-record (or negative) limit
  private def draw(mean: Long, sd: Long): Long =
    math.max(1L, math.round(mean + rand.nextGaussian() * sd))
  private def sample(): (Option[Long], Option[Long], Option[Long]) = (
    duration.map { case (m, sd) => math.max(0L, draw(m.toMillis, sd.toMillis)) },
    bytes.map { case (m, sd) => draw(m, sd) },
    records.map { case (m, sd) => draw(m, sd) })

  private var current = sample()
  private var untilSizeCheck = sizeCheckEvery

  /** Current sampled (durationMs, bytes, records) thresholds (for specs
    * and debugging — the decision API is [[shouldCommit]]). */
  def currentThresholds: (Option[Long], Option[Long], Option[Long]) = current

  def shouldCommit(openDuration: Duration, sizeBytes: => Long, nRecords: Long): Boolean = {
    val durationHit = current._1.exists(openDuration.toMillis >= _)
    val recordsHit = current._3.exists(nRecords >= _)
    val sizeHit =
      if (untilSizeCheck == 1) { untilSizeCheck = sizeCheckEvery; current._2.exists(sizeBytes >= _) }
      else { untilSizeCheck -= 1; false }
    val commit = durationHit || recordsHit || sizeHit
    if (commit) {
      untilSizeCheck = sizeCheckEvery
      current = sample()
    }
    commit
  }
}

/** Commit condition over ALL the open files of a multi-file batch
  * (reference: sink/file/MultiFileCommitStrategy.scala:1 — anyFile /
  * allFiles / total combinators over a single-file strategy).
  *
  * Spark mapping: `AnyFile(records)` is what the runtime's per-file
  * `maxRecordsPerFile` rolling already provides in
  * [[Sinks.recordBatchingSink]]; `Total` is the cross-file budget the
  * runtime lacks and is executed distributed by
  * [[Sinks.multiFileBatchingSink]]; `AllFiles` completes the reference
  * surface for decision-level use. */
sealed trait MultiFileCommit {
  def shouldCommit(files: Seq[FileStats]): Boolean
}

object MultiFileCommit {

  /** Commit when ANY open file satisfies the single-file condition. */
  final case class AnyFile(single: ReachedAnyOf) extends MultiFileCommit {
    def shouldCommit(files: Seq[FileStats]): Boolean =
      files.exists(f => single.shouldCommit(f.openDuration, f.sizeBytes, f.records))
  }

  /** Commit when EVERY open file satisfies the single-file condition. */
  final case class AllFiles(single: ReachedAnyOf) extends MultiFileCommit {
    def shouldCommit(files: Seq[FileStats]): Boolean =
      files.nonEmpty && files.forall(f => single.shouldCommit(f.openDuration, f.sizeBytes, f.records))
  }

  /** Commit when the TOTALS across open files (summed size and records,
    * longest open duration) satisfy the single-file condition. */
  final case class Total(single: ReachedAnyOf) extends MultiFileCommit {
    def shouldCommit(files: Seq[FileStats]): Boolean =
      files.nonEmpty && single.shouldCommit(
        files.map(_.openDuration).max,
        files.map(_.sizeBytes).sum,
        files.map(_.records).sum)
  }

  /** The sequential reset-per-commit batch assignment
    * [[Sinks.multiFileBatchingSink]] runs per partition group: a batch
    * accumulates until its OWN totals reach the budget (the crossing
    * record stays), then the counters reset. Factored pure so specs can
    * property-check the semantics independently of Spark.
    *
    * Each commit batch's byte/record budget is a fresh Gaussian draw
    * ([[FuzzyReachedAnyOf]]-style jitter executed DISTRIBUTED), so the
    * files a fleet of writers publishes stop sharing one exact size —
    * de-synchronized storage load without any coordination. A zero
    * spread draws every budget as exactly its mean: the fixed-budget
    * fold. Replay-deterministic by construction: the RNG re-seeds per
    * partition group from (seed, groupSeed) and draws sequentially
    * along the group's pinned fold order, so a re-executed epoch
    * reproduces the identical commit assignment — the property the
    * exactly-once publish depends on. Budgets floor at 1 (a low
    * Gaussian tail must jitter, not degenerate to per-record commits). */
  final class FuzzyTotalFold(
      bytes: Option[(Long, Long)],
      records: Option[(Long, Long)],
      seed: Long) extends Serializable {
    require(bytes.nonEmpty || records.nonEmpty, "FuzzyTotalFold needs a budget distribution")

    // the budget is FuzzyReachedAnyOf's draw (bytes, then records,
    // re-drawn only on commit) over this group's totals
    private var budget: FuzzyReachedAnyOf = _
    private var commit = 0L
    private var accBytes = 0L
    private var accRecords = 0L
    reset(0L)

    /** Restart numbering and re-seed for a new partition group. */
    def reset(groupSeed: Long): Unit = {
      budget = new FuzzyReachedAnyOf(None, bytes, records, 1L, seed ^ groupSeed)
      commit = 0L; accBytes = 0L; accRecords = 0L
    }

    /** Commit index for the next record of `bytes` encoded bytes. */
    def next(nBytes: Long): Long = {
      accBytes += nBytes
      accRecords += 1
      val c = commit
      if (budget.shouldCommit(Duration.ZERO, accBytes, accRecords)) {
        commit += 1L; accBytes = 0L; accRecords = 0L
      }
      c
    }
  }
}
