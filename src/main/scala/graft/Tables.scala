package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.Listing

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All graft operators take an `sfDir` and read through here so that the
  * same plan works at any scale factor; at cluster scale these would be
  * catalog tables (parquet/iceberg) with identical schemas.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads `$sfDir/$name.parquet` with its schema inferred once per JVM.
    * A schema-less parquet read runs one Spark job to read a footer (Spark
    * infers through a parallel job even for a single file), so every read
    * in a fresh session paid one: 7 of the 34 jobs of a perfbench
    * `query_mix` pass.
    *
    * The cache is keyed by the qualified path and the session's confs
    * that inference reads (`inferTimestampNTZ` decides whether a
    * TIMESTAMP column infers as NTZ; [[events]]' child session reads
    * nanos as long). Each entry stores the path's [[Listing.fingerprint]]
    * next to the schema, so a rewritten table replaces its entry. A miss
    * infers exactly as a plain read does, so an absent path fails with a
    * plain read's error; a failed inference is not cached. A path that
    * lists a directory (partitions, nesting) is read plainly: a listing of
    * its first level can miss a rewrite below it. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val listing = Listing(spark, path)
    if (listing.entries.exists(_.isDirectory)) spark.read.parquet(path)
    else {
      val key = (listing.path.toString, spark.conf.getAll.filter { case (k, _) =>
        InferenceConfs.exists(k.startsWith) }.toSeq.sorted)
      val fp = listing.fingerprint
      val schema = schemas.get(key) match {
        case (`fp`, cached) => cached
        case _ =>
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, (fp, inferred))
          inferred
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  // conf prefixes parquet schema inference reads
  private val InferenceConfs = Seq(
    "spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.ignoreCorruptFiles")
  // (qualified path, inference confs) -> (listing fingerprint, schema)
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, String)]), (String, StructType)]()

  /** Widen a NARROW scan ahead of kernel-heavy record-local work (the
    * [[graft.operators.Similarity]] balanceNarrow discipline, shared —
    * round 15): parquet row-group granularity caps scan splits, so a
    * single-small-file table feeds every map-only kernel downstream of
    * it from ONE task and serializes the per-record compute (measured:
    * mm_phash_pairs ran its whole 5k-doc hash fold + verify in ≤2 of 32
    * cores). At cluster scale the scan is already ≥ the core count and
    * NO exchange enters the plan; when the guard does fire the exchange
    * is one round-robin pass over the scanned rows — strictly less work
    * than leaving 31/32 cores idle through the kernel stage. Only safe
    * on exchange-free scan lineage (scan→filter→project): `.rdd` on a
    * plan with broadcast/AQE subtrees would materialize query stages at
    * plan-construction time. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions >= sc.defaultParallelism) df
    else df.repartition(sc.defaultParallelism)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.parquet` has shipped with two `ts` shapes across testdata
    * generations: TIMESTAMP(MICROS) (current — reads natively) and
    * TIMESTAMP(NANOS) (older — Spark's parquet reader rejects it outright).
    * Input schemas evolve under every real pipeline, so this loader adapts
    * to the shape it finds instead of hard-coding one era's workaround:
    *
    *  1. Plain read succeeds and `ts` is already a timestamp → pass through.
    *     (timestamp[us] with isAdjustedToUTC=false infers as TIMESTAMP_NTZ;
    *     normalize to TimestampType — an identity on the stored micros under
    *     the UTC session — so every downstream plan keeps the one ts type
    *     the whole engine was written against.)
    *  2. Plain read succeeds but `ts` is a long (epoch-nanos written as
    *     int64) → floor-convert nanos→micros (what DuckDB's `::TIMESTAMP`
    *     cast does on TIMESTAMP_NS).
    *  3. Plain read REJECTS the footer (TIMESTAMP(NANOS) logical type) →
    *     re-read through a `nanosAsLong` child session and convert as in 2.
    *
    * The `nanosAsLong` legacy conf is scoped to an isolated child session
    * (shared SparkContext, own SQLConf) rather than set on the caller's
    * session: the conf is consulted again when the scan builds its Hadoop
    * conf at EXECUTION time, so a set-then-restore would break lazy plans,
    * and mutating the shared session would make every later TIMESTAMP(NANOS)
    * read in unrelated code silently come back as longs. With the child
    * session, only this relation reads nanos-as-long; any other nanos
    * parquet read still fails loudly. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val plain =
      try Some(load(s, d, "events"))
      catch { case _: org.apache.spark.SparkException | _: org.apache.spark.sql.AnalysisException => None }
    plain match {
      case Some(df) if df.schema("ts").dataType == TimestampType => df
      case Some(df) if df.schema("ts").dataType == TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case Some(df) if df.schema("ts").dataType == LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(df) =>
        throw new IllegalStateException(
          s"events.parquet at $d: unsupported ts type ${df.schema("ts").dataType.sql} " +
            "(expected TIMESTAMP or epoch-nanos BIGINT) — testdata shape changed again; " +
            "extend Tables.events for the new shape")
      case None => // TIMESTAMP(NANOS) footer: only readable via the legacy conf
        val ns = nanosSessions.computeIfAbsent(s, (ss: SparkSession) => {
          val n = ss.newSession()
          // newSession() does NOT inherit the parent's runtime/builder SQL
          // confs (session timezone, parquet writer type, shuffle sizing…) —
          // clone them so frames rooted here behave identically, then add the
          // one scoped difference (nanos-as-long for this relation only).
          ss.conf.getAll.foreach { case (k, v) =>
            try n.conf.set(k, v) catch { case _: org.apache.spark.sql.AnalysisException => () }
          }
          n.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          n
        })
        load(ns, d, "events").withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }
  // weak keys: child sessions must not keep stopped parent sessions alive
  // (test suites create many). Conf snapshot is frozen at first use per
  // parent — parent conf changes after that do not reach events frames.
  private val nanosSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
