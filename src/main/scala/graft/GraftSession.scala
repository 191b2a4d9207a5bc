package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FsConstants, LocalFileSystem}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

import graft.util.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** Session factory with graft's recommended configuration: UTC session
  * time, AQE with skew handling, shuffle parallelism sized to the
  * environment, all graft extensions (native functions + planner
  * strategy) installed, and generated code shared across sessions.
  *
  * At cluster scale the same settings apply — only `master` and the
  * shuffle-partition count change (rule of thumb: 2–3× total cores, or
  * let AQE coalesce from a higher initial number).
  */
object GraftSession extends Logging {

  /** Local file I/O without a process per file: with no libhadoop on
    * the classpath, Hadoop's local FS spawns `chmod` for every file it
    * creates (twice, with the `.crc`) and every directory it makes, and
    * FileContext (Spark's checkpoint logs) spawns `readlink` per path.
    * These classes set the same permissions through java.nio. Only
    * file:// changes; a later `.config(...)` of either key wins. */
  private[graft] val LocalFsConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    LocalFsConf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      // INT96 (the Spark default) is deprecated and reads back as ns in
      // arrow-based tooling; int64 micros is the portable representation
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Factory sessions get planning-time scale screening out of the box:
      // error-severity PlanLint findings (partition-less corpus windows,
      // unhinted cartesians, repartition(1) funnels) log once per distinct
      // plan. Escape hatch: `.config("spark.graft.lint", "off")` after
      // this builder (or at runtime via spark.conf.set) — later wins.
      // `enforce` stays opt-in.
      .config("spark.graft.lint", "warn")
      // RocksDB-backed streaming state: bounded memory for large keyed
      // state (sessionization/dedup at 100 TB), incremental checkpoints.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      // Generated code compiles once per JVM, not once per session.
      // Spark caches compiled classes by (context class loader, source),
      // and artifact isolation gives every session its own class loader:
      // each streaming query's cloned session and each newSession() then
      // recompiles byte-identical code (38–44 Janino compiles per six-sink
      // drain pass, ~100 per 4-query fresh-session pass). graft adds no
      // session artifacts (no addArtifact, no ADD JAR), so sessions can
      // share the application's class loader.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Static: sizes the JVM-wide compiled-class LRU (Spark's default is
      // 100). A 4-query pass compiles about 100 distinct classes, so 100
      // thrashes; the 223-query registry compiles 3,437 distinct classes
      // at sf0.001, which fit here. Memory retained, measured at the end
      // of that registry pass: Metaspace 216 MB in use, against 200 MB
      // with Spark's defaults (which compiled 5,800 classes).
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Build the session. The builder's extension carries graft's planner
    * strategy and SQL functions; registering the functions at runtime as
    * well covers a session that `getOrCreate` returned already built
    * without it. */
  def create(master: String, shufflePartitions: Int): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    for (found <- pinnedLocalFs(spark.sparkContext.hadoopConfiguration))
      logWarning(s"file:// resolves to $found, not ${classOf[NioRawLocalFileSystem].getName}: " +
        "a local FileSystem was cached before this session was built, so local creates " +
        "and mkdirs keep Hadoop's per-file chmod process")
    plans.GraftFunctions.register(spark)
    spark
  }

  /** The raw class `file://` resolves to, when `conf` asks for
    * [[NioLocalFileSystem]] but gets another. Hadoop caches file systems
    * by scheme and user, not by configuration, so a `file://` access made
    * before the session was built pins the class it resolved then. */
  private[graft] def pinnedLocalFs(conf: Configuration): Option[String] =
    if (conf.get("fs.file.impl") != classOf[NioLocalFileSystem].getName) None
    else FileSystem.get(FsConstants.LOCAL_FS_URI, conf) match {
      case _: NioLocalFileSystem => None
      case l: LocalFileSystem => Some(l.getRaw.getClass.getName)
      case other => Some(other.getClass.getName)
    }
}
