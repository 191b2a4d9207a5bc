package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Spark's TimestampType is LTZ and writes parquet `timestamp[us, tz=UTC]`;
    * the DuckDB oracle yields naive `datetime64[us]`, so the tz annotation
    * alone fails the driver's schema compare even when every value matches
    * (session tz is UTC, so the instants are identical). Cast all timestamp
    * outputs to NTZ so the dumped parquet is naive `timestamp[us]`. */
  private[graft] def naiveTimestamps(df: DataFrame): DataFrame =
    if (df.schema.exists(_.dataType == TimestampType))
      df.select(df.schema.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
        else col(f.name)
      }: _*)
    else df

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args: run only these query ids (dev-side subset;
    // the driver always calls with exactly two args = full run).
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      // fail loudly — a typo'd id silently running zero queries would let
      // check.py "verify" a stale outDir
      System.err.println(s"[verify] unknown query ids: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    // lint off (see Dev.session): the dump below coalesce(1)s every
    // (aggregate-sized) result into one file for the single-file DuckDB
    // read of the oracle check, a harness contract the warn-mode screen
    // would flag
    val (spark, _) = tools.Dev.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try naiveTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure that throws BEFORE the write (analysis error) leaves a
        // previous run's dump in place — the checker would then hash-match
        // STALE output and mask the regression; remove it so the failure
        // surfaces as a missing dir. Delete through the SAME Hadoop
        // FileSystem the parquet write resolves, so URI-style outDirs
        // (file:/, hdfs://) are handled too — java.io.File would silently
        // no-op on those and the stale-output hazard would return.
        val stale = new org.apache.hadoop.fs.Path(outDir, name)
        val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stale)) { fs.delete(stale, true); () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
