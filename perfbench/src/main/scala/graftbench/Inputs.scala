package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload inputs, made from the testdata vendored with the benchmark
  * (grown with graft's own generator, `graft.tools.ScaleGen`, where a
  * workload needs more rows). The seed only chooses how rows are cut into
  * source files and how much file sizes jitter. The program under test
  * sees nothing but the files.
  */
object Inputs {

  /** `ScaleGen.generate` into a fresh directory; `only` limits which of
    * the scalable tables grow (the rest are copied verbatim). */
  def scaleGen(spark: SparkSession, src: String, out: String, factor: Int,
      only: Option[Set[String]] = None): String = {
    Files.rmTree(out)
    graft.tools.ScaleGen.generate(spark, src, out, factor, only)
    out
  }

  /** Cumulative file boundaries over `[0, 1)`: `n` files whose relative
    * sizes are drawn uniformly from `[1 - jitter, 1 + jitter]`. */
  def boundaries(n: Int, jitter: Double, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val w = Array.fill(n)(1.0 - jitter + 2 * jitter * rng.nextDouble())
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def fileName(index: Int): String = f"file-$index%05d.parquet"

  /** One source file: its index, row count and event-id range. */
  final case class SourceFile(index: Int, rows: Long, minId: Long, maxId: Long) {
    def name: String = fileName(index)
  }

  /** Splits `events` into `n` parquet files `file-00000.parquet`, ... in
    * `dir`, with sizes jittered by `boundaries`, and returns the files
    * that hold rows.
    *
    * `contiguous` cuts the event-id order into ranges, so each file holds
    * a contiguous run of event ids (the trickle maps rows back to files
    * this way); otherwise rows are scattered across files by a seeded hash
    * (the drain's backlog, where any file may hold any event). */
  def split(spark: SparkSession, events: DataFrame, dir: String, n: Int, jitter: Double,
      seed: Long, contiguous: Boolean): Seq[SourceFile] = {
    val cuts = boundaries(n, jitter, seed)
    val pos =
      if (contiguous) {
        val lo = events.agg(min("event_id"), max("event_id")).collect()(0)
        val (a, b) = (lo.getLong(0), lo.getLong(1))
        (col("event_id") - lit(a)).cast("double") / lit((b - a + 1).toDouble)
      } else pmod(xxhash64(col("event_id"), lit(seed)), lit(1000003L)).cast("double") / lit(1000003.0)
    val fileOf = udf { (u: Double) =>
      val i = java.util.Arrays.binarySearch(cuts, u)
      math.min(if (i >= 0) i + 1 else -i - 1, n - 1)
    }
    val staged = s"$dir.staging"
    Files.rmTree(staged); Files.rmTree(dir)
    events.withColumn("_f", fileOf(pos))
      .repartition(n, col("_f"))
      .write.partitionBy("_f").parquet(staged)
    new File(dir).mkdirs()
    for (i <- 0 until n) {
      val parts = Option(new File(staged, s"_f=$i").listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length <= 1, s"file $i was written as ${parts.length} parts")
      parts.foreach(p => Files.move(p, new File(dir, fileName(i))))
    }
    Files.rmTree(staged)
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)), min("event_id"), max("event_id"))
      .collect().toSeq
      .map { r =>
        val name = new File(new java.net.URI(r.getString(0)).getPath).getName
        SourceFile(name.stripPrefix("file-").stripSuffix(".parquet").toInt, r.getLong(1), r.getLong(2), r.getLong(3))
      }
      .sortBy(_.index)
  }
}

/** Small local-filesystem helpers (the benchmark's own work directory). */
object Files {
  def rmTree(path: String): Unit = rmTree(new File(path))
  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    f.delete()
  }

  /** Atomic rename within one filesystem. */
  def move(from: File, to: File): Unit =
    java.nio.file.Files.move(from.toPath, to.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
}
