package graft.sources

import java.io.{IOException, InputStream, OutputStream}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one file lifecycle behind graft's DataSource V2 file connectors
  * (RowBinary, Vertica native, Avro, proto), after the reference's
  * `FileBuilder`: the connector owns every format-independent decision
  * and a format supplies only its [[FileCodec]].
  *
  *  - Layout: each write task streams its rows into one
  *    `part-<partition>-<uuid><ext>` file, created on the task's first
  *    row, so an empty partition writes no file. Files are written in
  *    place in the target directory (no `_temporary` staging), so a task
  *    abort deletes its file and a job abort deletes the files that
  *    tasks already committed.
  *  - Reads: every `<ext>` file under the path, recursively, so the
  *    loader sinks' per-epoch subdirectories read transparently; `_`- and
  *    `.`-prefixed names are invisible (the staging convention shared
  *    with the file sinks). Files are not split: each is one input
  *    partition, which keeps read parallelism equal to write parallelism.
  *  - Reads and writes use the session's Hadoop conf, captured once on
  *    the driver per scan or write.
  */
abstract class FileConnector(format: String, ext: String) extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  /** The format's codec for a table of `schema`, built on the driver: it
    * rejects a schema or options the format cannot serve. `option` looks
    * up an option key case-insensitively. */
  private[sources] def codec(schema: StructType, option: String => Option[String]): FileCodec

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, s"$format requires a path")
    new FileTable(s"$format:$path", path, ext,
      codec(schema, ConnectorFiles.optionIgnoreCase(properties, _)))
  }

  /** The schema `read` takes from the first data file under the path,
    * for formats whose files carry their schema; the file is closed
    * after. */
  protected def firstFileSchema(options: CaseInsensitiveStringMap)(
      read: InputStream => StructType): StructType = {
    val path = options.get("path")
    require(path != null, s"$format requires a path")
    val conf = ConnectorFiles.restoreConf(ConnectorFiles.captureConf())
    val files = ConnectorFiles.listDataFiles(path, conf, ext)
    require(files.nonEmpty,
      s"$format: no $ext files under $path to infer a schema from; pass .schema(...)")
    val in = files.head.getFileSystem(conf).open(files.head)
    try read(in) finally in.close()
  }
}

/** What one file format supplies to [[FileConnector]], bound to a table's
  * schema and options. Built and validated on the driver, then shipped
  * to every task. */
private[sources] trait FileCodec extends Serializable {
  /** The schema the table advertises, reads and writes. */
  def schema: StructType
  /** Decodes the rows of one data file; `file` names it in errors. */
  def reader(in: InputStream, file: String): PartitionReader[InternalRow]
  /** Encodes one task's rows into a new data file. */
  def writer(out: OutputStream): RowWriter
}

/** A format's encoder over one open data file. */
private[sources] trait RowWriter {
  def write(row: InternalRow): Unit
  /** Flushes the format's buffers and closes the file. */
  def close(): Unit
}

private[sources] class FileTable(tableName: String, path: String, ext: String, codec: FileCodec)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = codec.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = ConnectorFiles.captureConf()
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = codec.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        ConnectorFiles.listDataFiles(path, ConnectorFiles.restoreConf(conf), ext)
          .map(f => DataFile(f.toString): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new FileReaderFactory(codec, conf)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val conf = ConnectorFiles.captureConf()
    new WriteBuilder with Write with BatchWrite {
      override def build(): Write = this
      override def toBatch: BatchWrite = this
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new FileWriterFactory(path, ext, codec, conf)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        ConnectorFiles.deleteCommitted(messages.collect { case WrittenFile(f) => f },
          ConnectorFiles.restoreConf(conf))
    }
  }
}

private[sources] case class DataFile(file: String) extends InputPartition

private[sources] class FileReaderFactory(codec: FileCodec,
    confProps: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[DataFile].file
    val p = new Path(file)
    val in = p.getFileSystem(ConnectorFiles.restoreConf(confProps)).open(p)
    try codec.reader(in, file)
    catch { case NonFatal(e) => in.close(); throw e }
  }
}

private[sources] class FileWriterFactory(path: String, ext: String, codec: FileCodec,
    confProps: Array[(String, String)]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FileWriter(new Path(path, f"part-$partitionId%05d-${UUID.randomUUID()}$ext"), codec,
      ConnectorFiles.restoreConf(confProps))
}

private[sources] case class WrittenFile(file: String) extends WriterCommitMessage

/** One data file per task, streamed through the codec's writer. */
private[sources] class FileWriter(file: Path, codec: FileCodec, conf: Configuration)
    extends DataWriter[InternalRow] {

  private val fs = file.getFileSystem(conf)
  private var raw: OutputStream = _
  private var out: RowWriter = _

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      raw = fs.create(file, false)
      out = codec.writer(raw)
    }
    out.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    WrittenFile(file.toString)
  }

  override def abort(): Unit = {
    // close() flushes, and on an already-broken stream that flush throws
    // the same error that triggered the abort — the delete below must
    // still run or the truncated file survives in the final output dir
    try { if (out != null) out.close() else if (raw != null) raw.close() }
    catch { case _: IOException => () }
    if (fs.exists(file)) fs.delete(file, false)
  }

  override def close(): Unit = ()
}

/** Driver-captured, task-serializable Hadoop configuration plus the file
  * listing and cleanup of [[FileConnector]]. */
private[sources] object ConnectorFiles {

  /** Capture the session's Hadoop conf (spark.hadoop.* included) as a
    * serializable property array — `new Configuration()` on an executor
    * would drop credentials/HA settings the session carries. */
  def captureConf(): Array[(String, String)] =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
      .asScala.map(e => (e.getKey, e.getValue)).toArray

  def restoreConf(props: Array[(String, String)]): Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Option lookup over the provider's properties map — `getTable`
    * receives the ORIGINAL-case option keys (asCaseSensitiveMap), so a
    * user's `.option("fieldSpec", …)` must match case-insensitively. */
  def optionIgnoreCase(props: java.util.Map[String, String], key: String): Option[String] =
    props.asScala.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** All data files with `ext` under `path`, recursive, staging hidden. */
  def listDataFiles(path: String, conf: Configuration, ext: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def list(p: Path): Seq[Path] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap { s =>
          if (s.isDirectory) list(s.getPath)
          else if (s.getPath.getName.endsWith(ext)) Seq(s.getPath)
          else Seq.empty
        }
    list(root).sortBy(_.toString)
  }

  /** Job-level abort: remove files that tasks already committed (their
    * names travel in the commit messages) so a failed write leaves no
    * partial output behind. */
  def deleteCommitted(files: Seq[String], conf: Configuration): Unit =
    files.foreach { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
}
