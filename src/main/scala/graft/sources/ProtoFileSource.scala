package graft.sources

import java.io.{BufferedOutputStream, InputStream, OutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.ProtoWire

/** DataSource V2 connector for varint-delimited protobuf record files —
  * the standard streamed-proto framing (each record = varint byte length
  * + one wire-format message, protobuf's `writeDelimitedTo` layout), with
  * messages encoded/decoded by the [[graft.functions.ProtoWire]] kernels
  * (single source of truth with `graft_proto`/`graft_proto_decode`).
  * File-level analog of the reference's proto-described record path
  * (`hadoop/parquet/ProtoParquetFileBuilder.scala:23`): a loader can land
  * proto record files and Spark queries them back directly —
  *
  * {{{
  *   df.write.format("graft.sources.ProtoFileSource").mode("append").save(dir)
  *   spark.read.format("graft.sources.ProtoFileSource").schema(sch).load(dir)
  * }}}
  *
  * The wire is schema-less (field numbers only), so reads REQUIRE an
  * explicit schema — field names/types by field-number order, exactly
  * `graft_proto_decode`'s DDL contract; unknown field numbers in the data
  * are skipped (forward compatibility), absent fields read as null.
  */
class ProtoFileSource extends FileConnector("graft-proto", ".pb") {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-proto is schema-less on the wire: pass an explicit schema via .schema(...)")

  override private[sources] def codec(schema: StructType,
      option: String => Option[String]): FileCodec = new ProtoCodec(schema)
}

private[sources] class ProtoCodec(userSchema: StructType) extends FileCodec {
  private val unsupported =
    userSchema.fields.filterNot(f => ProtoWire.supported(f.dataType))
  if (unsupported.nonEmpty) throw new IllegalArgumentException(
    s"graft-proto: unsupported field types ${unsupported.map(_.dataType).mkString(", ")}")

  /** The schema the reader actually PRODUCES: absent proto fields decode
    * to null, so every column must advertise nullable — planning against
    * a user-declared NOT NULL column would constant-fold `IS NULL` away
    * and mis-codegen reads of the null slot. */
  val schema: StructType = StructType(userSchema.fields.map(_.copy(nullable = true)))

  override def reader(in: InputStream, file: String): PartitionReader[InternalRow] =
    new ProtoFileReader(in, file, schema)
  override def writer(out: OutputStream): RowWriter = new ProtoFileWriter(out, schema)
}

/** Streaming reader: varint length prefix, then one message decoded by
  * the shared [[ProtoWire]] kernel into the codec's all-nullable schema
  * (absent proto fields are null by construction). */
private[sources] class ProtoFileReader(stream: InputStream, file: String,
    readSchema: StructType) extends PartitionReader[InternalRow] {

  private val in = new ByteReader(stream, file)
  private var current: InternalRow = _

  override def next(): Boolean = {
    val first = in.readByteOrEof()
    if (first < 0) { current = null; return false }
    val len = in.readLeb128First(first)
    if (len < 0 || len > Int.MaxValue) throw new java.io.IOException(
      s"corrupt proto stream in $file: record length $len")
    current = ProtoWire.decodeRow(in.readBytes(len.toInt), readSchema)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Streams a `.pb` file; records framed as varint length + message,
  * encoded by the shared [[ProtoWire]] kernel. */
private[sources] class ProtoFileWriter(stream: OutputStream, schema: StructType)
    extends RowWriter {

  private val out = new BufferedOutputStream(stream, 1 << 16)
  private val lenBuf = new java.io.ByteArrayOutputStream(8)
  private val fields = schema.fields

  override def write(row: InternalRow): Unit = {
    val msg = ProtoWire.encodeRow(row, fields)
    lenBuf.reset()
    ProtoWire.writeVarint(lenBuf, msg.length.toLong)
    lenBuf.writeTo(out)
    out.write(msg, 0, msg.length)
  }

  override def close(): Unit = out.close()
}
