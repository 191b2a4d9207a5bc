package graft.sources

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.util.UUID

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FieldDirective, FieldSpec, RowBinaryEncode}

/** DataSource V2 connector for ClickHouse-RowBinary files — the format
  * `graft_rowbinary` encodes (LE primitives, LEB128-length strings,
  * 0x01/0x00 null flags on nullable fields, int32-second DateTimes).
  * The reference ships this encoding INTO ClickHouse (the
  * clickhouse rowbinary writers); this connector also reads it back, so
  * a loader's output is directly queryable by Spark:
  *
  * {{{
  *   df.write.format("graft.sources.RowBinarySource").mode("append").save(dir)
  *   spark.read.format("graft.sources.RowBinarySource").schema(sch).load(dir)
  * }}}
  *
  * RowBinary is schema-less on the wire, so reads REQUIRE an explicit
  * schema. Files carry no sync markers; [[FileConnector]] reads each as
  * one input partition. DateTime round-trips at second precision (the
  * ClickHouse wire type is int32 epoch seconds).
  *
  * Wire contract: every column maps to ClickHouse `Nullable(T)` — a
  * null-flag byte precedes every value regardless of the Spark field's
  * nullability. (Spark's V2 write path normalizes the outgoing schema to
  * all-nullable, so honoring per-field nullability would make the bytes
  * depend on which side normalized; the always-flagged form is the one
  * both directions agree on. The `graft_rowbinary` EXPRESSION remains
  * the schema-exact encoder for non-Nullable ClickHouse columns.)
  */
class RowBinarySource extends FileConnector("graft-rowbinary", ".rowbinary") {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-rowbinary is schema-less on the wire: pass an explicit schema via .schema(...)")

  override private[sources] def codec(schema: StructType,
      option: String => Option[String]): FileCodec =
    new RowBinaryCodec(schema, option("fieldspec").getOrElse(""))
}

private[sources] class RowBinaryCodec(val schema: StructType, fieldSpec: String)
    extends FileCodec {
  FieldSpec.check(schema, FieldSpec.parse(fieldSpec))
    .foreach(m => throw new IllegalArgumentException(s"graft-rowbinary: $m"))

  override def reader(in: InputStream, file: String): PartitionReader[InternalRow] =
    new RowBinaryReader(in, file, schema, fieldSpec)
  override def writer(out: OutputStream): RowWriter = new RowBinaryWriter(out, schema, fieldSpec)
}

/** Streaming decoder — the byte-level inverse of RowBinaryEncode. */
private[sources] class RowBinaryReader(stream: InputStream, file: String, schema: StructType,
    fieldSpec: String) extends PartitionReader[InternalRow] {

  private val in = new ByteReader(stream, file)
  private val fields = schema.fields
  private val directives = FieldSpec.resolve(schema, FieldSpec.parse(fieldSpec))
  private var current: InternalRow = _

  override def next(): Boolean = {
    // EOF detection: probe the first byte of the row
    val first = in.readByteOrEof()
    if (first < 0) { current = null; return false }
    val row = new GenericInternalRow(fields.length)
    var i = 0
    var probe = first // every field starts with its Nullable(T) flag byte
    while (i < fields.length) {
      val f = fields(i)
      if (probe == 1) row.update(i, null)
      else if (probe == 0) row.update(i, decode(f.dataType, directives(i), in.readByte()))
      else throw new java.io.IOException(
        s"corrupt RowBinary in $file: null flag $probe for field ${f.name}")
      i += 1
      if (i < fields.length) probe = in.readByte()
    }
    current = row
    true
  }

  /** Decode one value; `first` is its already-consumed first byte. */
  private def decode(t: DataType, d: FieldDirective, first: Int): Any = {
    def le(nRest: Int): Long = in.readLEFirst(first, nRest)
    (t, d) match {
      // FixedString(N): N raw bytes, trailing 0x00 padding stripped for
      // strings (ClickHouse pads with zeros); BINARY fixed keeps all N
      case (StringType, FieldDirective.Fixed(n, _)) =>
        UTF8String.fromBytes(RowBinaryReader.stripTrailing(in.readBytesFirst(first, n), 0))
      case (BinaryType, FieldDirective.Fixed(n, _)) => in.readBytesFirst(first, n)
      // UUID: msb + lsb, each little-endian on the ClickHouse wire
      case (StringType, FieldDirective.Uuid) =>
        UTF8String.fromString(new UUID(le(7), in.readLE(8)).toString)
      case (LongType, _) => le(7)
      case (IntegerType, _) => le(3).toInt
      case (ShortType, _) => le(1).toShort
      case (ByteType, _) => first.toByte
      case (DoubleType, _) => java.lang.Double.longBitsToDouble(le(7))
      case (FloatType, _) => java.lang.Float.intBitsToFloat(le(3).toInt)
      case (BooleanType, _) => first != 0
      case (StringType, _) => // unbounded and varchar(N) share the wire shape
        UTF8String.fromBytes(in.readBytes(in.readLeb128First(first).toInt))
      case (BinaryType, _) => in.readBytes(in.readLeb128First(first).toInt)
      case (TimestampType, _) => le(3) * 1000000L // int32 epoch seconds → micros
      case (DateType, _) => le(1).toInt // uint16 days
      case (other, _) => throw new UnsupportedOperationException(s"graft-rowbinary read: $other")
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

private[sources] object RowBinaryReader {
  def stripTrailing(bytes: Array[Byte], pad: Int): Array[Byte] = {
    var end = bytes.length
    while (end > 0 && bytes(end - 1) == pad.toByte) end -= 1
    if (end == bytes.length) bytes else java.util.Arrays.copyOfRange(bytes, 0, end)
  }
}

/** Streams a `.rowbinary` file (no whole-partition buffering), encoded
  * with the SAME byte helpers as the `graft_rowbinary` expression —
  * single source of truth for the format. */
private[sources] class RowBinaryWriter(stream: OutputStream, schema: StructType,
    fieldSpec: String) extends RowWriter {

  private val directives = FieldSpec.resolve(schema, FieldSpec.parse(fieldSpec))

  private val out = new BufferedOutputStream(stream, 1 << 16)
  private val rowBuf = new java.io.ByteArrayOutputStream(256)
  private val fields = schema.fields

  override def write(row: InternalRow): Unit = {
    rowBuf.reset()
    var i = 0
    while (i < fields.length) {
      if (row.isNullAt(i)) rowBuf.write(1)
      else { rowBuf.write(0); RowBinaryEncode.writeValue(rowBuf, fields(i).dataType, row, i, directives(i)) }
      i += 1
    }
    rowBuf.writeTo(out)
  }

  override def close(): Unit = out.close()
}
