package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream, InputStream, OutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FieldDirective, FieldSpec, VerticaNativeEncode}

/** DataSource V2 connector for Vertica native binary files — the format
  * `graft_verticarow` frames (file header with magic + column widths,
  * then per row: int32 body size, MSB-first null bitmap over ALL
  * columns, little-endian 8-byte numerics, int32-length varchars,
  * 2000-epoch timestamps). The reference ships this INTO Vertica COPY;
  * this connector also reads it back. The null bitmap always covers
  * every column, so the wire format is nullability-independent — no
  * flag-presence ambiguity. Reads require an explicit schema. */
class VerticaNativeSource extends FileConnector("graft-vertica-native", ".vnative") {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-vertica-native requires an explicit read schema via .schema(...)")

  override private[sources] def codec(schema: StructType,
      option: String => Option[String]): FileCodec =
    new VerticaNativeCodec(schema, option("fieldspec").getOrElse(""))
}

private[sources] class VerticaNativeCodec(val schema: StructType, fieldSpec: String)
    extends FileCodec {
  FieldSpec.check(schema, FieldSpec.parse(fieldSpec))
    .foreach(m => throw new IllegalArgumentException(s"graft-vertica-native: $m"))

  override def reader(in: InputStream, file: String): PartitionReader[InternalRow] =
    new VerticaNativeReader(in, file, schema, fieldSpec)
  override def writer(out: OutputStream): RowWriter =
    new VerticaNativeWriter(out, schema, fieldSpec)
}

/** Streaming decoder — the inverse of VerticaNativeEncode's framing. */
private[sources] class VerticaNativeReader(stream: InputStream, file: String,
    schema: StructType, fieldSpec: String) extends PartitionReader[InternalRow] {

  private val in = new ByteReader(stream, file)
  private val fields = schema.fields
  private val directives = FieldSpec.resolve(schema, FieldSpec.parse(fieldSpec))
  private val nBitBytes = (fields.length + 7) / 8
  private var current: InternalRow = _

  // ---- validate the file header up front ----------------------------------
  locally {
    val magic = in.readBytes(11)
    val expect = Array(0x4e, 0x41, 0x54, 0x49, 0x56, 0x45, 0x0a, 0xff, 0x0d, 0x0a, 0x00)
      .map(_.toByte)
    if (!java.util.Arrays.equals(magic, expect))
      throw new java.io.IOException(s"not a Vertica native file: $file")
    val headerArea = in.readLE(4).toInt
    if (headerArea < 5)
      throw new java.io.IOException(s"truncated Vertica native header in $file")
    val header = in.readBytes(headerArea) // version, filler, column count + widths
    val nCols = (header(3) & 0xff) | ((header(4) & 0xff) << 8)
    if (nCols != fields.length)
      throw new java.io.IOException(
        s"$file has $nCols columns, read schema has ${fields.length}")
    if (headerArea < 5 + 4 * nCols)
      throw new java.io.IOException(s"truncated Vertica native column widths in $file")
    // per-column widths must agree with the read schema's types — a
    // count-compatible but type-mismatched schema would misalign parses
    var i = 0
    while (i < nCols) {
      val off = 5 + 4 * i
      val w = (header(off) & 0xff) | ((header(off + 1) & 0xff) << 8) |
        ((header(off + 2) & 0xff) << 16) | ((header(off + 3) & 0xff) << 24)
      val expect = VerticaNativeEncode.staticSize(fields(i).dataType, directives(i))
      if (w != expect)
        throw new java.io.IOException(
          s"$file column ${fields(i).name}: stored width $w, schema type " +
            s"${fields(i).dataType.simpleString} expects $expect")
      i += 1
    }
  }

  override def next(): Boolean = {
    val first = in.readByteOrEof() // probe: first byte of the row-size int32
    if (first < 0) { current = null; return false }
    in.readLEFirst(first, 3) // row body size (informational; fields are self-describing)
    val bits = in.readBytes(nBitBytes)
    val row = new GenericInternalRow(fields.length)
    var i = 0
    while (i < fields.length) {
      val isNull = (bits(i / 8) & (1 << (8 - (i % 8) - 1))) != 0
      if (isNull) row.update(i, null)
      else row.update(i, decode(fields(i).dataType, directives(i)))
      i += 1
    }
    current = row
    true
  }

  private def decode(t: DataType, d: FieldDirective): Any = (t, d) match {
    // CHAR(N): N raw bytes, trailing space padding stripped; BINARY(N)
    // keeps all N zero-padded bytes
    case (StringType, FieldDirective.Fixed(n, _)) =>
      UTF8String.fromBytes(RowBinaryReader.stripTrailing(in.readBytes(n), ' '))
    case (BinaryType, FieldDirective.Fixed(n, _)) => in.readBytes(n)
    // UUID: msb + lsb, big-endian on the Vertica wire
    case (StringType, FieldDirective.Uuid) =>
      UTF8String.fromString(new java.util.UUID(in.readBE(8), in.readBE(8)).toString)
    case (LongType, _) => in.readLE(8)
    case (IntegerType, _) => in.readLE(8).toInt // Vertica INTEGER = 8 bytes
    case (ShortType, _) => in.readLE(8).toShort
    case (ByteType, _) => in.readLE(8).toByte
    case (DoubleType, _) => java.lang.Double.longBitsToDouble(in.readLE(8))
    case (FloatType, _) => // stored as 8-byte double
      java.lang.Double.longBitsToDouble(in.readLE(8)).toFloat
    case (BooleanType, _) => in.readByte() != 0
    case (StringType, _) => UTF8String.fromBytes(in.readBytes(in.readLE(4).toInt))
    case (BinaryType, _) => in.readBytes(in.readLE(4).toInt)
    case (TimestampType, _) => in.readLE(8) + VerticaNativeEncode.VerticaEpochMicros
    case (DateType, _) => (in.readLE(8) + VerticaNativeEncode.VerticaEpochDays).toInt
    case (other, _) => throw new UnsupportedOperationException(s"graft-vertica-native read: $other")
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Streams a `.vnative` file: header once, then records framed by
  * [[VerticaNativeEncode.writeRecord]], as the `graft_verticarow`
  * expression frames them. */
private[sources] class VerticaNativeWriter(stream: OutputStream, schema: StructType,
    fieldSpec: String) extends RowWriter {

  private val fields = schema.fields
  private val directives = FieldSpec.resolve(schema, FieldSpec.parse(fieldSpec))
  private val out = new BufferedOutputStream(stream, 1 << 16)
  out.write(VerticaNativeEncode.fileHeader(schema, fieldSpec))
  private val recordBuf = new ByteArrayOutputStream(256)
  private val bodyBuf = new ByteArrayOutputStream(256)

  override def write(row: InternalRow): Unit = {
    recordBuf.reset()
    VerticaNativeEncode.writeRecord(recordBuf, bodyBuf, row, fields, directives)
    recordBuf.writeTo(out)
  }

  override def close(): Unit = out.close()
}
