package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for Avro OBJECT CONTAINER FILES, built on the
  * core `org.apache.avro` library that ships with Spark (the `spark-avro`
  * module — `format("avro")` — is NOT in this environment, so the
  * reference's Avro-encoded file building
  * (stream-loader-hadoop AvroParquetFileBuilder.scala:1,
  * stream-loader-core FileBuilder semantics; no code reuse) is re-expressed
  * directly over the container format):
  *
  * {{{
  *   df.write.format("graft.sources.AvroContainerSource").mode("append").save(dir)
  *   spark.read.format("graft.sources.AvroContainerSource").load(dir)   // schema from file header
  * }}}
  *
  * Unlike RowBinary, Avro container files CARRY their writer schema, so
  * reads infer it from the first data file's header (an explicit
  * `.schema(...)` still overrides, e.g. to prune or widen). Container
  * blocks ARE sync-marked and therefore splittable; [[FileConnector]]'s
  * one input partition per file is kept for symmetry with the loader's
  * one-file-per-task layout, where files are already write-sized.
  *
  * Type mapping (both directions): long↔long, int↔int, double↔double,
  * float↔float, boolean↔boolean, string↔string, binary↔bytes,
  * timestamp↔long(logicalType timestamp-micros), date↔int(logicalType
  * date); nullable fields map to union(null, T). `compression=deflate`
  * writes deflate-coded blocks (default null codec).
  */
class AvroContainerSource extends FileConnector("graft-avro", ".avro") {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    firstFileSchema(options) { in =>
      AvroContainer.toStructType(
        new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]()).getSchema)
    }

  override private[sources] def codec(schema: StructType,
      option: String => Option[String]): FileCodec =
    new AvroCodec(schema, option("compression").getOrElse(""))
}

private[sources] class AvroCodec(val schema: StructType, compression: String)
    extends FileCodec {
  // fail at plan time, not mid-write on an executor
  AvroContainer.toAvroSchema(schema)
  require(compression.isEmpty || compression == "deflate" || compression == "null",
    s"graft-avro: unsupported compression '$compression' (use deflate)")

  override def reader(in: InputStream, file: String): PartitionReader[InternalRow] =
    new AvroReader(in, file, schema)
  override def writer(out: OutputStream): RowWriter = new AvroWriter(out, schema, compression)
}

/** Streams GenericRecords out of one container file; the READ schema
  * (this table's StructType, as an Avro schema) drives Avro's standard
  * writer→reader resolution, so pruned/reordered columns resolve by
  * field name. */
private[sources] class AvroReader(stream: InputStream, file: String, schema: StructType)
    extends PartitionReader[InternalRow] {

  private val in = new DataFileStream[GenericRecord](stream,
    new GenericDatumReader[GenericRecord](null, AvroContainer.toAvroSchema(schema)))
  private val fields = schema.fields
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!in.hasNext) { current = null; return false }
    val rec = in.next()
    val row = new GenericInternalRow(fields.length)
    var i = 0
    while (i < fields.length) {
      row.update(i, AvroContainer.fromAvro(rec.get(fields(i).name), fields(i).dataType, file))
      i += 1
    }
    current = row
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Streams a `.avro` container file through DataFileWriter
  * (block-buffered with sync markers — the standard container layout any
  * Avro tool can read back). */
private[sources] class AvroWriter(stream: OutputStream, schema: StructType,
    compression: String) extends RowWriter {

  private val avroSchema = AvroContainer.toAvroSchema(schema)
  private val fields = schema.fields
  private val out = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
    if (compression == "deflate") w.setCodec(CodecFactory.deflateCodec(6))
    w.create(avroSchema, stream)
  }

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < fields.length) {
      rec.put(i, if (row.isNullAt(i)) null
        else AvroContainer.toAvro(row, i, fields(i).dataType))
      i += 1
    }
    out.append(rec)
    ()
  }

  override def close(): Unit = out.close()
}

private[sources] object AvroContainer {

  /** StructType → Avro record schema (nullable fields as union(null, T)). */
  def toAvroSchema(schema: StructType): Schema = {
    val fields = schema.fields.map { f =>
      val base = f.dataType match {
        case LongType => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType => Schema.create(Schema.Type.STRING)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case TimestampType =>
          org.apache.avro.LogicalTypes.timestampMicros()
            .addToSchema(Schema.create(Schema.Type.LONG))
        case DateType =>
          org.apache.avro.LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case other => throw new UnsupportedOperationException(
          s"graft-avro: unsupported Spark type $other for field ${f.name}")
      }
      val t = if (f.nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
      new Schema.Field(f.name, t, null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord("graft_record", null, "graft.avro", false, fields.toList.asJava)
  }

  /** Avro writer schema (from a file header) → StructType, inverting
    * [[toAvroSchema]]'s mapping. */
  def toStructType(schema: Schema): StructType = {
    def dataType(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.UNION =>
        val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1,
          s"graft-avro: only union(null, T) unions are supported, got $s")
        (dataType(nonNull.head)._1, true)
      case Schema.Type.LONG =>
        (if (s.getLogicalType != null &&
          s.getLogicalType.getName == "timestamp-micros") TimestampType else LongType, false)
      case Schema.Type.INT =>
        (if (s.getLogicalType != null && s.getLogicalType.getName == "date") DateType
        else IntegerType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.STRING => (StringType, false)
      case Schema.Type.BYTES => (BinaryType, false)
      case other => throw new UnsupportedOperationException(
        s"graft-avro: unsupported Avro type $other")
    }
    StructType(schema.getFields.asScala.map { f =>
      val (t, nullable) = dataType(f.schema())
      StructField(f.name(), t, nullable)
    }.toArray)
  }

  /** InternalRow slot → Avro datum (caller handles null). */
  def toAvro(row: InternalRow, i: Int, t: DataType): AnyRef = t match {
    case LongType | TimestampType => java.lang.Long.valueOf(row.getLong(i))
    case IntegerType | DateType => java.lang.Integer.valueOf(row.getInt(i))
    case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
    case FloatType => java.lang.Float.valueOf(row.getFloat(i))
    case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
    case StringType => row.getUTF8String(i).toString
    case BinaryType => ByteBuffer.wrap(row.getBinary(i))
    case other => throw new UnsupportedOperationException(s"graft-avro write: $other")
  }

  /** Avro datum → InternalRow value per the declared read type. */
  def fromAvro(v: AnyRef, t: DataType, file: String): Any = {
    if (v == null) return null
    (t, v) match {
      case (LongType | TimestampType, l: java.lang.Long) => l.longValue()
      case (IntegerType | DateType, i: java.lang.Integer) => i.intValue()
      case (DoubleType, d: java.lang.Double) => d.doubleValue()
      case (FloatType, f: java.lang.Float) => f.floatValue()
      case (BooleanType, b: java.lang.Boolean) => b.booleanValue()
      case (StringType, s) => UTF8String.fromString(s.toString) // Utf8 or String
      case (BinaryType, b: ByteBuffer) =>
        val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
      case (other, datum) => throw new java.io.IOException(
        s"graft-avro: cannot read ${datum.getClass.getName} as $other in $file")
    }
  }
}
