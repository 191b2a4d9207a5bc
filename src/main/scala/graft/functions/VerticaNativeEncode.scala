package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Vertica-native-file row encoding as a Catalyst expression: per record,
  * int32 row size, MSB-first null bitmap (one bit per column), then the
  * non-null values — int64/float64 little-endian (Vertica integers and
  * floats are 8 bytes), int32-length-prefixed varchars, timestamps as
  * microseconds since 2000-01-01, dates as days since 2000-01-01.
  *
  * Semantics follow the reference writers (no code reuse):
  *  - record framing + null bitmap: vertica/file/native/NativeVerticaRecordStreamWriter.scala:36
  *  - primitive encodings: vertica/file/native/NativeVerticaPrimitiveTypeWriter.scala:22
  *
  * `VerticaNativeEncode.fileHeader` supplies the file-level magic/header so
  * an epoch sink can assemble complete native files per partition.
  * Participates in whole-stage codegen: per-field writes are specialized
  * at compile time (see RowBinaryEncode for the rationale).
  *
  * Per-field directives (`graft_verticarow(struct, spec)` — [[FieldSpec]]
  * grammar): `varchar(N)[!]` bounded VARCHAR/VARBINARY
  * (NativeVerticaPrimitiveTypeWriter.scala:38,53), `fixed(N)[!]` CHAR(N)
  * space-padded / BINARY(N) zero-padded (ibid:50 + ByteWriter
  * writeFixedByteArray pad 0), `uuid` 16 big-endian bytes (ibid:64).
  */
case class VerticaNativeEncode(child: Expression, spec: String = "") extends UnaryExpression {

  override def dataType: DataType = BinaryType

  private lazy val fields: Array[StructField] = child.dataType match {
    case s: StructType => s.fields
    case _ => Array.empty
  }

  private lazy val directives: Array[FieldDirective] = child.dataType match {
    case s: StructType => FieldSpec.resolve(s, FieldSpec.parse(spec))
    case _ => Array.empty
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType =>
      val bad = s.fields.filterNot(f => VerticaNativeEncode.supported(f.dataType))
      if (bad.nonEmpty) TypeCheckResult.TypeCheckFailure(
        s"graft_verticarow: unsupported field types ${bad.map(_.dataType).mkString(", ")}")
      else {
        val parsed = try Right(FieldSpec.parse(spec)) catch {
          case e: IllegalArgumentException => Left(e.getMessage)
        }
        parsed.fold(TypeCheckResult.TypeCheckFailure.apply,
          ds => FieldSpec.check(s, ds)
            .map(m => TypeCheckResult.TypeCheckFailure(s"graft_verticarow: $m"))
            .getOrElse(TypeCheckResult.TypeCheckSuccess))
      }
    case t => TypeCheckResult.TypeCheckFailure(s"graft_verticarow expects struct, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val out = new ByteArrayOutputStream(80)
    VerticaNativeEncode.writeRecord(out, new ByteArrayOutputStream(64),
      input.asInstanceOf[InternalRow], fields, directives)
    out.toByteArray
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val body = ctx.addMutableState("java.io.ByteArrayOutputStream", "verticaBodyBuf",
      v => s"$v = new java.io.ByteArrayOutputStream(64);")
    val out = ctx.addMutableState("java.io.ByteArrayOutputStream", "verticaOutBuf",
      v => s"$v = new java.io.ByteArrayOutputStream(80);")
    val nBitBytes = (fields.length + 7) / 8
    nullSafeCodeGen(ctx, ev, row => {
      val bits = ctx.freshName("nullBits")
      // isNullAt is checked for EVERY field (like the interpreted path):
      // Spark nullability is advisory, and a null in a nullable=false slot
      // must still set the bitmap bit rather than encode garbage
      val writes = fields.zipWithIndex.map { case (f, i) =>
        val w = VerticaNativeEncode.genWrite(f.dataType, body, row, i, directives(i))
        s"""if ($row.isNullAt($i)) { $bits[${i / 8}] |= (byte) ${1 << (8 - (i % 8) - 1)}; }
           |else { $w }""".stripMargin
      }.mkString("\n")
      s"""
         |$body.reset();
         |byte[] $bits = new byte[$nBitBytes];
         |$writes
         |$out.reset();
         |graft.functions.BinaryRowWriters.writeLE($out, (long) $body.size(), 4);
         |$out.write($bits, 0, $nBitBytes);
         |graft.functions.BinaryRowWriters.transfer($body, $out);
         |${ev.value} = $out.toByteArray();
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): VerticaNativeEncode = copy(child = c)

  override def prettyName: String = "graft_verticarow"
}

object VerticaNativeEncode {
  import FieldDirective._

  /** Microseconds between 1970-01-01 and 2000-01-01 (Vertica's epoch). */
  final val VerticaEpochMicros = 946684800000000L
  final val VerticaEpochDays = 10957L

  def supported(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
        BooleanType | StringType | BinaryType | TimestampType | DateType => true
    case _ => false
  }

  // wire-critical primitive defined ONCE: [[BinaryRowWriters.writeLE]]
  // (the codegen path and the DSv2 writer already call it — a private
  // duplicate here could drift from what generated Java executes)
  private[functions] def writeLE(out: ByteArrayOutputStream, v: Long, nBytes: Int): Unit =
    BinaryRowWriters.writeLE(out, v, nBytes)

  /** Static size per column: -1 for variable-width (varchar/varbinary);
    * fixed(N) columns are N wide, UUIDs 16 (NativeVerticaRecordEncoder
    * .scala:89,95). */
  def staticSize(t: DataType, d: FieldDirective = Default): Int = (t, d) match {
    case (_, Fixed(n, _)) => n
    case (_, Uuid) => 16
    case (StringType | BinaryType, _) => -1
    case (BooleanType, _) => 1
    case _ => 8
  }

  /** File-level header: magic bytes, header area size, version, filler,
    * column count, per-column static sizes. */
  def fileHeader(schema: StructType, spec: String = ""): Array[Byte] = {
    val ds = FieldSpec.resolve(schema, FieldSpec.parse(spec))
    val out = new ByteArrayOutputStream(32)
    Seq(0x4e, 0x41, 0x54, 0x49, 0x56, 0x45, 0x0a, 0xff, 0x0d, 0x0a, 0x00).foreach(out.write)
    writeLE(out, (2 + 1 + 2 + 4 * schema.length).toLong, 4)
    out.write(0x01); out.write(0x00) // version
    out.write(0x00) // filler
    writeLE(out, schema.length.toLong, 2)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      writeLE(out, staticSize(f.dataType, ds(i)).toLong, 4)
    }
    out.toByteArray
  }

  /** Appends one framed record to `out`: int32 body size, MSB-first null
    * bitmap over ALL columns, then the non-null values; `body` is scratch
    * space for the values. The interpreted expression and the file
    * connector both frame rows here; the expression's `doGenCode` emits
    * the same layout. */
  def writeRecord(out: ByteArrayOutputStream, body: ByteArrayOutputStream, row: InternalRow,
      fields: Array[StructField], directives: Array[FieldDirective]): Unit = {
    body.reset()
    val nullBits = new Array[Byte]((fields.length + 7) / 8)
    var i = 0
    while (i < fields.length) {
      if (row.isNullAt(i)) {
        nullBits(i / 8) = (nullBits(i / 8) | (1 << (8 - (i % 8) - 1))).toByte
      } else {
        writeValue(body, fields(i).dataType, row, i, directives(i))
      }
      i += 1
    }
    writeLE(out, body.size().toLong, 4)
    out.write(nullBits, 0, nullBits.length)
    body.writeTo(out)
  }

  def writeValue(out: ByteArrayOutputStream, t: DataType, row: InternalRow, i: Int,
      d: FieldDirective): Unit = (t, d) match {
    case (StringType, Bounded(n, tr)) => // VARCHAR(N)
      BinaryRowWriters.writeBoundedI32(out, row.getUTF8String(i).getBytes, n, tr, charBoundary = true)
    case (BinaryType, Bounded(n, tr)) => // VARBINARY(N)
      BinaryRowWriters.writeBoundedI32(out, row.getBinary(i), n, tr, charBoundary = false)
    case (StringType, Fixed(n, tr)) => // CHAR(N): space-padded, no prefix
      BinaryRowWriters.writeFixedPadded(out, row.getUTF8String(i).getBytes, n, tr, ' ', charBoundary = true)
    case (BinaryType, Fixed(n, tr)) => // BINARY(N): zero-padded
      BinaryRowWriters.writeFixedPadded(out, row.getBinary(i), n, tr, 0, charBoundary = false)
    case (StringType, Uuid) =>
      BinaryRowWriters.writeUuid(out, row.getUTF8String(i).toString, littleEndian = false)
    case (LongType, _) => writeLE(out, row.getLong(i), 8)
    case (IntegerType, _) => writeLE(out, row.getInt(i).toLong, 8) // Vertica INTEGER = 8 bytes
    case (ShortType, _) => writeLE(out, row.getShort(i).toLong, 8)
    case (ByteType, _) => writeLE(out, row.getByte(i).toLong, 8)
    case (DoubleType, _) => writeLE(out, java.lang.Double.doubleToLongBits(row.getDouble(i)), 8)
    case (FloatType, _) => // Vertica FLOAT = 8-byte double
      writeLE(out, java.lang.Double.doubleToLongBits(row.getFloat(i).toDouble), 8)
    case (BooleanType, _) => out.write(if (row.getBoolean(i)) 1 else 0)
    case (StringType, _) => BinaryRowWriters.writeBytesI32(out, row.getUTF8String(i).getBytes)
    case (BinaryType, _) => BinaryRowWriters.writeBytesI32(out, row.getBinary(i))
    case (TimestampType, _) =>
      writeLE(out, row.getLong(i) - VerticaEpochMicros, 8)
    case (DateType, _) =>
      writeLE(out, row.getInt(i).toLong - VerticaEpochDays, 8)
    case (other, _) => throw new UnsupportedOperationException(s"graft_verticarow: $other")
  }

  /** Codegen twin of [[writeValue]] — Java statement per field,
    * specialized per type AND directive at compile time. */
  private[functions] def genWrite(t: DataType, buf: String, row: String, i: Int,
      d: FieldDirective): String = {
    val W = "graft.functions.BinaryRowWriters"
    (t, d) match {
      case (StringType, Bounded(n, tr)) =>
        s"$W.writeBoundedI32($buf, $row.getUTF8String($i).getBytes(), $n, $tr, true);"
      case (BinaryType, Bounded(n, tr)) =>
        s"$W.writeBoundedI32($buf, $row.getBinary($i), $n, $tr, false);"
      case (StringType, Fixed(n, tr)) =>
        s"$W.writeFixedPadded($buf, $row.getUTF8String($i).getBytes(), $n, $tr, ${' '.toInt}, true);"
      case (BinaryType, Fixed(n, tr)) =>
        s"$W.writeFixedPadded($buf, $row.getBinary($i), $n, $tr, 0, false);"
      case (StringType, Uuid) =>
        s"$W.writeUuid($buf, $row.getUTF8String($i).toString(), false);"
      case (LongType, _) => s"$W.writeLE($buf, $row.getLong($i), 8);"
      case (IntegerType, _) => s"$W.writeLE($buf, (long) $row.getInt($i), 8);"
      case (ShortType, _) => s"$W.writeLE($buf, (long) $row.getShort($i), 8);"
      case (ByteType, _) => s"$W.writeLE($buf, (long) $row.getByte($i), 8);"
      case (DoubleType, _) => s"$W.writeLE($buf, java.lang.Double.doubleToLongBits($row.getDouble($i)), 8);"
      case (FloatType, _) => s"$W.writeLE($buf, java.lang.Double.doubleToLongBits((double) $row.getFloat($i)), 8);"
      case (BooleanType, _) => s"$buf.write($row.getBoolean($i) ? 1 : 0);"
      case (StringType, _) => s"$W.writeBytesI32($buf, $row.getUTF8String($i).getBytes());"
      case (BinaryType, _) => s"$W.writeBytesI32($buf, $row.getBinary($i));"
      case (TimestampType, _) => s"$W.writeLE($buf, $row.getLong($i) - ${VerticaEpochMicros}L, 8);"
      case (DateType, _) => s"$W.writeLE($buf, (long) $row.getInt($i) - ${VerticaEpochDays}L, 8);"
      case (other, _) => throw new UnsupportedOperationException(s"graft_verticarow: $other")
    }
  }
}
