package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}

/** Little-endian byte-stream reader shared by the binary-format
  * connectors (RowBinary, Vertica native, proto). One probe-aware EOF
  * model: callers probe the first byte of a record with [[readByteOrEof]] and
  * feed it back through the `first` parameters. */
private[sources] class ByteReader(raw: InputStream, val source: String) {

  private val in = new BufferedInputStream(raw, 1 << 16)

  def readByteOrEof(): Int = in.read()

  def readByte(): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException(s"truncated record in $source")
    b
  }

  def readLE(nBytes: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nBytes) { v |= (readByte().toLong & 0xff) << (8 * i); i += 1 }
    v
  }

  /** LE value whose first byte was already consumed as an EOF probe. */
  def readLEFirst(first: Int, nRest: Int): Long =
    (first.toLong & 0xff) | (readLE(nRest) << 8)

  /** Unsigned LEB128 whose first byte was already consumed. */
  def readLeb128First(first: Int): Long = {
    var b = first
    var v = 0L
    var shift = 0
    while (true) {
      v |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      b = readByte()
    }
    v // unreachable
  }

  /** Big-endian value (Vertica-native UUID halves are MSB-first). */
  def readBE(nBytes: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nBytes) { v = (v << 8) | (readByte().toLong & 0xff); i += 1 }
    v
  }

  /** `n` bytes whose first byte was already consumed as an EOF probe.
    * [[readBytes]] returns exactly the requested count or throws, so one
    * call fills the remainder. */
  def readBytesFirst(first: Int, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    buf(0) = first.toByte
    if (n > 1) System.arraycopy(readBytes(n - 1), 0, buf, 1, n - 1)
    buf
  }

  def readBytes(n: Int): Array[Byte] = {
    // corruption guard: a bogus length field must raise a descriptive
    // error, not a NegativeArraySizeException or a multi-GB allocation
    if (n < 0 || n > ByteReader.MaxPayloadBytes)
      throw new java.io.IOException(s"implausible payload length $n in $source")
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"truncated payload in $source")
      off += r
    }
    buf
  }

  def close(): Unit = in.close()
}

private[sources] object ByteReader {
  /** Upper bound for any single length-prefixed payload (256 MiB). */
  final val MaxPayloadBytes: Int = 256 * 1024 * 1024
}
