package graft.codec

/** Low-level bit/byte IO kernels shared by all codecs.
  *
  * Pure JVM, integer-only (no float paths — bit-exactness requirement,
  * see SURVEY.md §7.5). Mirrors the role of the reference's varint
  * helpers (reference: schema/encoder.go:327-366 EncodeIntSlice /
  * DecodeUintSlice) but is an independent implementation.
  */
object BitIO {

  /** Number of bits needed to represent v (v >= 0); bits(0) == 0. */
  @inline def bits(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v)

  @inline def bitsLong(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  /** ZigZag: map signed ints to unsigned so small magnitudes pack small. */
  @inline def zigzag(v: Int): Int = (v << 1) ^ (v >> 31)
  @inline def unzigzag(v: Int): Int = (v >>> 1) ^ -(v & 1)

  // ---------------------------------------------------------------- varint

  /** Max bytes a uvarint32 can occupy. */
  final val MaxVarintLen32 = 5

  /** Append unsigned LEB128 varint of v (treated as unsigned 32-bit). */
  def writeUvarint(out: ByteSink, v0: Int): Unit = {
    var v = v0 & 0xffffffffL
    while (v >= 0x80L) {
      out.addByte(((v & 0x7f) | 0x80).toByte)
      v >>>= 7
    }
    out.addByte(v.toByte)
  }

  def writeUvarintLong(out: ByteSink, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.addByte(((v & 0x7f) | 0x80).toByte)
      v >>>= 7
    }
    out.addByte(v.toByte)
  }

  /** Size in bytes of the uvarint encoding of v (unsigned 32-bit). */
  def uvarintSize(v0: Int): Int = {
    var v = v0 & 0xffffffffL
    var n = 1
    while (v >= 0x80L) { n += 1; v >>>= 7 }
    n
  }

  /** Cursor-based reader over a byte array. */
  final class Reader(val buf: Array[Byte], var pos: Int) {
    def readUvarint(): Int = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result.toInt
    }
    def readUvarintLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = buf(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def readByte(): Byte = { val b = buf(pos); pos += 1; b }
    def readBytes(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      a
    }
    def remaining: Int = buf.length - pos
  }

  // -------------------------------------------------------------- bitpack

  /** Pack n values (each < 2^width, width in 0..32) LSB-first into out.
    * width == 0 writes nothing (all values are 0).
    */
  def packBits(values: Array[Int], from: Int, n: Int, width: Int, out: ByteSink): Unit =
    packBitsOffset(values, from, n, width, 0, out)

  /** Fused subtract-and-pack: packs (values(i) - base) without a temp
    * array. Encoding a 4M-token chunk must not allocate 16MB scratch per
    * candidate codec — 32 concurrent tasks doing that stall the JVM on
    * G1 humongous allocations.
    */
  def packBitsOffset(values: Array[Int], from: Int, n: Int, width: Int,
                     base: Int, out: ByteSink): Unit = {
    if (width == 0 || n == 0) return
    out.ensure(packedBytes(n, width) + 8)
    var acc = 0L
    var accBits = 0
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      acc |= ((values(from + i) - base) & mask) << accBits
      accBits += width
      while (accBits >= 8) {
        out.addByte((acc & 0xff).toByte)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out.addByte((acc & 0xff).toByte)
  }

  /** Fused zigzag-and-pack (no temp array). */
  def packBitsZigzag(values: Array[Int], from: Int, n: Int, width: Int,
                     out: ByteSink): Unit = {
    if (width == 0 || n == 0) return
    out.ensure(packedBytes(n, width) + 8)
    var acc = 0L
    var accBits = 0
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      val v = values(from + i)
      acc |= (((v << 1) ^ (v >> 31)) & mask) << accBits
      accBits += width
      while (accBits >= 8) {
        out.addByte((acc & 0xff).toByte)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out.addByte((acc & 0xff).toByte)
  }

  /** Fused delta-zigzag-and-pack over values(from+1 ..< from+n). */
  def packBitsDeltaZigzag(values: Array[Int], from: Int, n: Int, width: Int,
                          out: ByteSink): Unit = {
    if (width == 0 || n <= 1) return
    out.ensure(packedBytes(n - 1, width) + 8)
    var acc = 0L
    var accBits = 0
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var prev = values(from)
    var i = 1
    while (i < n) {
      val v = values(from + i)
      val d = v - prev
      prev = v
      acc |= (((d << 1) ^ (d >> 31)) & mask) << accBits
      accBits += width
      while (accBits >= 8) {
        out.addByte((acc & 0xff).toByte)
        acc >>>= 8
        accBits -= 8
      }
      i += 1
    }
    if (accBits > 0) out.addByte((acc & 0xff).toByte)
  }

  /** Unpack values [start, start+n) of a run packed at `width` bits
    * from bytePos into dst[dstFrom..): seeks to bit start*width and
    * reads only the slice's bytes. Returns the byte position after the
    * slice's last value, which is the end of the run when the slice
    * reaches it.
    */
  def unpackBits(buf: Array[Byte], bytePos: Int, start: Int, n: Int, width: Int,
                 dst: Array[Int], dstFrom: Int): Int = {
    if (width == 0) {
      java.util.Arrays.fill(dst, dstFrom, dstFrom + n, 0)
      return bytePos
    }
    val startBit = start.toLong * width
    var pos = bytePos + (startBit >>> 3).toInt
    var acc = 0L
    var accBits = 0
    val skip = (startBit & 7L).toInt
    if (skip > 0 && n > 0) {
      acc = (buf(pos) & 0xffL) >>> skip
      accBits = 8 - skip
      pos += 1
    }
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < n) {
      while (accBits < width) {
        acc |= (buf(pos) & 0xffL) << accBits
        pos += 1
        accBits += 8
      }
      dst(dstFrom + i) = (acc & mask).toInt
      acc >>>= width
      accBits -= width
      i += 1
    }
    pos
  }

  /** Byte length of n packed values at `width` bits. */
  @inline def packedBytes(n: Int, width: Int): Int =
    ((n.toLong * width + 7) / 8).toInt
}

/** Growable byte buffer without java.io overhead; single-threaded use.
  * `reset()` + reuse keeps steady-state encode allocation-free (the
  * backing array is retained at its high-water mark).
  */
final class ByteSink(initial: Int = 64) {
  private var buf = new Array[Byte](math.max(initial, 16))
  private var len = 0
  /** Pre-grow so the following `extra` bytes never reallocate. */
  def ensure(extra: Int): Unit = if (len + extra > buf.length) grow(len + extra)
  def reset(): Unit = len = 0
  @inline def addByte(b: Byte): Unit = {
    if (len == buf.length) grow(len + 1)
    buf(len) = b
    len += 1
  }
  def addBytes(src: Array[Byte], from: Int, n: Int): Unit = {
    if (len + n > buf.length) grow(len + n)
    System.arraycopy(src, from, buf, len, n)
    len += n
  }
  def addBytes(src: Array[Byte]): Unit = addBytes(src, 0, src.length)
  def addIntLE(v: Int): Unit = {
    if (len + 4 > buf.length) grow(len + 4)
    buf(len) = v.toByte
    buf(len + 1) = (v >>> 8).toByte
    buf(len + 2) = (v >>> 16).toByte
    buf(len + 3) = (v >>> 24).toByte
    len += 4
  }
  private def grow(min: Int): Unit = {
    var cap = buf.length * 2
    while (cap < min) cap *= 2
    buf = java.util.Arrays.copyOf(buf, cap)
  }
  def size: Int = len
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
}
