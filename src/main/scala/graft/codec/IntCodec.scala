package graft.codec

import BitIO._

/** A lightweight compression codec for int32 column chunks.
  *
  * Every encoded buffer is self-describing: byte 0 is the codec id,
  * so `IntCodec.decode` dispatches without out-of-band metadata —
  * the same tagged-container idea as the reference's chunk payload
  * format (reference: schema/encoder.go:200-222, uvarint(encoding)
  * prefix), re-designed for int32 token streams.
  *
  * Each codec object owns its whole layout: `encode`, the cost model's
  * `estimate` of what encode writes, and one slice reader,
  * `decodeInto`. A full decode is the whole-range slice, as the
  * reference's value iterators serve full and row-range reads alike
  * (reference: search/iterators.go:359-595).
  *
  * All arithmetic is integer-only and wraps mod 2^32 where needed, so
  * round-trips are bit-identical for the full Int range including
  * Int.MinValue / Int.MaxValue (SURVEY.md §7.5 bit-exactness).
  */
sealed trait IntCodec {
  def id: Byte
  def name: String
  /** Encode a[from, from+n) into out (appends; writes id byte first). */
  def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit
  final def encode(a: Array[Int]): Array[Byte] = {
    val out = new ByteSink(a.length + 16)
    encode(a, 0, a.length, out)
    out.result()
  }
  /** Cost-model estimate of the bytes `encode` writes (header +
    * payload) for a slice with these stats; Long.MaxValue rules the
    * codec out.
    */
  def estimate(s: ChunkStats): Long
  /** Decode values [start, start+len) of an n-value block into
    * dst[0, len), with r just past the block's (id, n) header and
    * 0 < len, start + len <= n. After the whole-range slice r.pos is at
    * the end of the payload; after a partial slice it is unspecified.
    */
  private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit
}

object IntCodec {
  /** Bytes of the (id, n) header every block starts with. */
  private def hdr(s: ChunkStats): Long = 1L + uvarintSize(s.n)

  /** (min, max) of a[from, from+n), n > 0. */
  private def minMax(a: Array[Int], from: Int, n: Int): (Int, Int) = {
    var mn = a(from); var mx = a(from)
    var i = 1
    while (i < n) {
      val v = a(from + i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    (mn, mx)
  }

  case object Plain extends IntCodec {
    val id: Byte = 0; val name = "plain"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      var i = 0
      while (i < n) { out.addIntLE(a(from + i)); i += 1 }
    }
    def estimate(s: ChunkStats): Long = hdr(s) + 4L * s.n
    /** One bulk little-endian copy: it runs at copy speed even before the
      * JIT has compiled this reader, which a codec the data rarely picks
      * never gets hot enough for.
      */
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val p = r.pos + 4 * start
      java.nio.ByteBuffer.wrap(r.buf, p, 4 * len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .asIntBuffer().get(dst, 0, len)
      r.pos = p + 4 * len
    }
  }

  /** ZigZag + fixed-width bit-packing (handles negatives). */
  case object BitPack extends IntCodec {
    val id: Byte = 1; val name = "bitpack"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      var maxZ = 0L
      var i = 0
      while (i < n) {
        val z = zigzag(a(from + i)) & 0xffffffffL
        if (z > maxZ) maxZ = z
        i += 1
      }
      val width = bitsLong(maxZ)
      out.addByte(width.toByte)
      packBitsZigzag(a, from, n, width, out)
    }
    def estimate(s: ChunkStats): Long = hdr(s) + 1 + packedBytes(s.n, bitsLong(s.maxZigzag))
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val width = r.readByte() & 0xff
      r.pos = unpackBits(r.buf, r.pos, start, len, width, dst, 0)
      var i = 0
      while (i < len) { dst(i) = unzigzag(dst(i)); i += 1 }
    }
  }

  /** Frame-of-reference: subtract min, bit-pack the non-negative offsets
    * at `packWidth` of their bit range. [[For]] and [[ForAligned]] share
    * this layout and differ only in that width.
    */
  sealed abstract class FrameOfReference extends IntCodec {
    protected def packWidth(rangeBits: Int): Int
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      val (mn, mx) = minMax(a, from, n)
      writeUvarint(out, zigzag(mn))
      val width = packWidth(bitsLong(mx.toLong - mn.toLong))
      out.addByte(width.toByte)
      packBitsOffset(a, from, n, width, mn, out) // (v - mn) wraps mod 2^32: ok
    }
    def estimate(s: ChunkStats): Long =
      hdr(s) + uvarintSize(zigzag(s.min)) + 1 + packedBytes(s.n, packWidth(s.rangeWidth))
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val mn = unzigzag(r.readUvarint())
      val width = r.readByte() & 0xff
      r.pos = unpackBits(r.buf, r.pos, start, len, width, dst, 0)
      var i = 0
      while (i < len) { dst(i) += mn; i += 1 }
    }
  }

  case object For extends FrameOfReference {
    val id: Byte = 2; val name = "for"
    protected def packWidth(rangeBits: Int): Int = rangeBits
  }

  /** Delta (frame-of-reference on successive differences) + zigzag +
    * bit-pack. Best for sorted / near-arithmetic sequences.
    */
  case object ForDelta extends IntCodec {
    val id: Byte = 3; val name = "fordelta"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      writeUvarint(out, zigzag(a(from)))
      if (n == 1) return
      var maxZ = 0L
      var i = 1
      while (i < n) {
        val d = a(from + i) - a(from + i - 1) // int wrap: exact mod 2^32
        val zu = zigzag(d) & 0xffffffffL
        if (zu > maxZ) maxZ = zu
        i += 1
      }
      val width = bitsLong(maxZ)
      out.addByte(width.toByte)
      packBitsDeltaZigzag(a, from, n, width, out)
    }
    def estimate(s: ChunkStats): Long =
      hdr(s) + uvarintSize(zigzag(s.min)) + 1 + packedBytes(s.n - 1, bitsLong(s.maxZigzagDelta))
    /** Prefix-dependent: the deltas [1, start+len) are summed from the
      * front, and nothing past the slice's end is unpacked or even
      * read. From start 0 they unpack and sum in place in dst.
      */
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      var prev = unzigzag(r.readUvarint()) // value 0
      val end = start + len
      val width = if (end > 1) r.readByte() & 0xff else 0
      if (start == 0) {
        dst(0) = prev
        r.pos = unpackBits(r.buf, r.pos, 0, end - 1, width, dst, 1)
        var i = 1
        while (i < end) { prev += unzigzag(dst(i)); dst(i) = prev; i += 1 }
      } else {
        val deltas = new Array[Int](end - 1) // deltas(i - 1) is delta i
        r.pos = unpackBits(r.buf, r.pos, 0, end - 1, width, deltas, 0)
        var i = 1
        while (i < start) { prev += unzigzag(deltas(i - 1)); i += 1 }
        while (i < end) { prev += unzigzag(deltas(i - 1)); dst(i - start) = prev; i += 1 }
      }
    }
  }

  /** Frame-of-reference with the pack width rounded UP to a whole number
    * of bytes (8/16/24/32). Pays up to 7 bits/value vs [[For]] but keeps
    * every value byte-aligned, which preserves the byte-level repetition
    * a downstream zstd pass exploits — on text-like token streams
    * zstd(for8) ≈ zstd(original text) while zstd(tight bitpack) is near
    * incompressible. Only ever chosen by the zstd-aware trial.
    */
  case object ForAligned extends FrameOfReference {
    val id: Byte = 6; val name = "for8"
    protected def packWidth(rangeBits: Int): Int = (rangeBits + 7) / 8 * 8
  }

  /** Frame-of-reference with byte-plane decomposition: offsets are
    * stored as w whole-byte planes (all byte-0s, then all byte-1s, ...)
    * instead of interleaved — the BYTE_STREAM_SPLIT idea applied to
    * FoR offsets. Pre-zstd it costs the same as [[ForAligned]]; post-
    * zstd it usually wins on skewed (Zipf-like) token streams because
    * the high-byte plane is near-constant and the low-byte plane keeps
    * its local repetition undiluted. Only ever chosen by the zstd-aware
    * trial.
    */
  case object ForSplit extends IntCodec {
    val id: Byte = 7; val name = "forsplit"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      val (mn, mx) = minMax(a, from, n)
      writeUvarint(out, zigzag(mn))
      val w = (bitsLong(mx.toLong - mn.toLong) + 7) / 8
      out.addByte(w.toByte)
      out.ensure(w * n + 8)
      var plane = 0
      while (plane < w) {
        val shift = plane * 8
        var i = 0
        while (i < n) {
          out.addByte(((a(from + i) - mn) >>> shift).toByte)
          i += 1
        }
        plane += 1
      }
    }
    def estimate(s: ChunkStats): Long =
      hdr(s) + uvarintSize(zigzag(s.min)) + 1 + ((s.rangeWidth + 7) / 8).toLong * s.n
    /** Value i's plane-p byte is at p0 + p*n + i: a slice reads only its
      * own bytes. Each plane adds its bits onto min (wrapping mod 2^32).
      */
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val mn = unzigzag(r.readUvarint())
      val w = r.readByte() & 0xff
      val b = r.buf
      val p0 = r.pos
      java.util.Arrays.fill(dst, 0, len, mn)
      var plane = 0
      while (plane < w) {
        val shift = plane * 8
        val pp = p0 + plane * n + start
        var i = 0
        while (i < len) { dst(i) += (b(pp + i) & 0xff) << shift; i += 1 }
        plane += 1
      }
      r.pos = p0 + w * n
    }
  }

  /** Run-length encoding: (zigzag-varint value, uvarint run length)*. */
  case object Rle extends IntCodec {
    val id: Byte = 4; val name = "rle"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      var i = 0
      while (i < n) {
        val v = a(from + i)
        var j = i + 1
        while (j < n && a(from + j) == v) j += 1
        writeUvarint(out, zigzag(v))
        writeUvarint(out, j - i)
        i = j
      }
    }
    def estimate(s: ChunkStats): Long = hdr(s) + s.rleBytes
    /** Walks the runs up to the slice's end: O(runs) work, O(len) output. */
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val end = start + len
      var seen = 0 // values in the runs read so far
      while (seen < end) {
        val v = unzigzag(r.readUvarint())
        val run = r.readUvarint()
        require(run > 0 && run <= n - seen, s"rle run of $run at value $seen overruns $n values")
        val runEnd = seen + run
        if (runEnd > start)
          java.util.Arrays.fill(dst, math.max(seen, start) - start, math.min(runEnd, end) - start, v)
        seen = runEnd
      }
    }
  }

  /** Dictionary: sorted distinct values (delta-varint coded) + bit-packed
    * codes. The read side gets O(1) distinct-values from the dictionary —
    * the trick the reference exploits via Parquet dictionary pages
    * (reference: search/materialize.go:358-380).
    *
    * Encode collects the distinct values in an open-addressing table
    * sized to the slice, sorts only those d values and looks each code
    * up by hash: O(n + d log d). A slice with more than [[MaxHashed]]
    * distinct values sorts a copy of itself and binary-searches each
    * code instead, O(n log n). Both write the same bytes.
    */
  case object Dict extends IntCodec {
    val id: Byte = 5; val name = "dict"
    /** Most distinct values the hash table holds; past it encode sorts. */
    final val MaxHashed = 1 << 16

    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      // a power of two at least twice the entries it can take; an
      // occupied slot holds its value in keys and a code >= 0 in codes
      val cap = math.min(n, MaxHashed)
      val slots = Integer.highestOneBit(math.max(cap - 1, 1)) << 2
      val shift = 32 - Integer.numberOfTrailingZeros(slots)
      val keys = new Array[Int](slots)
      val codes = new Array[Int](slots)
      java.util.Arrays.fill(codes, -1)
      // the slot of v: where it sits, or the empty slot it would take
      @inline def slotOf(v: Int): Int = {
        var h = (v * 0x9e3779b1) >>> shift
        while (codes(h) >= 0 && keys(h) != v) h = (h + 1) & (slots - 1)
        h
      }
      val values = new Array[Int](cap)
      var distinct = 0
      var i = 0
      while (i < n) {
        val v = a(from + i)
        val h = slotOf(v)
        if (codes(h) < 0) {
          if (distinct == MaxHashed) return encodeSorted(a, from, n, out)
          keys(h) = v; codes(h) = 0
          values(distinct) = v; distinct += 1
        }
        i += 1
      }
      java.util.Arrays.sort(values, 0, distinct)
      i = 0
      while (i < distinct) { codes(slotOf(values(i))) = i; i += 1 }
      writeDict(values, distinct, out)
      packCodes(a, from, n, bits(distinct - 1), out)(v => codes(slotOf(v)))
    }

    /** The O(n log n) encode of a slice past [[MaxHashed]] distinct
      * values: sort a copy, dedup it in place, binary-search each code.
      */
    private def encodeSorted(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      val sorted = new Array[Int](n)
      System.arraycopy(a, from, sorted, 0, n)
      java.util.Arrays.sort(sorted)
      var distinct = 1
      var i = 1
      while (i < n) {
        if (sorted(i) != sorted(i - 1)) { sorted(distinct) = sorted(i); distinct += 1 }
        i += 1
      }
      writeDict(sorted, distinct, out)
      packCodes(a, from, n, bits(distinct - 1), out)(java.util.Arrays.binarySearch(sorted, 0, distinct, _))
    }

    /** The dictionary header: count, first value, then ascending deltas. */
    private def writeDict(sorted: Array[Int], distinct: Int, out: ByteSink): Unit = {
      writeUvarint(out, distinct)
      writeUvarint(out, zigzag(sorted(0)))
      var i = 1
      while (i < distinct) {
        writeUvarintLong(out, sorted(i).toLong - sorted(i - 1).toLong)
        i += 1
      }
    }

    /** The width byte, then each value's code packed inline at `width`
      * bits (no codes array).
      */
    private def packCodes(a: Array[Int], from: Int, n: Int, width: Int, out: ByteSink)(
        code: Int => Int): Unit = {
      out.addByte(width.toByte)
      out.ensure(BitIO.packedBytes(n, width) + 8)
      if (width > 0) {
        var acc = 0L
        var accBits = 0
        val mask = (1L << width) - 1
        var i = 0
        while (i < n) {
          acc |= (code(a(from + i)) & mask) << accBits
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
    }
    def estimate(s: ChunkStats): Long =
      if (s.distinct < 0) Long.MaxValue // overflowed the cap: reject
      else {
        // dict values ~ delta-varint coded; bound each delta by the
        // range spread / distinct (plus varint slack)
        val avgDeltaBits = math.max(1, s.rangeWidth - bits(math.max(s.distinct - 1, 1)) + 1)
        val dictBytes = uvarintSize(s.distinct) + 5L + s.distinct.toLong * ((avgDeltaBits + 6) / 7 + 1)
        hdr(s) + dictBytes + packedBytes(s.n, bits(s.distinct - 1))
      }
    /** The sorted distinct values, with r just past the (id, n) header
      * of a non-empty block; leaves r.pos on the code width byte. Each
      * entry takes a byte or more: a larger count throws, unallocated.
      */
    private[IntCodec] def values(r: Reader): Array[Int] = {
      val distinct = r.readUvarint()
      require(distinct > 0 && distinct <= r.remaining,
        s"dict of $distinct values in ${r.remaining} bytes")
      val dict = new Array[Int](distinct)
      dict(0) = unzigzag(r.readUvarint())
      var i = 1
      while (i < dict.length) {
        dict(i) = (dict(i - 1).toLong + r.readUvarintLong()).toInt
        i += 1
      }
      dict
    }
    /** O(distinct) header, then only the slice's packed codes. */
    private[codec] def decodeInto(r: Reader, n: Int, start: Int, len: Int, dst: Array[Int]): Unit = {
      val dict = values(r)
      val width = r.readByte() & 0xff
      r.pos = unpackBits(r.buf, r.pos, start, len, width, dst, 0)
      var i = 0
      while (i < len) { dst(i) = dict(dst(i)); i += 1 }
    }
  }

  val all: Seq[IntCodec] = Seq(Plain, BitPack, For, ForDelta, Rle, Dict, ForAligned, ForSplit)
  private val byId: Array[IntCodec] = {
    val arr = new Array[IntCodec](all.map(_.id.toInt).max + 1)
    all.foreach(c => arr(c.id) = c)
    arr
  }

  /** The codec of an id byte; an unknown id throws IllegalArgumentException. */
  def forId(id: Byte): IntCodec =
    if (id >= 0 && id < byId.length && byId(id) != null) byId(id)
    else throw new IllegalArgumentException(s"unknown codec id ${id & 0xff}")

  /** O(distinct) read of the sorted dictionary values of a Dict-coded
    * buffer, WITHOUT unpacking the per-value codes — the analog of the
    * reference's dictionary-page-only distinct materialization
    * (reference: search/materialize.go:358-380: read the dict page,
    * never the rows). None when the buffer used a different codec.
    */
  def dictValues(buf: Array[Byte]): Option[Array[Int]] = {
    val r = new Reader(buf, 0)
    if (r.readByte() != Dict.id) None
    else if (r.readUvarint() == 0) Some(Array.emptyIntArray)
    else Some(Dict.values(r))
  }

  /** Decode only values [start, start+len) of a self-describing buffer,
    * materializing O(len) ints instead of O(n) — the within-chunk analog
    * of the reference's page-grain row-range materialization
    * (reference: search/constraint.go:520-595 binary search +
    * search/iterators.go:359-494 RowRangesValueIterator): a point lookup
    * should decode one doc's slice, not the whole ~4M-token chunk.
    *
    * Offset-addressable codecs (plain, bitpack, for, for8, forsplit,
    * dict) jump straight to the slice's bits/bytes — values outside the
    * slice are never read (see the corruption-outside-slice unit test).
    * RLE walks its runs (O(runs) work, still O(len) materialized).
    * ForDelta needs the running prefix, so it decodes deltas from the
    * front — but only up to the slice's END: O(start+len) work, and
    * bytes after the slice's last delta are never read (early exit).
    */
  def decodeRange(buf: Array[Byte], start: Int, len: Int): Array[Int] = {
    val r = new Reader(buf, 0)
    val c = forId(r.readByte())
    val n = r.readUvarint()
    require(start >= 0 && len >= 0 && start + len <= n,
      s"range [$start, ${start + len}) out of bounds for $n values")
    val dst = new Array[Int](len)
    if (len > 0) c.decodeInto(r, n, start, len, dst)
    dst
  }

  /** The value count in the (id, n) header of a self-describing buffer,
    * read without decoding or allocating: a block of width 0 is valid
    * with any count in O(1) bytes, so a caller checks the count against
    * the one it expects before a decode sizes an array by it.
    */
  def count(buf: Array[Byte]): Int = {
    val r = new Reader(buf, 0)
    forId(r.readByte())
    val n = r.readUvarint()
    require(n >= 0, s"negative value count $n")
    n
  }

  /** Decode a self-describing buffer produced by any IntCodec. */
  def decode(buf: Array[Byte]): Array[Int] = decode(new Reader(buf, 0))

  /** Decode the block at r.pos (the whole-range slice) and leave r.pos at
    * the end of its payload: [[StrCodec]] embeds int blocks back to back.
    */
  def decode(r: Reader): Array[Int] = {
    val c = forId(r.readByte())
    val n = r.readUvarint()
    val dst = new Array[Int](n)
    if (n > 0) c.decodeInto(r, n, 0, n, dst)
    dst
  }
}
