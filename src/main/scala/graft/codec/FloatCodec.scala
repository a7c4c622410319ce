package graft.codec

import BitIO._

/** Lightweight compression codecs for float32 column chunks (embedding
  * vectors — the training-data payload the int token codecs don't
  * cover). Same self-describing tagged-container discipline as
  * [[IntCodec]] (byte 0 = codec id, then uvarint count), and the same
  * bit-exactness bar: round-trips reproduce every IEEE-754 bit pattern
  * including NaN payloads, signed zeros and subnormals
  * (`floatToRawIntBits` equality, never `==`).
  */
sealed trait FloatCodec {
  def id: Byte
  def name: String
  /** Encode a[from, from+n) into out (appends; writes id byte first). */
  def encode(a: Array[Float], from: Int, n: Int, out: ByteSink): Unit
  final def encode(a: Array[Float]): Array[Byte] = {
    val out = new ByteSink(4 * a.length + 16)
    encode(a, 0, a.length, out)
    out.result()
  }
  /** Decode the n values after the (id, n) header at r into dst. */
  private[codec] def decodeInto(r: Reader, n: Int, dst: Array[Float]): Unit
}

object FloatCodec {

  /** Little-endian raw IEEE bits. */
  case object Plain extends FloatCodec {
    val id: Byte = 0; val name = "fplain"
    def encode(a: Array[Float], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      var i = 0
      while (i < n) {
        out.addIntLE(java.lang.Float.floatToRawIntBits(a(from + i)))
        i += 1
      }
    }
    private[codec] def decodeInto(r: Reader, n: Int, dst: Array[Float]): Unit = {
      var i = 0
      while (i < n) {
        val bits = (r.readByte() & 0xff) | (r.readByte() & 0xff) << 8 |
          (r.readByte() & 0xff) << 16 | (r.readByte() & 0xff) << 24
        dst(i) = java.lang.Float.intBitsToFloat(bits)
        i += 1
      }
    }
  }

  /** Byte-plane decomposition (the public Parquet BYTE_STREAM_SPLIT
    * idea, also behind [[IntCodec.ForSplit]]): byte k of every value is
    * grouped into plane k. Embedding floats share sign/exponent
    * structure, so the high planes are long runs of a handful of byte
    * values — highly compressible by the downstream zstd pass — while
    * interleaved plain float bytes look random to it.
    */
  case object Split extends FloatCodec {
    val id: Byte = 1; val name = "fsplit"
    def encode(a: Array[Float], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      out.ensure(4 * n)
      var plane = 0
      while (plane < 4) {
        val shift = 8 * plane
        var i = 0
        while (i < n) {
          out.addByte(((java.lang.Float.floatToRawIntBits(a(from + i)) >>> shift) & 0xff).toByte)
          i += 1
        }
        plane += 1
      }
    }
    private[codec] def decodeInto(r: Reader, n: Int, dst: Array[Float]): Unit = {
      val buf = r.buf
      val base = r.pos
      if (buf.length - base < 4 * n)
        throw new IllegalArgumentException(
          s"fsplit payload truncated: need ${4 * n} bytes, have ${buf.length - base}")
      var i = 0
      while (i < n) {
        val bits = (buf(base + i) & 0xff) |
          (buf(base + n + i) & 0xff) << 8 |
          (buf(base + 2 * n + i) & 0xff) << 16 |
          (buf(base + 3 * n + i) & 0xff) << 24
        dst(i) = java.lang.Float.intBitsToFloat(bits)
        i += 1
      }
      r.pos = base + 4 * n
    }
  }

  val all: Seq[FloatCodec] = Seq(Plain, Split)

  def decode(buf: Array[Byte]): Array[Float] = {
    val r = new Reader(buf, 0)
    val id = r.readByte()
    val c = all.find(_.id == id).getOrElse(
      throw new IllegalArgumentException(s"unknown FloatCodec id ${id & 0xff}"))
    // both codecs read exactly 4n payload bytes: bound n by them before
    // sizing the output
    val n = r.readUvarint()
    require(n >= 0 && n <= r.remaining / 4,
      s"float count $n exceeds the ${r.remaining} payload bytes")
    val out = new Array[Float](n)
    c.decodeInto(r, n, out)
    out
  }

  /** Choose the codec minimizing POST-zstd bytes of a contiguous trial
    * window — the same true-objective selection as
    * [[Selector.encodeAutoZstdAware]]: both candidates are identical in
    * raw size (4n), the downstream file-level zstd pass is what the
    * plane decomposition exists to help.
    */
  def encodeAutoZstdAware(a: Array[Float], from: Int, n: Int): (FloatCodec, Array[Byte]) = {
    if (n < 1024) { // too small for a meaningful trial; planes never hurt
      val out = new ByteSink(4 * n + 16)
      Split.encode(a, from, n, out)
      return (Split, out.result())
    }
    val tN = math.min(n, Selector.TrialValues)
    val tFrom = from + (n - tN) / 2
    val trials = all.map { c =>
      val sink = new ByteSink(4 * tN + 16)
      c.encode(a, tFrom, tN, sink)
      (c, sink.result())
    }
    val (winner, trialBytes) = trials.minBy { case (_, b) => Selector.zstdSize(b) }
    // reuse the winning trial as the full encoding when the trial
    // covered the whole window (n <= TrialValues; tN == n implies
    // tFrom == from). q51-style batches flush only after a whole
    // vector, so their n lands in [TrialValues, TrialValues + dim) and
    // usually misses this path — the double encode there is accepted:
    // splitting the last vector across batches to hit the fast path
    // would buy one pass over ~64 Ki floats at the cost of a more
    // fragile batch invariant.
    if (tN == n) (winner, trialBytes)
    else {
      val out = new ByteSink(4 * n + 16)
      winner.encode(a, from, n, out)
      (winner, out.result())
    }
  }

  def encodeAutoZstdAware(a: Array[Float]): (FloatCodec, Array[Byte]) =
    encodeAutoZstdAware(a, 0, a.length)
}
