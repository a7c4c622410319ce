package graft.codec

import java.nio.charset.StandardCharsets.UTF_8
import BitIO._

/** Column-chunk codec for string columns (doc_id, source).
  *
  * Self-describing container: byte 0 is the codec id. Dictionary for
  * low cardinality (the reference's RLE_DICTIONARY label columns,
  * schema/schema_builder.go:105), FSST for medium-cardinality text,
  * plain otherwise. Lengths ride as an embedded self-describing
  * [[IntCodec]] block, so RLE/bitpack compress them for free.
  */
object StrCodec {
  final val PlainId: Byte = 10
  final val DictId: Byte = 11
  final val FsstId: Byte = 12

  def name(id: Byte): String = id match {
    case PlainId => "str_plain"
    case DictId  => "str_dict"
    case FsstId  => "str_fsst"
    case other   => s"str_$other"
  }

  private def concatUtf8(values: Array[String]): (Array[Byte], Array[Int]) = {
    val lens = new Array[Int](values.length)
    var total = 0L
    var i = 0
    val raw = new Array[Array[Byte]](values.length)
    while (i < values.length) {
      val b = values(i).getBytes(UTF_8)
      raw(i) = b
      lens(i) = b.length
      total += b.length
      i += 1
    }
    val buf = new Array[Byte](total.toInt)
    var off = 0
    i = 0
    while (i < values.length) {
      System.arraycopy(raw(i), 0, buf, off, raw(i).length)
      off += raw(i).length
      i += 1
    }
    (buf, lens)
  }

  private def writeIntBlock(a: Array[Int], out: ByteSink): Unit = {
    val (_, bytes) = Selector.encodeAuto(a)
    out.addBytes(bytes)
  }

  /** Encode with auto-selected string codec. Returns (codecId, bytes). */
  def encodeAuto(values: Array[String]): (Byte, Array[Byte]) = {
    val n = values.length
    val out = new ByteSink(64)
    if (n == 0) {
      out.addByte(PlainId); writeUvarint(out, 0)
      writeIntBlock(Array.emptyIntArray, out)
      writeUvarint(out, 0)
      return (PlainId, out.result())
    }
    // cardinality probe
    val set = new java.util.HashSet[String]()
    var i = 0
    var totalChars = 0L
    while (i < n && set.size <= (1 << 16)) {
      set.add(values(i)); totalChars += values(i).length; i += 1
    }
    val distinct = if (i == n) set.size else Int.MaxValue
    if (distinct <= math.max(1, n / 2) && distinct <= (1 << 16)) {
      // dictionary: sorted distinct values + codes
      val dict = set.toArray(new Array[String](set.size))
      java.util.Arrays.sort(dict, java.util.Comparator.naturalOrder[String]())
      val codeOf = new java.util.HashMap[String, Integer](dict.length * 2)
      i = 0
      while (i < dict.length) { codeOf.put(dict(i), i); i += 1 }
      val codes = new Array[Int](n)
      i = 0
      while (i < n) { codes(i) = codeOf.get(values(i)); i += 1 }
      out.addByte(DictId)
      writeUvarint(out, n)
      writeUvarint(out, dict.length)
      val (dbuf, dlens) = concatUtf8(dict)
      writeIntBlock(dlens, out)
      writeUvarint(out, dbuf.length)
      out.addBytes(dbuf)
      writeIntBlock(codes, out)
      (DictId, out.result())
    } else {
      val (buf, lens) = concatUtf8(values)
      // FSST trial on a sample, judged POST-zstd: the parquet layer
      // zstd-compresses the cell either way, so FSST only wins if its
      // output still compresses smaller than zstd(plain) would. A
      // column of 64 bytes or less stays plain, untried
      def fsstWins: Boolean = {
        val sampleLen = math.min(buf.length, Fsst.MaxSampleBytes)
        val trial = new ByteSink(sampleLen)
        Fsst.compress(buf, 0, sampleLen, trial)
        Selector.zstdSize(trial.result()) < Selector.zstdSize(java.util.Arrays.copyOfRange(buf, 0, sampleLen))
      }
      if (buf.length > 64 && fsstWins) {
        out.addByte(FsstId)
        writeUvarint(out, n)
        writeIntBlock(lens, out)
        Fsst.compress(buf, 0, buf.length, out)
        (FsstId, out.result())
      } else {
        out.addByte(PlainId)
        writeUvarint(out, n)
        writeIntBlock(lens, out)
        writeUvarint(out, buf.length)
        out.addBytes(buf)
        (PlainId, out.result())
      }
    }
  }

  /** The n strings whose UTF-8 bytes lie back to back from buf(off),
    * lens(i) bytes each.
    */
  private def strings(buf: Array[Byte], off0: Int, lens: Array[Int], n: Int): Array[String] = {
    val out = new Array[String](n)
    var off = off0
    var i = 0
    while (i < n) {
      out(i) = new String(buf, off, lens(i), UTF_8)
      off += lens(i)
      i += 1
    }
    out
  }

  /** The dictionary block of a DictId buffer (entry count, lengths
    * block, byte count, bytes), with r just past the row count; leaves
    * r.pos after the dictionary bytes.
    */
  private def readDict(r: Reader): Array[String] = {
    val dn = r.readUvarint()
    val dlens = IntCodec.decode(r)
    require(dlens.length == dn, s"str dict: $dn entries, ${dlens.length} lengths")
    val total = r.readUvarint()
    val dict = strings(r.buf, r.pos, dlens, dn)
    r.pos += total
    dict
  }

  /** The row count in the (id, n) header of a string buffer, read
    * without decoding anything ([[IntCodec.count]]'s twin).
    */
  def count(buf: Array[Byte]): Int = {
    val r = new Reader(buf, 0)
    val id = r.readByte()
    require(id == PlainId || id == DictId || id == FsstId, s"unknown str codec $id")
    val n = r.readUvarint()
    require(n >= 0, s"negative row count $n")
    n
  }

  def decode(buf: Array[Byte]): Array[String] = decode(new Reader(buf, 0))

  def decode(r: Reader): Array[String] = {
    val id = r.readByte()
    val n = r.readUvarint()
    id match {
      case PlainId =>
        val lens = IntCodec.decode(r)
        require(lens.length == n, s"str plain: $n rows, ${lens.length} lengths")
        val total = r.readUvarint()
        val out = strings(r.buf, r.pos, lens, n)
        r.pos += total
        out
      case DictId =>
        val dict = readDict(r)
        val codes = IntCodec.decode(r)
        require(codes.length == n, s"str dict: $n rows, ${codes.length} codes")
        val out = new Array[String](n)
        var i = 0
        while (i < n) { out(i) = dict(codes(i)); i += 1 }
        out
      case FsstId =>
        val lens = IntCodec.decode(r)
        require(lens.length == n, s"str fsst: $n rows, ${lens.length} lengths")
        strings(Fsst.decompress(r), 0, lens, n)
      case other => throw new IllegalArgumentException(s"unknown str codec $other")
    }
  }
}
