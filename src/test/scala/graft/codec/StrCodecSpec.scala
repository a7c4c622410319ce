package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import java.nio.charset.StandardCharsets.UTF_8

/** FSST + string column codec round-trips per FIXTURES.md §1 (shared
  * prefixes, repeated bigrams, 1-char / empty strings, 8-byte symbols,
  * >255-symbol pressure).
  */
class StrCodecSpec extends AnyFunSuite {

  def forAll[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default.withSize(1 + (i * 7) % 150),
        org.scalacheck.rng.Seed(7L + i)).foreach(f)
      i += 1
    }
  }

  val strCases: Seq[(String, Array[String])] = Seq(
    "empty-column" -> Array.empty[String],
    "empty-strings" -> Array("", "", ""),
    "one-char" -> Array("a", "b", "a", "c"),
    "low-cardinality-source" -> Array.tabulate(10000)(i =>
      Seq("web", "books", "code", "wiki")((i * 7919) % 4)),
    "shared-prefix-docids" -> Array.tabulate(5000)(i => f"doc_$i%012d"),
    "repeated-bigrams" -> Array.fill(200)("abababababababab"),
    "8-byte-symbols" -> Array.fill(300)("ABCDEFGH-ABCDEFGH-ABCDEFGH"),
    "symbol-pressure" -> Array.tabulate(3000)(i =>
      s"${(i * 2654435761L % 1000)}-${(i * 48271) % 997}-xyzzy"),
    "unicode" -> Array("héllo wörld", "日本語テキスト", "emoji 🎉🎊", "", "mixd ascii"),
    "long-text" -> Array.tabulate(50)(i =>
      ("the quick brown fox jumps over the lazy dog " * (i + 1)).take(2000))
  )

  for ((name, data) <- strCases) {
    test(s"str auto codec round-trips $name") {
      val (id, enc) = StrCodec.encodeAuto(data)
      val dec = StrCodec.decode(enc)
      assert(dec.length == data.length)
      var i = 0
      while (i < data.length) { assert(dec(i) == data(i), s"row $i of $name"); i += 1 }
      info(s"$name: codec=${StrCodec.name(id)} bytes=${enc.length} raw=${data.map(_.getBytes(UTF_8).length).sum}")
    }
  }

  test("unknown codec id throws IllegalArgumentException") {
    intercept[IllegalArgumentException](StrCodec.decode(Array[Byte](9, 0)))
    // an int block is not a string block
    intercept[IllegalArgumentException](StrCodec.decode(IntCodec.Plain.encode(Array(1, 2))))
  }

  test("low-cardinality picks dict and shrinks hard") {
    val data = Array.tabulate(10000)(i => Seq("web", "books", "code", "wiki")((i * 7919) % 4))
    val (id, enc) = StrCodec.encodeAuto(data)
    assert(id == StrCodec.DictId)
    assert(enc.length < data.map(_.length).sum / 10)
    // dictionary-only distinct: O(distinct), no code decode
    assert(StrCodec.dictValues(enc).get.toSeq == Seq("books", "code", "web", "wiki"))
    // non-dict buffers answer None
    val (pid, penc) = StrCodec.encodeAuto(Array.tabulate(100)(i => s"unique-$i-${i * 31}"))
    if (pid != StrCodec.DictId) assert(StrCodec.dictValues(penc).isEmpty)
  }

  test("high-cardinality text: selector picks the post-zstd winner") {
    // the choice is judged AFTER the downstream zstd pass; on repetitive
    // URLs zstd(plain) usually beats zstd(FSST-coded), so we assert
    // optimality of the outcome, not a fixed codec identity
    val data = Array.tabulate(2000)(i => s"https://example.com/articles/2026/08/entry-$i.html")
    val raw = data.map(_.getBytes(UTF_8).length).sum
    val (id, enc) = StrCodec.encodeAuto(data)
    assert(StrCodec.decode(enc).sameElements(data))
    val onDisk = Selector.zstdSize(enc)
    val plainZ = Selector.zstdSize(data.mkString.getBytes(UTF_8))
    info(s"chosen=${StrCodec.name(id)} raw=$raw enc=${enc.length} zstd(enc)=$onDisk zstd(plain)=$plainZ")
    assert(onDisk <= plainZ * 11 / 10, "chosen codec must be within 10% of plain post-zstd")
  }

  test("FSST itself shrinks symbol-heavy text pre-zstd") {
    val data = Array.tabulate(2000)(i => s"https://example.com/articles/2026/08/entry-$i.html")
    val (buf, _) = {
      val b = data.mkString.getBytes(UTF_8)
      (b, b.length)
    }
    val out = new ByteSink()
    Fsst.compress(buf, 0, buf.length, out)
    assert(out.size < buf.length / 2, s"fsst ${out.size} vs raw ${buf.length}")
    assert(Fsst.decompress(new BitIO.Reader(out.result(), 0)).sameElements(buf))
  }

  test("fsst raw bytes round-trip incl. all byte values") {
    val bytes = Array.tabulate(4096)(i => (i % 256).toByte)
    val out = new ByteSink()
    Fsst.compress(bytes, 0, bytes.length, out)
    val dec = Fsst.decompress(new BitIO.Reader(out.result(), 0))
    assert(dec.sameElements(bytes))
  }

  test("fsst escape byte 0xFF in input survives") {
    val bytes = Array.fill(1000)(0xff.toByte)
    val out = new ByteSink()
    Fsst.compress(bytes, 0, bytes.length, out)
    val dec = Fsst.decompress(new BitIO.Reader(out.result(), 0))
    assert(dec.sameElements(bytes))
  }

  test("property: fsst round-trips arbitrary byte arrays") {
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val out = new ByteSink()
      Fsst.compress(bytes, 0, bytes.length, out)
      val dec = Fsst.decompress(new BitIO.Reader(out.result(), 0))
      assert(dec.sameElements(bytes))
    }
  }

  test("property: str auto round-trips arbitrary string arrays") {
    val genStr = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf("web", "books", "code", "wiki"),
      Gen.listOf(Gen.chooseNum(0, 0x10ff)).map(_.map(_.toChar).mkString)
    )
    forAll(Gen.containerOf[Array, String](genStr)) { arr =>
      val (_, enc) = StrCodec.encodeAuto(arr)
      val dec = StrCodec.decode(enc)
      assert(dec.length == arr.length)
      assert(dec.sameElements(arr))
    }
  }

  /** `buf` with the uvarint that follows the codec id byte and `skip`
    * further uvarints replaced by `v`.
    */
  private def withHeader(buf: Array[Byte], skip: Int, v: Int): Array[Byte] = {
    val r = new BitIO.Reader(buf, 1)
    (0 until skip).foreach(_ => r.readUvarint())
    val at = r.pos
    r.readUvarint()
    val out = new ByteSink()
    out.addBytes(buf, 0, at)
    BitIO.writeUvarint(out, v)
    out.addBytes(buf, r.pos, buf.length - r.pos)
    out.result()
  }

  test("a header row count that disagrees with the blocks throws") {
    val plainRows = Array("alpha", "beta", "gamma")
    val (pid, plain) = StrCodec.encodeAuto(plainRows)
    assert(pid == StrCodec.PlainId)
    val dictRows = Array.tabulate(100)(i => Seq("web", "books", "code")(i % 3))
    val (did, dict) = StrCodec.encodeAuto(dictRows)
    assert(did == StrCodec.DictId)
    // the encoder picks FSST only when it wins after zstd, so lay out
    // an FSST buffer directly: id, row count, lengths block, symbols
    val fsstRows = Array.fill(40)("ABCDEFGH-ABCDEFGH")
    val fsst = {
      val raw = fsstRows.mkString.getBytes(UTF_8)
      val out = new ByteSink()
      out.addByte(StrCodec.FsstId)
      BitIO.writeUvarint(out, fsstRows.length)
      out.addBytes(IntCodec.Plain.encode(fsstRows.map(_.length)))
      Fsst.compress(raw, 0, raw.length, out)
      out.result()
    }
    for ((name, buf, rows) <- Seq(("plain", plain, plainRows), ("dict", dict, dictRows),
        ("fsst", fsst, fsstRows))) {
      assert(StrCodec.decode(buf).sameElements(rows), name)
      val n = rows.length
      for (bad <- Seq(n - 1, n + 1, 1 << 30))
        intercept[IllegalArgumentException](StrCodec.decode(withHeader(buf, 0, bad)))
    }
    // the dictionary's own entry count against its lengths block
    for (bad <- Seq(2, 4, 1 << 30))
      intercept[IllegalArgumentException](StrCodec.decode(withHeader(dict, 1, bad)))
    intercept[IllegalArgumentException](StrCodec.dictValues(withHeader(dict, 1, 2)))
  }
}
