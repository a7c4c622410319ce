package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class FloatCodecSpec extends AnyFunSuite {
  import PropCheck.forAll

  private def bitsEqual(a: Array[Float], b: Array[Float]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Float.floatToRawIntBits(a(i)) == java.lang.Float.floatToRawIntBits(b(i)))

  private val anyFloat: Gen[Float] =
    Gen.chooseNum(Int.MinValue, Int.MaxValue).map(java.lang.Float.intBitsToFloat)

  test("round-trip is bit-identical for arbitrary bit patterns (incl. NaN payloads)") {
    forAll(Gen.listOf(anyFloat)) { xs =>
      val a = xs.toArray
      for (c <- FloatCodec.all)
        assert(bitsEqual(FloatCodec.decode(c.encode(a)), a), c.name)
      val (_, auto) = FloatCodec.encodeAutoZstdAware(a)
      assert(bitsEqual(FloatCodec.decode(auto), a), "auto")
    }
  }

  test("special values survive exactly") {
    val a = Array(0.0f, -0.0f, Float.NaN,
      java.lang.Float.intBitsToFloat(0x7fc00001), // non-canonical NaN payload
      java.lang.Float.intBitsToFloat(0xff800001), // signaling-style NaN
      Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinPositiveValue, -Float.MinPositiveValue, // subnormals
      Float.MaxValue, Float.MinValue)
    for (c <- FloatCodec.all)
      assert(bitsEqual(FloatCodec.decode(c.encode(a)), a), c.name)
  }

  test("empty and single-element chunks") {
    for (c <- FloatCodec.all) {
      assert(FloatCodec.decode(c.encode(Array.empty[Float])).isEmpty)
      assert(bitsEqual(FloatCodec.decode(c.encode(Array(1.5f))), Array(1.5f)))
    }
  }

  test("split beats plain post-zstd on embedding-like data") {
    // smooth small-magnitude values: shared sign/exponent structure
    val r = new scala.util.Random(7)
    val a = Array.fill(64 * 1024)((r.nextGaussian() * 0.1).toFloat)
    val zPlain = Selector.zstdSize(FloatCodec.Plain.encode(a))
    val zSplit = Selector.zstdSize(FloatCodec.Split.encode(a))
    assert(zSplit < zPlain,
      s"plane split must help zstd on embeddings: split=$zSplit plain=$zPlain")
    val (chosen, _) = FloatCodec.encodeAutoZstdAware(a)
    assert(chosen == FloatCodec.Split)
  }

  test("truncated split payload throws instead of decoding garbage") {
    val enc = FloatCodec.Split.encode(Array.fill(100)(1.0f))
    val cut = java.util.Arrays.copyOf(enc, enc.length - 10)
    intercept[IllegalArgumentException](FloatCodec.decode(cut))
  }

  test("a count that says more values than the payload bytes hold throws before any allocation") {
    val payload = FloatCodec.Plain.encode(Array(1.0f, 2.0f)).drop(2) // 8 bytes, both layouts
    def forged(c: FloatCodec, n: Int): Array[Byte] = {
      val out = new ByteSink()
      out.addByte(c.id)
      BitIO.writeUvarint(out, n)
      out.result() ++ payload
    }
    for (c <- FloatCodec.all; n <- Seq(3, Int.MaxValue, -1)) {
      intercept[IllegalArgumentException](FloatCodec.decode(forged(c, n)))
      info(s"${c.name} count $n over 8 bytes: throws IllegalArgumentException")
    }
    FloatCodec.all.foreach(c => assert(FloatCodec.decode(forged(c, 2)).length == 2))
  }

  test("unknown codec id throws") {
    intercept[IllegalArgumentException](FloatCodec.decode(Array[Byte](9, 0)))
  }
}
