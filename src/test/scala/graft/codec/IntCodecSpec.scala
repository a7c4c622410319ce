package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Round-trip tables per FIXTURES.md §1; mirrors the reference's
  * enumerated-case style (reference: search/rowrange_test.go:21-288)
  * and its keystone encode/decode suite (schema/encoder_test.go:31-97).
  */
class IntCodecSpec extends AnyFunSuite {

  import PropCheck.forAll

  val cases: Seq[(String, Array[Int])] = Seq(
    "empty" -> Array.emptyIntArray,
    "singleton" -> Array(42),
    "singleton-negative" -> Array(-42),
    "int-extremes" -> Array(Int.MinValue, Int.MaxValue, 0, -1, 1),
    "all-identical" -> Array.fill(5000)(7),
    "long-runs" -> (Array.fill(2500)(7) ++ Array.fill(2500)(-3)),
    "alternating" -> Array.tabulate(1000)(i => i % 2),
    "run-length-1" -> Array.tabulate(1000)(i => i * 17 % 9973),
    "sorted-ascending" -> Array.tabulate(10000)(i => i * 3),
    "arithmetic" -> Array.tabulate(1000)(i => 1000000 + i * 12345),
    "strictly-decreasing" -> Array.tabulate(1000)(i => 100000 - i * 7),
    "small-range-unsorted" -> Array.tabulate(1000)(i => 500 + (i * 7919) % 16),
    "negative-deltas" -> Array(100, 50, 75, 25, 90, -10, -5),
    "dict-16-distinct" -> Array.tabulate(4096)(i => (i * 2654435761L % 16).toInt * 1000),
    "dict-256-distinct" -> Array.tabulate(4096)(i => (i * 2654435761L % 256).toInt - 128),
    "vocab-50k" -> Array.tabulate(8192)(i => (i * 2654435761L % 50257).toInt),
    "full-width" -> Array.tabulate(100)(i => (i * 0x9e3779b9).toInt),
    "max-range" -> Array(Int.MinValue, Int.MaxValue),
    "zipfish" -> Array.tabulate(4096)(i => {
      val r = (i * 48271L % 0x7fffffff).toDouble / 0x7fffffff
      (1.0 / (0.001 + r * r) % 50257).toInt
    })
  )

  for (codec <- IntCodec.all; (name, data) <- cases) {
    test(s"${codec.name} round-trips $name") {
      val enc = codec.encode(data)
      assert(enc(0) == codec.id)
      val dec = IntCodec.decode(enc)
      assert(dec.sameElements(data), s"${codec.name} failed on $name")
    }
  }

  for ((name, data) <- cases) {
    test(s"auto-selector round-trips $name and never beats-losses plain badly") {
      val (c, enc) = Selector.encodeAuto(data)
      assert(IntCodec.decode(enc).sameElements(data), s"auto($c) failed on $name")
      // never more than plain + small slack
      assert(enc.length <= 4 * data.length + 16,
        s"auto chose ${c.name} at ${enc.length}B vs plain ${4 * data.length}B")
    }
  }

  test("bit widths: values < 2^k pack at width k") {
    for (k <- Seq(1, 4, 8, 12, 17, 31)) {
      val max = if (k == 31) Int.MaxValue else (1 << k) - 1
      val data = Array.tabulate(1024)(i => (i.toLong * 2654435761L % (max.toLong + 1)).toInt)
      val enc = IntCodec.For.encode(data)
      val dec = IntCodec.decode(enc)
      assert(dec.sameElements(data))
      // payload ~ n*width/8 (+ header slack)
      val mn = data.min
      val width = BitIO.bitsLong(data.max.toLong - mn.toLong)
      assert(enc.length <= BitIO.packedBytes(1024, width) + 16)
    }
  }

  test("selector picks RLE for long runs; constant arrays encode tiny") {
    // multi-value runs: RLE must beat FoR/bitpack (which pay width*n)
    val runs = Array.fill(50000)(9) ++ Array.fill(50000)(-3) ++ Array.fill(50000)(12)
    assert(Selector.choose(runs, 0, runs.length) == IntCodec.Rle)
    // all-constant: FoR at width 0 ties RLE; either way ~header-sized
    val const = Array.fill(100000)(9)
    val (_, enc) = Selector.encodeAuto(const)
    assert(enc.length < 32)
  }

  test("selector picks delta-family for sorted sequences") {
    val data = Array.tabulate(100000)(i => i * 3 + 7)
    val c = Selector.choose(data, 0, data.length)
    assert(c == IntCodec.ForDelta, s"got $c")
  }

  test("selector picks dict or pack for low-cardinality wide-spread values") {
    val vals = Array(5, 1000000, -2000000000, 77777777)
    val data = Array.tabulate(100000)(i => vals((i * 7919) % 4))
    val (c, enc) = Selector.encodeAuto(data)
    assert(enc.length < 4 * data.length / 8, s"chose ${c.name} at ${enc.length}")
  }

  test("sampled stats: choose and the zstd trial see n and rleBytes at full scale") {
    // 16-bit values with no runs: RLE costs ~4 bytes a value, far behind
    // the frame-of-reference codecs — unless its bytes stay at the scale
    // of the 1-in-5 sample, where they would rank it first
    val rnd = new scala.util.Random(17)
    val n = 4 * Selector.SampleThreshold
    val a = Array.fill(n)(rnd.nextInt(1 << 16))
    val s = Selector.sampledStats(a, 0, n)
    val exact = Selector.stats(a, 0, n)
    assert(s.n == n)
    assert(math.abs(s.rleBytes.toDouble / exact.rleBytes - 1) < 0.05,
      s"sampled rleBytes ${s.rleBytes} vs exact ${exact.rleBytes}")
    assert(Selector.choose(a, 0, n) == Selector.chooseFromStats(s))
    assert(!Selector.trialCandidates(s).contains(IntCodec.Rle),
      s"trial candidates ${Selector.trialCandidates(s).map(_.name)}")
    // at or under the threshold the stats are exact, never sampled
    val small = a.take(Selector.SampleThreshold)
    assert(Selector.sampledStats(small, 0, small.length) ==
      Selector.stats(small, 0, small.length))
  }

  test("stats: exact on small input") {
    val s = Selector.stats(Array(3, 3, 7, 7, 7, 1), 0, 6)
    assert(s.n == 6 && s.min == 1 && s.max == 7 && s.runs == 3 && s.distinct == 3 && !s.sorted)
  }

  test("property: distinct counts equal a HashSet at and around the cap") {
    val cap = Selector.DistinctCap
    // exactDistinct: exact up to the cap, -1 once a value past it arrives
    def exactRule(a: Array[Int]): Int = { val d = a.toSet.size; if (d > cap) -1 else d }
    // stats: counts at each run start; a run start after the cap is full is -1
    def statsRule(a: Array[Int]): Int = {
      val seen = scala.collection.mutable.HashSet.empty[Int]
      var over = false
      for (i <- a.indices if !over && (i == 0 || a(i) != a(i - 1)))
        if (seen.size < cap) seen += a(i) else over = true
      if (over) -1 else seen.size
    }
    val genSlice = for {
      d <- Gen.oneOf(cap - 1, cap, cap + 1)
      seed <- Gen.choose(0L, Long.MaxValue)
      repeats <- Gen.oneOf(0, 1, 3)
      ordered <- Gen.oneOf(true, false)
    } yield {
      val rnd = new scala.util.Random(seed)
      val values = Iterator.continually(rnd.nextInt()).distinct.take(d).toArray
      val slice = values ++ Array.fill(repeats * d / 4)(values(rnd.nextInt(d)))
      if (ordered) slice else rnd.shuffle(slice.toSeq).toArray
    }
    forAll(genSlice, n = 12) { a =>
      assert(Selector.exactDistinct(a, 0, a.length) == exactRule(a))
      assert(Selector.stats(a, 0, a.length).distinct == statsRule(a))
    }
    // one run per value: at d == cap the cap's value is the last run, so stats still counts it
    for (d <- Seq(cap - 1, cap, cap + 1)) {
      val a = Array.tabulate(d)(identity)
      assert(Selector.exactDistinct(a, 0, d) == exactRule(a) && Selector.stats(a, 0, d).distinct == statsRule(a))
    }
  }

  // ---------------------------------------------------------- properties
  val genArray: Gen[Array[Int]] = Gen.oneOf(
    Gen.containerOf[Array, Int](Gen.chooseNum(Int.MinValue, Int.MaxValue)),
    Gen.containerOf[Array, Int](Gen.chooseNum(0, 50257)),
    Gen.containerOf[Array, Int](Gen.chooseNum(-4, 4)),
    Gen.containerOf[Array, Int](Gen.chooseNum(0, 50257)).map(_.sorted)
  )

  for (codec <- IntCodec.all) {
    test(s"property: ${codec.name} decode∘encode == id") {
      forAll(genArray) { a =>
        assert(IntCodec.decode(codec.encode(a)).sameElements(a))
      }
    }
  }

  // StrCodec embeds int blocks back to back, so a decode must stop
  // exactly at the end of its own payload
  for (codec <- IntCodec.all) {
    test(s"property: ${codec.name} blocks decode back to back and leave r.pos past them") {
      val sentinel: Byte = 0x5a
      forAll(Gen.zip(genArray, genArray)) { case (a, b) =>
        val out = new ByteSink()
        codec.encode(a, 0, a.length, out)
        codec.encode(b, 0, b.length, out)
        out.addByte(sentinel)
        val buf = out.result()
        val r = new BitIO.Reader(buf, 0)
        assert(IntCodec.decode(r).sameElements(a))
        assert(IntCodec.decode(r).sameElements(b))
        assert(r.pos == buf.length - 1 && buf(r.pos) == sentinel)
      }
    }
  }

  /** The sort-based dict encoding, kept as the reference for the hashed
    * one: sort a copy of the slice, dedup it, write the ascending
    * dictionary, then binary-search and pack each value's code.
    */
  private def sortedDictEncoding(a: Array[Int], from: Int, n: Int): Array[Byte] = {
    val out = new ByteSink()
    out.addByte(IntCodec.Dict.id); BitIO.writeUvarint(out, n)
    if (n > 0) {
      val dict = a.slice(from, from + n).sorted.distinct
      BitIO.writeUvarint(out, dict.length)
      BitIO.writeUvarint(out, BitIO.zigzag(dict(0)))
      for (i <- 1 until dict.length) BitIO.writeUvarintLong(out, dict(i).toLong - dict(i - 1).toLong)
      val width = BitIO.bits(dict.length - 1)
      out.addByte(width.toByte)
      val codes = Array.tabulate(n)(i => java.util.Arrays.binarySearch(dict, a(from + i)))
      if (width > 0) BitIO.packBits(codes, 0, n, width, out)
    }
    out.result()
  }

  private def dictEncoding(a: Array[Int], from: Int, n: Int): Array[Byte] = {
    val out = new ByteSink()
    IntCodec.Dict.encode(a, from, n, out)
    out.result()
  }

  test("property: dict encode equals the sort-based encoding byte for byte") {
    // a slice [from, from + n) of a padded array, so from != 0 and the
    // values around the slice must not leak into it
    val genSlice = for {
      a <- Gen.oneOf(genArray, Gen.containerOf[Array, Int](Gen.oneOf(Int.MinValue, Int.MaxValue, -1, 0)))
      pre <- Gen.containerOf[Array, Int](Gen.chooseNum(Int.MinValue, Int.MaxValue))
      post <- Gen.containerOf[Array, Int](Gen.chooseNum(Int.MinValue, Int.MaxValue))
    } yield (pre ++ a ++ post, pre.length, a.length)
    forAll(genSlice) { case (a, from, n) =>
      assert(dictEncoding(a, from, n).sameElements(sortedDictEncoding(a, from, n)))
    }
    val fixed = Seq(
      "n = 1" -> Array(5),
      "n = 1 at Int.MinValue" -> Array(Int.MinValue),
      "all equal" -> Array.fill(10000)(-7),
      "extremes" -> Array(Int.MaxValue, Int.MinValue, Int.MaxValue, 0, -1, Int.MinValue),
      "negatives" -> Array.tabulate(5000)(i => -(i * 7919 % 300) - 1),
      "65,536 distinct" -> Array.tabulate(200000)(i => ((i.toLong * 40503) % 65536).toInt * 3 - 98304),
      "65,537 distinct" -> Array.tabulate(200000)(i => ((i.toLong * 40503) % 65537).toInt * -5),
      "65,537 distinct, the last one new" -> (Array.tabulate(65536)(i => i) :+ Int.MinValue)
    )
    for ((name, a) <- fixed; (pre, post) <- Seq((0, 0), (3, 2))) {
      val padded = Array.fill(pre)(42) ++ a ++ Array.fill(post)(Int.MaxValue - 1)
      val got = dictEncoding(padded, pre, a.length)
      assert(got.sameElements(sortedDictEncoding(padded, pre, a.length)), s"$name, from $pre")
      assert(IntCodec.decode(got).sameElements(a), s"$name, from $pre")
    }
    // the fixtures sit on either side of the hashed path's limit
    assert(fixed(5)._2.distinct.length == IntCodec.Dict.MaxHashed)
    assert(fixed(6)._2.distinct.length == IntCodec.Dict.MaxHashed + 1)
  }

  test("property: auto decode∘encode == id and size <= plain+slack") {
    forAll(genArray) { a =>
      val (_, enc) = Selector.encodeAuto(a)
      assert(IntCodec.decode(enc).sameElements(a))
      assert(enc.length <= 4 * a.length + 16)
    }
  }

  test("property: varint round-trip") {
    forAll(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      val out = new ByteSink()
      BitIO.writeUvarint(out, v)
      val r = new BitIO.Reader(out.result(), 0)
      assert(r.readUvarint() == v)
      assert(out.size == BitIO.uvarintSize(v))
    }
    forAll(Gen.chooseNum(0L, Long.MaxValue)) { v =>
      val out = new ByteSink()
      BitIO.writeUvarintLong(out, v)
      val r = new BitIO.Reader(out.result(), 0)
      assert(r.readUvarintLong() == v)
    }
  }

  test("property: zigzag round-trip") {
    forAll(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      assert(BitIO.unzigzag(BitIO.zigzag(v)) == v)
    }
  }

  test("property: packBits/unpackBits at every width") {
    for (width <- 0 to 32) {
      val mask = if (width == 32) -1 else (1 << width) - 1
      val data = Array.tabulate(257)(i => (i * 0x9e3779b9) & mask)
      val out = new ByteSink()
      BitIO.packBits(data, 0, data.length, width, out)
      val packed = out.result()
      val dst = new Array[Int](data.length)
      BitIO.unpackBits(packed, 0, 0, data.length, width, dst, 0)
      assert(dst.sameElements(data), s"width $width")
      // nonzero start offsets: the slice's values, and the position
      // after its last packed bit
      for (start <- Seq(1, 7, 130); len <- Seq(0, 1, 9, data.length - start)) {
        val slice = new Array[Int](len + 3)
        val end = BitIO.unpackBits(packed, 0, start, len, width, slice, 3)
        assert(slice.drop(3).sameElements(data.slice(start, start + len)),
          s"width $width start $start len $len")
        if (len > 0) assert(end == BitIO.packedBytes(start + len, width),
          s"end position at width $width start $start len $len")
      }
    }
  }

  // ---- decodeRange: within-chunk point decode ---------------------------

  for (codec <- IntCodec.all; (name, data) <- cases) {
    test(s"${codec.name} decodeRange == full-decode slice on $name") {
      val enc = codec.encode(data)
      val full = IntCodec.decode(enc)
      val n = data.length
      val ranges = Seq(
        (0, 0), (0, math.min(1, n)), (0, n),
        (n / 3, n - n / 3), (n / 2, math.min(7, n - n / 2)),
        (math.max(0, n - 1), n - math.max(0, n - 1)))
      for ((start, len) <- ranges) {
        val got = IntCodec.decodeRange(enc, start, len)
        assert(got.length == len)
        assert(java.util.Arrays.equals(got,
          java.util.Arrays.copyOfRange(full, start, start + len)),
          s"${codec.name} range [$start,+$len) on $name")
      }
    }
  }

  test("unknown codec ids throw IllegalArgumentException") {
    val (strId, strBuf) = StrCodec.encodeAuto(Array("a", "bc", "d"))
    assert(strId == StrCodec.PlainId && strBuf(0) == 10)
    val bufs = Seq(8, 0xff).map(id => Array[Byte](id.toByte, 3, 1, 2, 3, 4, 5, 6, 7, 8)) :+ strBuf
    for (buf <- bufs) {
      intercept[IllegalArgumentException](IntCodec.decode(buf))
      intercept[IllegalArgumentException](IntCodec.decodeRange(buf, 0, 1))
    }
  }

  test("rle runs that overrun the value count throw") {
    val enc = IntCodec.Rle.encode(Array(7, 7, 7, 9)) // id, n, (14, 3), (18, 1)
    for (badRun <- Seq(0, 5)) {
      enc(3) = badRun.toByte
      intercept[IllegalArgumentException](IntCodec.decode(enc))
      intercept[IllegalArgumentException](IntCodec.decodeRange(enc, 0, 2))
    }
  }

  test("dict value counts the buffer cannot hold throw before allocating") {
    val enc = IntCodec.Dict.encode(Array(7, 7, 9)) // id, n, 2 distinct, values, width, codes
    assert(enc(0) == IntCodec.Dict.id && enc(2) == 2)
    val left = enc.length - 3 // bytes after the count
    // zero, one more than the bytes left, Int.MaxValue, and 2^32 - 1,
    // which readUvarint's toInt turns negative
    val counts = Seq(Seq(0), Seq(left + 1), Seq(0xff, 0xff, 0xff, 0xff, 0x07), Seq(0xff, 0xff, 0xff, 0xff, 0x0f))
    for (count <- counts) {
      val forged = enc.take(2) ++ count.map(_.toByte) ++ enc.drop(3)
      intercept[IllegalArgumentException](IntCodec.decode(forged))
      intercept[IllegalArgumentException](IntCodec.decodeRange(forged, 0, 1))
      intercept[IllegalArgumentException](IntCodec.dictValues(forged))
    }
  }

  test("decodeRange bounds are checked") {
    val enc = IntCodec.Plain.encode(Array(1, 2, 3))
    intercept[IllegalArgumentException](IntCodec.decodeRange(enc, 2, 2))
    intercept[IllegalArgumentException](IntCodec.decodeRange(enc, -1, 1))
  }

  test("decodeRange reads ONLY the slice's bytes (byte-addressable codecs)") {
    // corrupt every payload byte that does NOT belong to the decoded
    // slice; a correct range decoder never touches them. This is the
    // O(doc)-not-O(chunk) evidence for point lookups: the codec seeks
    // to the doc's offsets instead of materializing the chunk.
    val data = Array.tabulate(1024)(i => 100000 + (i * 7919) % 5000)
    val start = 400
    val len = 37

    // plain: value i occupies bytes [header + 4i, header + 4i + 4)
    val encP = IntCodec.Plain.encode(data)
    val headerP = encP.length - 4 * data.length
    val want = java.util.Arrays.copyOfRange(IntCodec.decode(encP), start, start + len)
    for (i <- data.indices if i < start || i >= start + len; b <- 0 until 4)
      encP(headerP + 4 * i + b) = 0x5a
    assert(java.util.Arrays.equals(IntCodec.decodeRange(encP, start, len), want),
      "plain decodeRange read bytes outside the slice")

    // forsplit: value i's plane-p byte is at planeBase(p) + i
    val encS = IntCodec.ForSplit.encode(data)
    val full = IntCodec.decode(encS)
    val wantS = java.util.Arrays.copyOfRange(full, start, start + len)
    val w = {
      val mn = data.min; val mx = data.max
      (BitIO.bitsLong(mx.toLong - mn.toLong) + 7) / 8
    }
    val planeBase = encS.length - w * data.length
    for (p <- 0 until w; i <- data.indices if i < start || i >= start + len)
      encS(planeBase + p * data.length + i) = 0x5a.toByte
    assert(java.util.Arrays.equals(IntCodec.decodeRange(encS, start, len), wantS),
      "forsplit decodeRange read bytes outside the slice")
  }

  test("fordelta decodeRange never reads past the slice end (early exit)") {
    // sorted-ish data so ForDelta is a sane encoding; deltas for values
    // 1..n-1 are bit-packed after the header. The prefix up to `end`
    // must be decoded (prefix-dependence), but every byte strictly
    // after the slice's last delta bit may be corrupted freely.
    val data = Array.tabulate(2048)(i => i * 5 + (i % 3))
    val enc = IntCodec.ForDelta.encode(data)
    val want = IntCodec.decode(enc)
    val start = 100
    val len = 50
    val end = start + len
    // parse the header to locate the delta payload and its width
    val r = new BitIO.Reader(enc, 0)
    assert((r.readByte() & 0xff) == 3, "expected fordelta container")
    val n = r.readUvarint()
    r.readUvarint() // zigzag(first value)
    val width = r.readByte() & 0xff
    val deltaBase = r.pos
    // bytes holding delta bits [0, (end-1)*width) are live; everything
    // after (including slack up to the buffer end) gets clobbered
    val liveBytes = ((end - 1).toLong * width + 7) / 8
    for (p <- (deltaBase + liveBytes.toInt) until enc.length)
      enc(p) = 0x5a.toByte
    assert(n == data.length)
    assert(java.util.Arrays.equals(IntCodec.decodeRange(enc, start, len),
      java.util.Arrays.copyOfRange(want, start, end)),
      "fordelta decodeRange read bytes past the slice's last delta")
  }
}
