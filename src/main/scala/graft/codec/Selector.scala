package graft.codec

import BitIO._

/** Single-pass stats over an int32 slice, feeding the cost model.
  *
  * The reference fixes its per-column encodings statically
  * (reference: schema/schema_builder.go:105-116 — RLE_DICTIONARY for
  * labels, DeltaLengthByteArray for chunks); this engine instead
  * measures each column chunk and picks the cheapest codec
  * (BASELINE.json north_rule: "sampled cost-model auto-selector").
  */
final case class ChunkStats(
    n: Int,
    min: Int,
    max: Int,
    /** max of zigzag(v) as unsigned — width for BitPack */
    maxZigzag: Long,
    /** max of zigzag(delta) as unsigned — width for ForDelta */
    maxZigzagDelta: Long,
    /** number of runs of equal values */
    runs: Int,
    /** exact byte size of the RLE payload (values + run lengths) */
    rleBytes: Long,
    /** distinct count, exact up to [[Selector.DistinctCap]]; -1 = overflow */
    distinct: Int,
    sorted: Boolean
) {
  def rangeWidth: Int = if (n == 0) 0 else bitsLong(max.toLong - min.toLong)
}

object Selector {
  /** Stop counting distincts past this — dict can't win beyond it. */
  final val DistinctCap = 1 << 16

  /** Sampling floor: chunks larger than this have stats computed on a
    * strided sample (cost model needs estimates, not exactness).
    */
  final val SampleThreshold = 1 << 20

  /** Per-thread scratch: the distinct set uses a generation stamp so no
    * clearing pass is needed between calls; buffers are retained at
    * their high-water mark. Keeps steady-state encode near
    * allocation-free — 32 concurrent encode tasks each allocating
    * multi-MB scratch per chunk stall the JVM on G1 humongous
    * allocation slow paths (measured: 75x kernel slowdown).
    */
  private final class Scratch {
    val capMask: Int = (DistinctCap << 1) - 1
    val table = new Array[Int](capMask + 1)
    val stamp = new Array[Int](capMask + 1)
    var gen = 0
    val trialSink = new ByteSink(1 << 18)
    val outSink = new ByteSink(1 << 20)
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  def stats(a: Array[Int], from: Int, n: Int): ChunkStats = {
    if (n == 0) return ChunkStats(0, 0, 0, 0L, 0L, 0, 0L, 0, sorted = true)
    var mn = a(from); var mx = mn
    var maxZ = zigzag(mn) & 0xffffffffL
    var maxZD = 0L
    var runs = 1
    var rleBytes = 0L
    var sorted = true
    // distinct via open-addressing set (thread-local, generation-stamped)
    val sc = scratch.get()
    sc.gen += 1
    val gen = sc.gen
    val capMask = sc.capMask
    val table = sc.table
    val stamp = sc.stamp
    var distinct = 0
    @inline def addDistinct(v: Int): Unit = {
      if (distinct >= 0 && distinct < DistinctCap) {
        var h = (v * 0x9e3779b1) >>> 15 & capMask
        var cont = true
        while (cont) {
          if (stamp(h) != gen) { stamp(h) = gen; table(h) = v; distinct += 1; cont = false }
          else if (table(h) == v) cont = false
          else h = (h + 1) & capMask
        }
      } else if (distinct >= DistinctCap) distinct = -1
    }
    addDistinct(mn)
    var runStart = 0
    var prev = mn
    var i = 1
    while (i < n) {
      val v = a(from + i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      val z = zigzag(v) & 0xffffffffL
      if (z > maxZ) maxZ = z
      val zd = zigzag(v - prev) & 0xffffffffL
      if (zd > maxZD) maxZD = zd
      if (v < prev) sorted = false
      if (v != prev) {
        rleBytes += uvarintSize(zigzag(prev)) + uvarintSize(i - runStart)
        runs += 1
        runStart = i
        addDistinct(v)
      }
      prev = v
      i += 1
    }
    rleBytes += uvarintSize(zigzag(prev)) + uvarintSize(n - runStart)
    ChunkStats(n, mn, mx, maxZ, maxZD, runs, rleBytes, distinct, sorted)
  }

  /** Exact distinct count of the slice, capped at [[DistinctCap]]
    * (returns -1 past the cap). Unlike [[stats]] this never samples —
    * it feeds the per-chunk `token_cardinality` surfaced in lineage,
    * which must match an oracle's count(DISTINCT ...) exactly. One
    * O(n) pass over the thread-local generation-stamped table.
    */
  def exactDistinct(a: Array[Int], from: Int, n: Int): Int = {
    val sc = scratch.get()
    sc.gen += 1
    val gen = sc.gen
    val capMask = sc.capMask
    val table = sc.table
    val stamp = sc.stamp
    var distinct = 0
    var i = 0
    while (i < n) {
      val v = a(from + i)
      var h = (v * 0x9e3779b1) >>> 15 & capMask
      var cont = true
      while (cont) {
        if (stamp(h) != gen) {
          if (distinct >= DistinctCap) return -1
          stamp(h) = gen; table(h) = v; distinct += 1; cont = false
        } else if (table(h) == v) cont = false
        else h = (h + 1) & capMask
      }
      i += 1
    }
    distinct
  }

  /** The cost model's stats of the slice. Slices above
    * [[SampleThreshold]] are measured on a strided sample (the "sampled"
    * in sampled cost model) — encode cost stays O(n), stats cost drops
    * to O(sample) — and the counts that depend on n are rescaled to
    * the full slice.
    */
  private[codec] def sampledStats(a: Array[Int], from: Int, n: Int): ChunkStats =
    if (n <= SampleThreshold) stats(a, from, n)
    else {
      val stride = n / SampleThreshold + 1
      val m = n / stride
      val sample = new Array[Int](m)
      var i = 0
      while (i < m) { sample(i) = a(from + i * stride); i += 1 }
      val raw = stats(sample, 0, m)
      raw.copy(n = n, rleBytes = raw.rleBytes * stride)
    }

  /** Choose the cheapest codec for the slice by the cost model. */
  def choose(a: Array[Int], from: Int, n: Int): IntCodec =
    chooseFromStats(sampledStats(a, from, n))

  def chooseFromStats(s: ChunkStats): IntCodec =
    IntCodec.all.minBy(_.estimate(s))

  /** Encode with the auto-selected codec; falls back to Plain if the
    * estimate misled us and the result is larger than Plain would be.
    */
  def encodeAuto(a: Array[Int], from: Int, n: Int): (IntCodec, Array[Byte]) = {
    val c = choose(a, from, n)
    val out = new ByteSink(n + 16)
    c.encode(a, from, n, out)
    if (c != IntCodec.Plain && out.size > 4L * n + 1 + uvarintSize(n)) {
      val p = new ByteSink(4 * n + 8)
      IntCodec.Plain.encode(a, from, n, p)
      (IntCodec.Plain, p.result())
    } else (c, out.result())
  }

  def encodeAuto(a: Array[Int]): (IntCodec, Array[Byte]) = encodeAuto(a, 0, a.length)

  // ------------------------------------------------------- zstd-aware

  /** Parquet-java's default zstd level; the trial must model the same
    * downstream compressor the data will actually meet.
    */
  final val ZstdTrialLevel = 3

  /** Values per trial window. Contiguous (not strided) so zstd sees the
    * local byte patterns it would see in production.
    */
  final val TrialValues = 64 * 1024

  private[codec] def zstdSize(b: Array[Byte]): Long =
    com.github.luben.zstd.Zstd.compress(b, ZstdTrialLevel).length.toLong

  /** The codecs the zstd trial scores: the two best by the cost model's
    * estimate, plus ForAligned, ForSplit and Plain, which lose pre-zstd
    * by construction but often win post-zstd (byte alignment / plane
    * decomposition).
    */
  private[codec] def trialCandidates(s: ChunkStats): Seq[IntCodec] =
    (IntCodec.all.sortBy(_.estimate(s)).take(2) :+
      IntCodec.Plain :+ IntCodec.ForAligned :+ IntCodec.ForSplit).distinct

  /** Choose the codec minimizing bytes AFTER the downstream zstd pass.
    *
    * Rationale: bit-packed/dict streams destroy the byte-level patterns
    * zstd exploits; for text-like token streams zstd(plain) can beat
    * zstd(bitpacked) by 2-5x. The stats cost model ranks candidates,
    * then a contiguous sample window is trial-encoded under the top
    * candidates + Plain and zstd'd; the smallest post-zstd result wins.
    * This is the "sampled cost model" of the north rule measuring the
    * true objective (on-disk bytes), not a proxy.
    */
  def encodeAutoZstdAware(a: Array[Int], from: Int, n: Int): (IntCodec, Array[Byte]) = {
    if (n < 1024) return encodeAuto(a, from, n) // too small for zstd to matter
    val candidates = trialCandidates(sampledStats(a, from, n))
    val (tFrom, tN) =
      if (n <= TrialValues) (from, n)
      else (from + (n - TrialValues) / 2, TrialValues)

    val sc = scratch.get()
    val winner = candidates.minBy { c =>
      sc.trialSink.reset()
      c.encode(a, tFrom, tN, sc.trialSink)
      zstdSize(sc.trialSink.result())
    }
    sc.outSink.reset()
    sc.outSink.ensure(4 * n + 64)
    winner.encode(a, from, n, sc.outSink)
    (winner, sc.outSink.result())
  }

  def encodeAutoZstdAware(a: Array[Int]): (IntCodec, Array[Byte]) =
    encodeAutoZstdAware(a, 0, a.length)
}
