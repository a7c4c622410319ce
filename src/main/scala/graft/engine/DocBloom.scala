package graft.engine

/** Per-chunk doc_id Bloom filter — the membership rung between the
  * chunk's [min_doc_id, max_doc_id] stats and a payload decode.
  *
  * Why it exists: chunks are HASH-bucketed (Chunker), so each chunk's
  * doc_id range approaches the full corpus range as rows-per-chunk
  * grows — at the production 4M-token chunk size (~thousands of docs
  * per chunk) the min/max rung prunes ~nothing and a point lookup
  * would decode every chunk's doc index. The reference solves this
  * with a global sort (convert/convert.go:765) giving tight per-page
  * ranges; graft keeps hash bucketing (deterministic, resume-friendly,
  * skew-free) and pays a small per-chunk bitset instead — the analog
  * of the reference's bloom-before-pages check
  * (search/constraint.go:379-383).
  *
  * Layout: byte 0 = number of hash probes k; bytes 1.. = bitset,
  * power-of-two bits. Probes are double-hashed (Kirsch-Mitzenmacher):
  * idx_i = (h1 + i*h2) mod bits, both halves xxhash64 of the UTF-8
  * doc_id under different seeds. At [[BitsPerKey]]=10 and k=7 the
  * false-positive rate is <1%, and the filter costs ~0.1% of a chunk's
  * encoded payload (8K docs → 16 KiB bitset vs ~16 MB chunk).
  *
  * A null, too short or malformed filter is bad input and means
  * MAY-CONTAIN: pruning is an optimization, never a correctness gate.
  */
object DocBloom {
  private val factory = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance()

  final val BitsPerKey = 10
  final val NumHashes = 7
  /** bitset cap: 1 MiB — a chunk would need >800K docs to hit it, at
    * which point the FPR degrades gracefully rather than the metadata
    * row exploding.
    */
  private final val MaxBits = 1 << 23

  private final val Seed1 = 0x9747b28c1a53d2e7L
  private final val Seed2 = 0x8eb4c12f6d01f3abL

  private def hashes(docId: String): (Long, Long) = {
    val b = docId.getBytes("UTF-8")
    val h64 = factory.hash64()
    (h64.hash(b, 0, b.length, Seed1), h64.hash(b, 0, b.length, Seed2) | 1L)
  }

  private def sizeBits(n: Int): Int = {
    var bits = 64
    val want = math.min(math.max(n, 1).toLong * BitsPerKey, MaxBits.toLong)
    while (bits < want) bits <<= 1
    bits
  }

  def build(docIds: scala.collection.Seq[String]): Array[Byte] = {
    val bits = sizeBits(docIds.length)
    val mask = bits - 1
    val arr = new Array[Byte](1 + bits / 8)
    arr(0) = NumHashes.toByte
    docIds.foreach { d =>
      val (h1, h2) = hashes(d)
      var i = 0
      while (i < NumHashes) {
        val idx = ((h1 + i * h2) & mask).toInt
        arr(1 + (idx >>> 3)) = (arr(1 + (idx >>> 3)) | (1 << (idx & 7))).toByte
        i += 1
      }
    }
    arr
  }

  def mayContain(bloom: Array[Byte], docId: String): Boolean = {
    if (bloom == null || bloom.length < 2) return true // bad input → never prune
    val bits = (bloom.length - 1) * 8
    if (Integer.bitCount(bits) != 1) return true // malformed → never prune
    val mask = bits - 1
    val k = bloom(0) & 0xff
    val (h1, h2) = hashes(docId)
    var i = 0
    while (i < k) {
      val idx = ((h1 + i * h2) & mask).toInt
      if ((bloom(1 + (idx >>> 3)) & (1 << (idx & 7))) == 0) return false
      i += 1
    }
    true
  }
}
