package graft.engine

/** String ordering that matches Spark's. Spark compares strings as
  * UTF-8 bytes (UTF8String.compareTo — unsigned byte order, which
  * equals code-POINT order), while Java's String.compareTo compares
  * UTF-16 code UNITS. The two disagree exactly when one side contains
  * a supplementary-plane character (>= U+10000, stored as a surrogate
  * pair 0xD800-0xDFFF) and the other a BMP character in [U+E000,
  * U+FFFF]: UTF-16 sorts the surrogate (0xD8xx) below 0xE000, UTF-8
  * sorts the 4-byte sequence (0xF0..) above the 3-byte one (0xEE..).
  *
  * Every doc_id min/max the engine computes driver-side or kernel-side
  * is later compared against Spark column predicates (chunk-range
  * pruning, doc-index fences), so those computations
  * must use THIS ordering, not the default String one — otherwise a
  * chunk's stored [min_doc_id, max_doc_id] can exclude a doc_id it
  * contains (under Spark's comparator) and range pruning silently
  * drops a true hit.
  *
  * Comparison uses the ICU surrogate-shift trick (fix up both chars
  * into code-point-ordered space at the first difference) — no
  * allocation, no UTF-8 encoding.
  */
object Utf8Order extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        // identical prefixes mean a surrogate can only be mismatched
        // against another >= 0xD800 char; shift both into code-point
        // order: BMP [E000,FFFF] down by 0x800, surrogates up by 0x2000
        if (ca >= 0xD800 && cb >= 0xD800) {
          val fa = if (ca >= 0xE000) ca - 0x800 else ca + 0x2000
          val fb = if (cb >= 0xE000) cb - 0x800 else cb + 0x2000
          return fa - fb
        }
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }
}
