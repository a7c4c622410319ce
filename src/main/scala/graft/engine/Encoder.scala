package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import graft.codec.{IntCodec, Selector, StrCodec}

/** Chunk-content checksum: xxhash64 over the little-endian byte image
  * of the token stream (same role as the reference's per-series
  * StableHash, reference: convert/reader.go:136-139). Uses the
  * lz4-java XXHash that ships with Spark — no extra dependency.
  */
object Checksum {
  private val factory = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance()

  def ofTokens(tokens: Array[Int], n: Int): Long = {
    val h = factory.newStreamingHash64(0x9747b28cL)
    val buf = new Array[Byte](8192)
    var i = 0
    var b = 0
    while (i < n) {
      val v = tokens(i)
      buf(b) = v.toByte
      buf(b + 1) = (v >>> 8).toByte
      buf(b + 2) = (v >>> 16).toByte
      buf(b + 3) = (v >>> 24).toByte
      b += 4
      if (b == buf.length) { h.update(buf, 0, b); b = 0 }
      i += 1
    }
    if (b > 0) h.update(buf, 0, b)
    h.getValue
  }
}

/** Encode/decode between the token table and encoded column chunks.
  *
  * The encode kernel runs over deterministic chunk ids — the
  * whole-codec-on-whole-chunk design (SURVEY.md §4.3): Catalyst
  * expressions would pay per-row overhead for nothing, while one
  * shuffle by chunk_id is the minimal data movement any re-clustering
  * encode can do. This replaces the reference's hand-rolled goroutine
  * pipeline (reference: convert/reader.go:75-100) with Spark tasks.
  */
object Encoder {

  /** The [[EncodedChunk]] encoder, built once for every chunk read and write. */
  private[engine] val ChunkLayout = Encoders.product[EncodedChunk]

  /** Growable int buffer for concatenating a chunk's token stream.
    * Thread-local + reset-reused: steady-state encode must not allocate
    * multi-MB arrays per chunk (G1 humongous-allocation stalls under
    * 32-way concurrency).
    */
  private final class IntBuf(initial: Int) {
    var arr = new Array[Int](math.max(initial, 64))
    var len = 0
    def reset(): Unit = len = 0
    /** Appends the ints of `src`, straight from Spark's array data (no
      * boxed element, no intermediate array), and returns their count.
      * A null element throws: `ArrayData.toIntArray` would read it as 0.
      */
    def add(src: ArrayData, docId: String): Int = {
      val n = src.numElements()
      if (len + n > arr.length) {
        var cap = arr.length * 2
        while (cap < len + n) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
      }
      var i = 0
      while (i < n) {
        if (src.isNullAt(i)) throw new NullPointerException(s"doc $docId: null token at index $i")
        arr(len + i) = src.getInt(i)
        i += 1
      }
      len += n
      n
    }
  }

  private val tokenBuf = new ThreadLocal[IntBuf] {
    override def initialValue(): IntBuf = new IntBuf(1 << 20)
  }

  /** Ordinals of the columns the kernel reads in a [[sortedChunks]] row. */
  private final case class Columns(chunkId: Int, docId: Int, tokens: Int, source: Int)

  /** Encode the next chunk of `rows` — every leading row with the head
    * row's chunk_id, already sorted by doc_id for deterministic output —
    * into an EncodedChunk. Each row is read whole before the iterator
    * advances: Spark reuses the row object it hands out.
    */
  private def encodeChunk(rows: scala.collection.BufferedIterator[InternalRow], cols: Columns,
                          inputSplit: String): EncodedChunk = {
    val chunkId = rows.head.getLong(cols.chunkId)
    val docIds = scala.collection.mutable.ArrayBuffer.empty[String]
    val sources = scala.collection.mutable.ArrayBuffer.empty[String]
    val lengths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val toks = tokenBuf.get()
    toks.reset()
    var rawBytes = 0L
    // lexicographic doc_id bounds: rows arrive sorted by doc_id (see
    // sortedChunks), but track running min/max anyway so the bounds
    // never depend on the sort's collation
    var minDoc: String = null
    var maxDoc: String = null
    while (rows.hasNext && rows.head.getLong(cols.chunkId) == chunkId) {
      val r = rows.next()
      val docId = r.getUTF8String(cols.docId).toString
      val source = r.getUTF8String(cols.source).toString
      val n = toks.add(r.getArray(cols.tokens), docId)
      docIds += docId
      sources += source
      lengths += n
      rawBytes += 4L * n + docId.length + source.length + 4L
      // Utf8Order, not <: the stored bounds are later compared by Spark
      // column predicates (UTF-8 byte order); Java's UTF-16 compare
      // disagrees for supplementary-plane ids and would store bounds
      // that exclude a contained key (range pruning would drop a hit)
      if (minDoc == null || Utf8Order.lt(docId, minDoc)) minDoc = docId
      if (maxDoc == null || Utf8Order.gt(docId, maxDoc)) maxDoc = docId
    }
    val n = docIds.length
    // token value bounds for chunk-stat pruning (one cheap pass; the
    // codec trials below dwarf it)
    var minTok = Int.MaxValue
    var maxTok = Int.MinValue
    var ti = 0
    while (ti < toks.len) {
      val v = toks.arr(ti)
      if (v < minTok) minTok = v
      if (v > maxTok) maxTok = v
      ti += 1
    }
    // tokens are the dominant payload: pick the codec by post-zstd size
    val (ct, tokensEnc) = Selector.encodeAutoZstdAware(toks.arr, 0, toks.len)
    val (cl, lengthsEnc) = Selector.encodeAuto(lengths.toArray)
    val (cd, docIdsEnc) = StrCodec.encodeAuto(docIds.toArray)
    val (cs, sourcesEnc) = StrCodec.encodeAuto(sources.toArray)
    val encodedBytes = tokensEnc.length.toLong + lengthsEnc.length +
      docIdsEnc.length + sourcesEnc.length
    EncodedChunk(
      chunk_id = chunkId,
      // chunks are single-source by construction (Chunker allocates
      // buckets per source); first row's source names the partition
      part_source = if (n > 0) sources(0) else "",
      input_split = inputSplit,
      n_rows = n,
      n_tokens = toks.len.toLong,
      min_doc_id = if (minDoc == null) "" else minDoc,
      max_doc_id = if (maxDoc == null) "" else maxDoc,
      doc_bloom = DocBloom.build(docIds),
      token_cardinality = Selector.exactDistinct(toks.arr, 0, toks.len),
      min_token = minTok,
      max_token = maxTok,
      codec_tokens = ct.name,
      codec_lengths = cl.name,
      codec_doc_id = StrCodec.name(cd),
      codec_source = StrCodec.name(cs),
      doc_ids_enc = docIdsEnc,
      sources_enc = sourcesEnc,
      lengths_enc = lengthsEnc,
      tokens_enc = tokensEnc,
      raw_bytes = rawBytes,
      encoded_bytes = encodedBytes,
      checksum = Checksum.ofTokens(toks.arr, toks.len)
    )
  }

  /** The encode kernel's input: the [[ChunkedRow]] columns of `chunks`,
    * repartitioned on the chunk_id COLUMN and sorted by (chunk_id,
    * doc_id) within each partition. Column-based repartition shuffles
    * Tungsten binary rows untouched (a typed groupByKey would
    * deserialize every row map-side just to extract a key that already
    * exists as a column). The secondary sort by doc_id makes chunk
    * payloads byte-deterministic across runs — the property lineage
    * checksums and resume rely on — and sorted doc_ids delta/FSST-
    * compress better.
    */
  private[graft] def sortedChunks(chunks: DataFrame): DataFrame =
    chunks.repartition(col("chunk_id")).sortWithinPartitions(col("chunk_id"), col("doc_id"))

  /** The encode kernel over [[sortedChunks]]' rows: one EncodedChunk per
    * run of equal chunk_ids in a partition. It iterates the rows of
    * `sorted.queryExecution.toRdd` as Spark's binary rows, with no
    * deserializer: each doc's tokens are copied straight from Spark's
    * array data into the chunk's token buffer, never boxed. Under AQE,
    * taking that RDD runs the shuffle's map stage.
    */
  private[graft] def encodeSorted(sorted: DataFrame, inputSplit: String): RDD[EncodedChunk] = {
    val s = sorted.schema
    val cols = Columns(s.fieldIndex("chunk_id"), s.fieldIndex("doc_id"), s.fieldIndex("tokens"),
      s.fieldIndex("source"))
    sorted.queryExecution.toRdd.mapPartitions { rows =>
      val in = rows.buffered
      new Iterator[EncodedChunk] {
        def hasNext: Boolean = in.hasNext
        def next(): EncodedChunk = encodeChunk(in, cols, inputSplit)
      }
    }
  }

  /** Dataset[ChunkedRow] → Dataset[EncodedChunk]: [[encodeSorted]] over
    * [[sortedChunks]]. Rows reach the kernel as the sorted plan's binary
    * rows, never through a typed deserializer, so no token is boxed.
    * Under AQE the call runs the shuffle's map stage.
    */
  def encode(chunks: Dataset[ChunkedRow], inputSplit: String = ""): Dataset[EncodedChunk] =
    chunks.sparkSession.createDataset(encodeSorted(sortedChunks(chunks.toDF()), inputSplit))(ChunkLayout)

  /** Full path: token table → deterministic chunks → encoded chunks.
    * @param meta optional (source, doc_id, n_tok) plan-statistics
    *        DataFrame for the Chunker pre-passes — see
    *        [[Chunker.assignChunks]]; pass it when `ds` is an opaque
    *        typed plan that column pruning cannot cheapen.
    */
  def encodeTable(
      ds: Dataset[TokenRow],
      tokensPerChunk: Long = Chunker.DefaultTokensPerChunk,
      meta: Option[org.apache.spark.sql.DataFrame] = None
  ): Dataset[EncodedChunk] =
    encode(Chunker.chunked(ds, tokensPerChunk, meta = meta))
}

/** Decode side: EncodedChunk → TokenRow, verifying stored checksums —
  * the round-trip half the reference exercises in its keystone test
  * (reference: schema/encoder_test.go:31-97).
  */
object Decoder {

  final class ChecksumMismatch(chunkId: Long, expected: Long, got: Long)
    extends RuntimeException(
      s"chunk $chunkId checksum mismatch: stored=$expected decoded=$got")

  /** The lengths of one chunk, its header counts checked before any
    * array is sized by them: the doc-id count must equal the chunk row's
    * `n_rows`, the lengths and sources counts must equal it and, when
    * the token payload is given with the row's `n_tokens`, its count
    * must equal both `n_tokens` and the lengths' sum, or it throws
    * IllegalArgumentException. A width-0 block is valid with any count
    * in O(1) bytes, so only the row's counts bound the header's. The
    * token checksum cannot see such a mismatch: it covers the token
    * stream, not how the lengths slice it.
    */
  private def checkedLengths(
      chunkId: Long,
      nRows: Int,
      docIdsEnc: Array[Byte],
      lengthsEnc: Array[Byte],
      sourcesEnc: Array[Byte],
      tokens: Option[(Array[Byte], Long)]
  ): Array[Int] = {
    val n = StrCodec.count(docIdsEnc)
    val nLengths = IntCodec.count(lengthsEnc)
    val nSources = StrCodec.count(sourcesEnc)
    require(n == nRows && nLengths == n && nSources == n,
      s"chunk $chunkId: n_rows $nRows, $n doc ids, $nLengths lengths, $nSources sources")
    val lengths = IntCodec.decode(lengthsEnc)
    tokens.foreach { case (t, nTokens) =>
      val count = IntCodec.count(t)
      val sum = lengths.foldLeft(0L)(_ + _)
      require(count == nTokens && sum == nTokens,
        s"chunk $chunkId: n_tokens $nTokens, $count tokens, lengths sum to $sum")
    }
    lengths
  }

  private def checkedLengths(c: EncodedChunk): Array[Int] =
    checkedLengths(c.chunk_id, c.n_rows, c.doc_ids_enc, c.lengths_enc, c.sources_enc,
      Some((c.tokens_enc, c.n_tokens)))

  /** Decode one chunk back into rows; throws on checksum mismatch and,
    * before any decode but the lengths', on header counts that disagree.
    */
  def decodeChunk(c: EncodedChunk, verifyChecksum: Boolean = true): Iterator[TokenRow] = {
    val lengths = checkedLengths(c)
    val docIds = StrCodec.decode(c.doc_ids_enc)
    val sources = StrCodec.decode(c.sources_enc)
    val tokens = IntCodec.decode(c.tokens_enc)
    if (verifyChecksum) {
      val got = Checksum.ofTokens(tokens, tokens.length)
      if (got != c.checksum) throw new ChecksumMismatch(c.chunk_id, c.checksum, got)
    }
    new Iterator[TokenRow] {
      private var i = 0
      private var off = 0
      def hasNext: Boolean = i < docIds.length
      def next(): TokenRow = {
        val l = lengths(i)
        val t = java.util.Arrays.copyOfRange(tokens, off, off + l)
        val row = TokenRow(docIds(i), t, l, sources(i))
        off += l
        i += 1
        row
      }
    }
  }

  def decode(chunks: Dataset[EncodedChunk], verifyChecksum: Boolean = true): Dataset[TokenRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.flatMap(c => decodeChunk(c, verifyChecksum))
  }

  /** Slice decode: every doc of one chunk whose id satisfies `pred`,
    * materializing O(hits) tokens instead of O(chunk) — the reference's
    * page-grain row-range materialization (reference:
    * search/constraint.go:520-595 binary search on the sorted column;
    * search/iterators.go:359-494 RowRangesValueIterator decodes only the
    * selected ranges) brought within the chunk: one doc-index pass (ids
    * + lengths, tiny) finds the hits and their token offsets by prefix
    * sum; [[graft.codec.IntCodec.decodeRange]] then decodes only each
    * hit's slice for offset-addressable codecs
    * (plain/bitpack/for/for8/forsplit/dict; fordelta falls back to a
    * full decode). Misses cost one predicate call. The one slice decoder
    * behind every doc-id read (point, batch, range, prefix —
    * [[Pipeline.readTokensForDocIds]] and friends); a repeated doc_id
    * yields every copy.
    *
    * Skips checksum verification by design — the checksum covers the
    * whole token stream, and hashing it would cost the O(chunk) decode
    * this path exists to avoid. It runs on the driver too
    * ([[IndexProbe.fetch]]), so the header counts are checked
    * ([[checkedLengths]]) before any array is sized by them.
    */
  def decodeDocsTokensWhere(
      c: EncodedChunk,
      pred: String => Boolean
  ): Iterator[TokenRow] = {
    val lengths = checkedLengths(c)
    val n = lengths.length
    // the token count is an Int and equals the lengths' sum, so every
    // in-chunk offset fits one
    val offsets = new Array[Int](n)
    var off = 0
    var i = 0
    while (i < n) { offsets(i) = off; off += lengths(i); i += 1 }
    val docIds = StrCodec.decode(c.doc_ids_enc)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
    i = 0
    while (i < n) {
      if (pred(docIds(i))) hits += i
      i += 1
    }
    if (hits.isEmpty) return Iterator.empty
    val sources = StrCodec.decode(c.sources_enc)
    hits.iterator.map { idx =>
      val toks = IntCodec.decodeRange(c.tokens_enc, offsets(idx), lengths(idx))
      TokenRow(docIds(idx), toks, lengths(idx), sources(idx))
    }
  }

  /** Column-masked decode: ids/lengths/sources only — the token payload
    * (the dominant decode cost AND the dominant byte volume) is never
    * touched. Pair with a parquet scan that doesn't select tokens_enc
    * ([[Pipeline.readDocIndex]]) and a metadata consumer pays neither
    * token I/O nor token decode — the projection split the reference
    * achieves with separate labels/chunks files
    * (reference: convert/writer.go:222-243). Its three counts are
    * checked against the chunk row's `n_rows` ([[checkedLengths]]).
    */
  def decodeDocIndex(
      chunkId: Long,
      nRows: Int,
      docIdsEnc: Array[Byte],
      lengthsEnc: Array[Byte],
      sourcesEnc: Array[Byte]
  ): Iterator[DocIndexRow] = {
    val lengths = checkedLengths(chunkId, nRows, docIdsEnc, lengthsEnc, sourcesEnc, None)
    val docIds = StrCodec.decode(docIdsEnc)
    val sources = StrCodec.decode(sourcesEnc)
    Iterator.tabulate(docIds.length) { i =>
      DocIndexRow(chunkId, docIds(i), lengths(i), sources(i))
    }
  }

  /** Cheap may-contain test for a token value — the reference's
    * Equal-constraint skip ladder (stats, then dictionary, before any
    * data read; reference: search/constraint.go:343-463) at chunk
    * grain: (1) chunk min/max token bounds (plain metadata columns, so
    * parquet row-group stats prune the SCAN too); (2) for Dict-coded
    * chunks, binary search of the ascending dictionary header —
    * O(log distinct), no payload decode. Returns true when containment
    * cannot be ruled out cheaply (non-dict codecs after a bounds pass).
    */
  def chunkMayContainToken(c: EncodedChunk, t: Int): Boolean =
    t >= c.min_token && t <= c.max_token &&
      graft.codec.IntCodec.dictValues(c.tokens_enc)
        .forall(vs => java.util.Arrays.binarySearch(vs, t) >= 0)
}
