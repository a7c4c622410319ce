package graft.engine

/** Input row — exactly the BASELINE.json input_hint shape:
  * (doc_id:string, tokens:array<int32>, n_tok:int32, source:string).
  * The analog of the reference's series row (labels + chunk bytes),
  * reference: convert/reader.go:65-166.
  */
final case class TokenRow(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String
)

/** A TokenRow routed to its deterministic encode chunk. */
final case class ChunkedRow(
    chunk_id: Long,
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String
)

/** One encoded column-chunk group: all four input columns of one chunk
  * of rows, each compressed with its auto-selected codec. The analog of
  * the reference's shard (pair of row-aligned Parquet projections,
  * reference: storage/parquet_shard.go:187-193) collapsed into a single
  * table — Spark column pruning makes the two-file split unnecessary.
  */
final case class EncodedChunk(
    chunk_id: Long,
    part_source: String,
    /** The input split this chunk was encoded from (Chunker planTag).
      * Persisted IN the chunk so lineage, a view of chunk metadata,
      * records the split the chunk was actually written under, not
      * whatever split a later resuming run happens to pass (splits may
      * differ across runs, e.g. streaming micro-batches).
      */
    input_split: String,
    n_rows: Int,
    n_tokens: Long,
    /** lexicographic doc_id bounds of the chunk's (sorted) rows — the
      * analog of the reference's page min/max statistics that drive
      * precise row-range pruning (reference: search/constraint.go:394-433):
      * a point lookup decodes only chunks whose [min,max] covers the key.
      */
    min_doc_id: String,
    max_doc_id: String,
    /** Bloom filter over the chunk's doc_ids ([[DocBloom]] layout) —
      * the membership rung that keeps point lookups sub-linear under
      * HASH-bucketed chunking, where [min_doc_id, max_doc_id] covers
      * nearly the full corpus range at production chunk sizes. A null
      * or malformed filter is bad input and reads as may-contain, never
      * prune.
      */
    doc_bloom: Array[Byte],
    /** exact distinct token count when < 2^16, else -1 — the
      * dictionary-page-only distinct trick lifted into chunk metadata
      * (reference: search/materialize.go:358-380): distinct-values
      * queries read this O(1) field instead of decoding the payload.
      */
    token_cardinality: Int,
    /** token VALUE bounds of the chunk — min/max stats on the payload
      * column itself, the analog of the reference's page statistics on
      * data values that let an Equal constraint skip pages before any
      * read (reference: search/constraint.go:394-433, 459-463). A
      * token-membership search prunes to chunks whose [min,max] covers
      * the probe, then (dict-coded chunks) checks the dictionary header
      * — O(log distinct), no payload decode — before committing to a
      * full decode ([[Decoder.chunkMayContainToken]]). Empty chunk:
      * (Int.MaxValue, Int.MinValue) — an empty range no probe matches.
      */
    min_token: Int,
    max_token: Int,
    codec_tokens: String,
    codec_lengths: String,
    codec_doc_id: String,
    codec_source: String,
    doc_ids_enc: Array[Byte],
    sources_enc: Array[Byte],
    lengths_enc: Array[Byte],
    tokens_enc: Array[Byte],
    raw_bytes: Long,
    encoded_bytes: Long,
    checksum: Long
)

/** Row of the projection-aware decode path ([[Pipeline.readDocIndex]]):
  * everything EXCEPT the token payload — consumers of ids/lengths never
  * pay token decode (nor token I/O: the parquet scan prunes tokens_enc).
  * The analog of the reference's labels-file-only scan
  * (reference: convert/writer.go:222-243 splits files so label reads
  * skip chunk bytes).
  */
final case class DocIndexRow(
    chunk_id: Long,
    doc_id: String,
    n_tok: Int,
    source: String
)
