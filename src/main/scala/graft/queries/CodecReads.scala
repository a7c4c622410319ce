package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{chunksDirFor, chunksFor, q52InputsFor, scratchRoot, t}
import graft.engine.{Decoder, TokenRow}

/** Read paths over encoded tables: round trip, pruned and point
  * decodes, metadata-only answers, doc-index and prefix lookups, token
  * search, compaction and the lineage surface.
  */
object CodecReads {
  /** Previous q52 compact target per corpus: each invocation writes a
    * fresh out dir (compact refuses populated foreign targets), so the
    * prior one — a full compacted-corpus copy — is deleted when the
    * next invocation replaces it (its lazy DataFrame was consumed by
    * then; long-lived JVMs must not grow scratch per invocation).
    */
  private val q52LastOut = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The `(doc_id, source, n_tok, token_sum)` readback of decoded
    * rows, in doc_id order (q53, q81).
    */
  private def tokenSums(rows: Dataset[TokenRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.map(r => (r.doc_id.toLong, r.source, r.n_tok.toLong, r.tokens.foldLeft(0L)(_ + _)))
      .toDF("doc_id", "source", "n_tok", "token_sum")
      .orderBy(col("doc_id"))
  }

  val all: Seq[Query] = Seq(
    // THE ENGINE: encode → decode → aggregate; oracle recomputes the
    // same sums from raw text codepoints in DuckDB
    Query("q10_roundtrip_encode_decode", (s, dir) => {
      val spark = s
      import spark.implicits._
      val chunks = chunksFor(s, dir, tokensPerChunk = 16384)
      Decoder.decode(chunks)
        .map(r => (r.source, r.tokens.foldLeft(0L)(_ + _), 1L))
        .toDF("source", "tok_sum", "one")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok_sum")).as("token_sum"))
        .orderBy(col("source"))
    }, Some(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(cp_sum) AS BIGINT) AS token_sum
        |FROM (
        |  SELECT source,
        |    coalesce((SELECT sum(unicode(ch)) FROM unnest(string_split(text, '')) AS u(ch)
        |              WHERE ch <> ''), 0) AS cp_sum
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin)),

    // partition-pruned selective decode: only chunks of one source are
    // decoded (single-source chunks by construction; the chunks table is
    // Hive-partitioned by part_source, so at rest this read touches one
    // directory). Oracle-checked: a mixed-source chunk would emit wrong
    // rows and fail the compare.
    Query("q23_decode_pruned", (s, dir) => {
      val spark = s
      import spark.implicits._
      val chunks = chunksFor(s, dir, tokensPerChunk = 16384)
      Decoder.decode(chunks.filter(col("part_source") === "src1"))
        .map(r => (r.doc_id.toLong, r.n_tok.toLong))
        .toDF("doc_id", "n_tok")
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tok
        |FROM documents WHERE source = 'src1' ORDER BY doc_id""".stripMargin)),

    // chunk-stat pruned point lookup: only chunks whose
    // [min_doc_id, max_doc_id] covers the key are decoded — the
    // reference's precise row-range pruning from page min/max stats
    // (reference: search/constraint.go:394-433) at chunk grain — and
    // WITHIN the surviving chunk only the target doc's token slice is
    // materialized (Decoder.decodeDocsTokensWhere -> IntCodec.decodeRange:
    // O(doc), not O(chunk) — the reference's page-grain row-range
    // materialization, search/iterators.go:359-494).
    // Oracle-checked: a wrong bound or slice offset would drop the row
    // or change n_tok.
    Query("q26_decode_point_lookup", (s, dir) => {
      val spark = s
      import spark.implicits._
      val key = "42"
      chunksFor(s, dir, tokensPerChunk = 16384)
        .filter(col("min_doc_id") <= key && col("max_doc_id") >= key)
        .flatMap(c => Decoder.decodeDocsTokensWhere(c, _ == key))
        .map(r => (r.doc_id.toLong, r.n_tok.toLong))
        .toDF("doc_id", "n_tok")
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tok
        |FROM documents WHERE doc_id = 42 ORDER BY doc_id""".stripMargin)),

    // projection-aware decode: ids/lengths/sources read from an at-rest
    // chunks table WITHOUT touching the token payload — the scan prunes
    // tokens_enc (parquet column pruning) and the kernel skips token
    // decode (Decoder.decodeDocIndex). Oracle recomputes the same
    // per-source stats from the raw documents.
    Query("q27_decode_meta_only", (s, dir) => {
      val tmp = chunksDirFor(s, dir, tokensPerChunk = 16384)
      graft.engine.Pipeline.readDocIndex(s, tmp)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
        .orderBy(col("source"))
    }, Some(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS tok_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // distinct-values-without-scan: per-chunk exact token cardinality
    // from chunk metadata (single chunk per source here), the
    // dictionary-page-only distinct trick
    // (reference: search/materialize.go:358-380) — the oracle recomputes
    // count(DISTINCT codepoint) per source the hard way.
    // Cap: Selector.exactDistinct tracks at most 2^16 distinct values
    // and returns the -1 sentinel above that; the sentinel is surfaced
    // as NULL ("unknown — decode the payload"), never as a fake count.
    // 2^30 is the largest accepted target (chunk token streams are
    // Int-indexed arrays) and still yields one chunk per source at
    // every test SF — the single-chunk-per-source demo shape
    Query("q28_distinct_from_metadata", (s, dir) => {
      chunksFor(s, dir, tokensPerChunk = 1L << 30)
        .toDF()
        .select(col("part_source").as("source"),
          when(col("token_cardinality") >= 0, col("token_cardinality").cast("long"))
            .as("n_distinct_tokens"))
        .orderBy(col("source"))
    }, Some(
      """SELECT source,
        |  CAST(count(DISTINCT unicode(ch)) AS BIGINT) AS n_distinct_tokens
        |FROM (
        |  SELECT source, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE text <> '')
        |GROUP BY source ORDER BY source""".stripMargin)),

    // engine lineage surface: chunk plan + codec choices on testdata
    Query("q32_encode_lineage", (s, dir) => {
      val spark = s
      import spark.implicits._
      chunksFor(s, dir, tokensPerChunk = 16384)
        .toDF()
        .select(col("chunk_id"), col("part_source"), col("n_rows"), col("n_tokens"),
          col("codec_tokens"), col("codec_source"),
          col("raw_bytes"), col("encoded_bytes"))
        .orderBy(col("chunk_id"))
    }, None),

    // O6 admission control as a queryable report: per-source decode cost
    // pre-flighted from chunk METADATA only (n_rows/n_tokens columns;
    // the payload is pruned from the scan), with the admission verdict
    // computed in exact integer math (admitted = at-or-below the
    // all-sources mean token cost) — the reference's row-count/bytes
    // quotas (reference: search/limits.go:45-74, checks
    // search/materialize.go:939-957) surfaced as data. The refusal path
    // itself (Admission.decodeAdmitted throwing ResourceExhausted before
    // any payload decode) is exercised in QuotaSpec.
    Query("q39_admission_report", (s, dir) => {
      val per = chunksFor(s, dir, tokensPerChunk = 16384)
        .toDF()
        .groupBy(col("part_source"))
        .agg(sum(col("n_rows")).cast("long").as("planned_rows"),
          sum(col("n_tokens")).cast("long").as("planned_tokens"))
      // global mean via a broadcast single-row aggregate, not a
      // partitionBy(lit(1)) window: same integer math, and the plan
      // stays shuffle-free past the groupBy even if the source count
      // ever grew beyond trivial
      val tot = per.agg(count(lit(1)).as("n_src"),
        sum(col("planned_tokens")).as("tot_tokens"))
      per.crossJoin(broadcast(tot))
        .withColumn("admitted",
          col("planned_tokens") * col("n_src") <= col("tot_tokens"))
        .select(col("part_source").as("source"),
          col("planned_rows"), col("planned_tokens"), col("admitted"))
        .orderBy(col("source"))
    }, Some(
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS planned_rows,
        |  CAST(sum(length(text)) AS BIGINT) AS planned_tokens,
        |  sum(length(text)) * (SELECT count(DISTINCT source) FROM documents)
        |    <= (SELECT sum(length(text)) FROM documents) AS admitted
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // F3 on the VALUE column: token-membership search through the
    // constraint skip ladder — (1) chunk min_token/max_token bounds as
    // plain metadata columns (Catalyst filter, and parquet row-group
    // stats prune the scan at rest), (2) dictionary-header binary
    // search for dict-coded chunks (O(log distinct), no payload
    // decode), (3) full decode only for surviving chunks — the
    // reference's Equal-constraint ladder (bloom -> page min/max ->
    // dictionary -> read; reference: search/constraint.go:343-463)
    // re-expressed at chunk grain. Oracle recomputes per-doc occurrence
    // counts of the probe character from raw text.
    Query("q45_token_search", (s, dir) => {
      val spark = s
      import spark.implicits._
      val probe = 'q'.toInt // codepoint 113 — rare (~0.5% of tokens)
      chunksFor(s, dir, tokensPerChunk = 16384)
        .filter(col("min_token") <= probe && col("max_token") >= probe)
        .flatMap { c =>
          if (!Decoder.chunkMayContainToken(c, probe)) Iterator.empty
          else Decoder.decodeChunk(c).flatMap { r =>
            var hits = 0L
            r.tokens.foreach(v => if (v == probe) hits += 1)
            if (hits > 0) Iterator.single((r.doc_id.toLong, hits)) else Iterator.empty
          }
        }
        .toDF("doc_id", "n_hits")
        .orderBy(col("doc_id"))
    }, Some(
      // occurrence count of 'q' per doc = character-count difference after
      // removing it; tokens are text codepoints so the counts agree
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(length(text) - length(replace(text, 'q', '')) AS BIGINT) AS n_hits
        |FROM documents WHERE contains(text, 'q')
        |ORDER BY doc_id""".stripMargin)),

    // float-COLUMN encode round-trip over the embeddings table: vectors
    // batch per partition into ~64k-float chunks, encode with the
    // zstd-aware float codec (codec/FloatCodec.scala — BYTE_STREAM_SPLIT
    // planes vs plain), decode, and verify BIT-identical in the kernel
    // (floatToRawIntBits — NaN payloads and signed zeros included). Any
    // mismatch lands in n_mismatch and fails the oracle's structural 0;
    // the engine's per-row invariant extended to float payloads.
    Query("q51_embed_roundtrip", (s, dir) => {
      val spark = s
      import spark.implicits._
      t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          var nVecs = 0L; var nFloats = 0L; var mism = 0L
          val buf = scala.collection.mutable.ArrayBuffer.empty[Float]
          def flush(): Unit = if (buf.nonEmpty) {
            val a = buf.toArray
            val (_, enc) = graft.codec.FloatCodec.encodeAutoZstdAware(a)
            val dec = graft.codec.FloatCodec.decode(enc)
            if (dec.length != a.length) mism += 1
            else {
              var i = 0
              while (i < a.length) {
                if (java.lang.Float.floatToRawIntBits(dec(i)) !=
                    java.lang.Float.floatToRawIntBits(a(i))) mism += 1
                i += 1
              }
            }
            nFloats += a.length
            buf.clear()
          }
          it.foreach { case (_, v) =>
            nVecs += 1; buf ++= v
            if (buf.length >= 64 * 1024) flush()
          }
          flush()
          Iterator.single((nVecs, nFloats, mism))
        }
        .toDF("n_vecs", "n_floats", "n_mismatch")
        .agg(sum("n_vecs").as("n_vecs"), sum("n_floats").as("n_floats"),
          sum("n_mismatch").as("n_mismatch"))
    }, Some(
      // counts from the source table; n_mismatch is structurally zero —
      // any decode bit-divergence on the Spark side breaks the hash
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(len(embedding)) AS BIGINT) AS n_floats,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings""".stripMargin)),

    // COMPACTION: two overlapping encoded tables (slices of the src0/
    // src1 token table) fold into one deduplicated table via
    // Pipeline.compact (the reference's multi-block merge with
    // duplicate-series dedup, convert_test.go:641-759). The oracle
    // checks the dedup-union: every doc of the two sources exactly
    // once, with its full token count — an overlap doc appearing twice
    // or dropped breaks both counts.
    Query("q52_compact_merge", (s, dir) => {
      // the two overlapping INPUT tables are deterministic per corpus
      // and memoized at rest per session (q52InputsFor): a real
      // compaction reads tables that already exist — only the
      // compact itself (decode + dedup + re-encode into a fresh
      // target) is the operation under measurement
      val (dirA, dirB) = q52InputsFor(s, dir)
      val out = s"${java.nio.file.Files.createTempDirectory(scratchRoot, "q52out")}/out"
      q52LastOut.put(dir, out).foreach(prev =>
        graft.engine.Verifier.rmTree(new java.io.File(prev).getParent))
      graft.engine.Pipeline.compact(s, Seq(dirA, dirB), out, tokensPerChunk = 262144, waves = 1)
      // readback aggregate over the compacted table's doc index — the
      // same projection-aware metadata read q27 demonstrates (ids /
      // lengths / sources decode; the token payload is neither read
      // nor decoded): per-doc rows and n_tok are exactly what the
      // oracle's dedup-union counts check, and at 100 TB the readback
      // becomes metadata-priced instead of a full second decode of the
      // corpus just written
      graft.engine.Pipeline.readDocIndex(s, out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok").cast("long")).as("n_tokens"))
        .orderBy(col("source"))
    }, Some(
      // dedup-union of the two slices = every src0/src1 doc exactly once
      // (n_tok == codepoint count == DuckDB length(); see q46)
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_tokens
        |FROM documents WHERE source IN ('src0', 'src1')
        |GROUP BY source ORDER BY source""".stripMargin)),

    // doc-sorted index lookup: the log-pruning point-lookup path over
    // AT-REST chunks — build the (doc_id, chunk_id) index once, then a
    // batch lookup probes it with a pushed isin filter (parquet min/max
    // on the sorted files prune to ~one row-group) and decodes each
    // candidate chunk once for all its keys (Decoder.decodeDocsTokensWhere)
    Query("q53_doc_index_lookup", (s, dir) => {
      val tmp = chunksDirFor(s, dir, tokensPerChunk = 16384)
      val keys = Seq("42", "123", "321")
      // one probe decides build-or-lookup AND supplies the candidates —
      // a fresh-index lookup pays exactly one freshness check + probe
      val ids = graft.engine.Pipeline.lookupChunkIdsViaIndex(s, tmp, keys).getOrElse {
        graft.engine.Pipeline.buildDocIndex(s, tmp)
        graft.engine.Pipeline.lookupChunkIdsViaIndex(s, tmp, keys)
          .getOrElse(sys.error(s"doc index stale immediately after build in $tmp"))
      }
      tokenSums(graft.engine.Pipeline.readTokensForChunkIds(s, tmp, ids, keys))
    }, Some(
      // ch <> '' + coalesce: string_split('', '') yields [''] and
      // unicode('') = -1, which would score an empty doc as token_sum -1
      // where the Spark fold over zero tokens gives 0
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok,
        |  CAST(coalesce((SELECT sum(unicode(ch))
        |        FROM unnest(string_split(text, '')) AS u(ch)
        |        WHERE ch <> ''), 0) AS BIGINT) AS token_sum
        |FROM documents WHERE doc_id IN (42, 123, 321) ORDER BY doc_id""".stripMargin)),

    // conjunctive token search over the ENCODED chunks — q45's
    // Equal-skip-ladder generalized to an AND of probes: a chunk is
    // decoded only when EVERY probe survives (1) the chunk min/max
    // stats rung and (2) the dictionary-membership rung
    // (chunkMayContainToken, O(log distinct) each, zero payload
    // decode); survivors decode once and per-doc presence of all
    // probes resolves in a single pass with a bitmask. The reference
    // composes per-constraint row ranges by intersection
    // (search/constraint.go:343-463, search/rowrange.go intersect);
    // here the intersection happens at chunk grain BEFORE any decode,
    // so the work scales with the rarest probe's posting chunks.
    Query("q71_conjunctive_search", (s, dir) => {
      val spark = s
      import spark.implicits._
      val probes = Array('q'.toInt, 'j'.toInt, 'k'.toInt) // rare codepoints
      var ch = chunksFor(s, dir, tokensPerChunk = 16384)
      probes.foreach { p =>
        ch = ch.filter(col("min_token") <= p && col("max_token") >= p)
      }
      val full = (1 << probes.length) - 1
      ch.flatMap { c =>
          if (!probes.forall(p => Decoder.chunkMayContainToken(c, p))) Iterator.empty
          else Decoder.decodeChunk(c).flatMap { r =>
            var mask = 0
            r.tokens.foreach { v =>
              var i = 0
              while (i < probes.length) {
                if (v == probes(i)) mask |= 1 << i
                i += 1
              }
            }
            if (mask == full) Iterator.single((r.doc_id.toLong, r.n_tok.toLong))
            else Iterator.empty
          }
        }
        .toDF("doc_id", "n_tok")
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(length(text) AS BIGINT) AS n_tok
        |FROM documents
        |WHERE contains(text, 'q') AND contains(text, 'j') AND contains(text, 'k')
        |ORDER BY doc_id""".stripMargin)),

    // prefix point-family lookup over AT-REST chunks: the reference
    // derives [minv,maxv] page bounds for prefix regexes
    // (search/constraint.go:894-909); graft serves doc_id LIKE 'p%' as
    // the range [p, prefixSuccessor(p)) — a pushed range probe on the
    // doc-sorted index (parquet min/max prunes to the few row-groups
    // covering the range, O(log) in corpus size; absent/stale index
    // falls back to chunk min/max metadata), then each candidate chunk
    // decodes its doc index once and slices only the matching docs'
    // token ranges
    Query("q81_prefix_lookup", (s, dir) => {
      val tmp = chunksDirFor(s, dir, tokensPerChunk = 16384)
      // same build-if-stale discipline as q53: the index is derived
      // metadata, rebuilt when the chunk-set fingerprint moved. The
      // freshness question alone needs no probe job — docIndexIsFresh
      // compares fingerprints (memoized per content stamp), where the
      // old dummy-key lookup paid a probe collect on every invocation
      if (!graft.engine.Pipeline.docIndexIsFresh(s, tmp))
        graft.engine.Pipeline.buildDocIndex(s, tmp)
      tokenSums(graft.engine.Pipeline.readTokensForDocIdPrefix(s, tmp, "4"))
    }, Some(
      // same token_sum convention as q53 (unicode code points of text,
      // empty docs coalesce to 0); the prefix family is the stringified
      // numeric doc_id
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok,
        |  CAST(coalesce((SELECT sum(unicode(ch))
        |        FROM unnest(string_split(text, '')) AS u(ch)
        |        WHERE ch <> ''), 0) AS BIGINT) AS token_sum
        |FROM documents WHERE CAST(doc_id AS VARCHAR) LIKE '4%'
        |ORDER BY doc_id""".stripMargin)),

    // lineage reconciliation — the exact-oracle twin of q32's per-chunk
    // lineage surface (chunk ids / codec choices are engine-specific,
    // so q32 itself stays rows-only): the per-partition lineage records
    // must reconcile EXACTLY with the source corpus — sum(n_rows) = doc
    // count, sum(n_tokens) = corpus code points, sum(raw_bytes) = the
    // documented 4*n_tok + |doc_id| + |source| + 4 per row — proving no
    // split was lost or double-encoded (the resume-from-checkpoint
    // invariant the chunk ledger exists to guarantee). One metadata
    // agg over the (persisted) chunks — the payload never decodes.
    Query("q82_lineage_reconcile", (s, dir) => {
      chunksFor(s, dir, tokensPerChunk = 16384)
        .toDF()
        .groupBy(col("part_source").as("source"))
        .agg(sum(col("n_rows")).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(col("raw_bytes")).cast("long").as("raw_bytes"))
        .orderBy(col("source"))
    }, Some(
      // ground truth recomputed from the corpus: lineage totals must
      // match doc counts, code-point mass, and the documented raw-bytes
      // accounting (4 B/token + doc_id/source strings + 4 B row header).
      // ASCII-id assumption (round-5 advice, documented rather than
      // changed — the oracle SQL is frozen): DuckDB length() counts code
      // points while the encoder's raw_bytes accumulates
      // doc_id.length/source.length in UTF-16 code units
      // (Encoder.scala raw_bytes) — equal for the fixtures' ASCII ids
      // and sources; a non-BMP doc_id would need the encoder to count
      // code points for this reconciliation to stay exact.
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_tokens,
        |  CAST(sum(4 * length(text) + length(CAST(doc_id AS VARCHAR))
        |           + length(source) + 4) AS BIGINT) AS raw_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // chunk-grain NOT constraint — the complement of q45's membership
    // search. The reference cannot prefilter NOT (it decodes the
    // child's row set and complements, constraint.go:934-967, with the
    // why-not at :946-950); the chunk ladder actually can, in one
    // direction: a chunk the Equal ladder PROVES token-free (min/max
    // bounds, then dict-header binary search) is accepted WHOLESALE —
    // every doc qualifies, and the accept is metadata-only (ids +
    // lengths decode; the token payload is neither read past the scan
    // nor decoded). Only may-contain chunks pay the full decode +
    // per-doc complement. With a rare probe most chunks take the cheap
    // path — the complement query is CHEAPER than the membership one,
    // inverting the reference's cost order.
    Query("q83_token_not_search", (s, dir) => {
      val spark = s
      import spark.implicits._
      val probe = 'q'.toInt // same rare probe as q45: ~0.5% of tokens
      chunksFor(s, dir, tokensPerChunk = 16384)
        .flatMap { c =>
          if (!Decoder.chunkMayContainToken(c, probe))
            Decoder.decodeDocIndex(c.chunk_id, c.doc_ids_enc, c.lengths_enc, c.sources_enc)
              .map(r => (r.doc_id.toLong, r.n_tok.toLong))
          else Decoder.decodeChunk(c).flatMap { r =>
            if (r.tokens.contains(probe)) Iterator.empty
            else Iterator.single((r.doc_id.toLong, r.n_tok.toLong))
          }
        }
        .toDF("doc_id", "n_tok")
        .orderBy(col("doc_id"))
    }, Some(
      // complement of q45's membership predicate over the same corpus;
      // empty docs contain no 'q' and are kept with n_tok 0
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(length(text) AS BIGINT) AS n_tok
        |FROM documents WHERE NOT contains(text, 'q')
        |ORDER BY doc_id""".stripMargin))
  )
}
