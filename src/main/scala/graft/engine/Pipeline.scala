package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import scala.jdk.CollectionConverters._
import graft.codec.StrCodec

/** Job wiring: a resumable encode whose chunks table is its own ledger.
  *
  * Chunk metadata is the manifest, the Iceberg-manifest analog
  * (SURVEY.md §1.5 note: no Iceberg runtime jar ships in this sandbox,
  * so the "Iceberg table" is a partitioned Parquet directory whose
  * per-chunk metadata columns describe its data). As in the reference,
  * which keeps a file's metadata in the file it describes (reference:
  * schema/schema_builder.go:41-55), a chunk's record commits with the
  * chunk, so no second table can lag the data; [[readLineage]] is a
  * view of that metadata.
  *
  * Resume model: the plan is encoded by one shuffle whose partitions
  * are committed in `waves` (wave w holds the partitions p with
  * p % waves == w); each wave is one atomic Spark write of its chunks,
  * its only write boundary. A failure kills at most the current wave;
  * a re-run reads the chunk ids its input split already wrote, filters
  * them out of the plan and re-encodes only the remainder —
  * per-partition checkpointing at the granularity a 1000-executor job
  * needs. A compaction's input split names each input's version, so a
  * resume whose inputs changed is refused ([[compact]]).
  */
object Pipeline {

  final case class EncodeReport(
      wavesRun: Int,
      chunksEncoded: Long,
      chunksSkipped: Long,
      rows: Long,
      tokens: Long,
      rawBytes: Long,
      encodedBytes: Long,
      /** rows discarded by [[compact]]'s duplicate-doc_id dedup (0 for
        * plain encode runs) — surfaced, never silent: the engine's
        * verify contract is multiset-exact, so a caller compacting a
        * table with legitimate duplicate doc_ids must see the loss.
        */
      rowsDropped: Long = 0L
  )

  def chunksPath(outDir: String) = s"$outDir/chunks"

  private def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Lineage rows over chunk metadata. `input_split` comes from the
    * CHUNK (persisted at encode time), so it names the split each chunk
    * was written under, whatever split a later run passes.
    */
  private def lineageFromChunks(chunks: DataFrame): DataFrame =
    chunks.select(
      col("chunk_id"),
      col("part_source"),
      col("input_split"),
      col("min_doc_id"), col("max_doc_id"),
      col("token_cardinality"),
      col("codec_tokens"), col("codec_lengths"),
      col("codec_doc_id"), col("codec_source"),
      col("n_rows").cast("long").as("row_count"),
      col("n_tokens").as("token_count"),
      col("raw_bytes"), col("encoded_bytes"),
      col("checksum"),
      lit("completed").as("status")
    )

  /** Per-chunk lineage (FIXTURES.md §2): a view of the chunk metadata,
    * payload never read; None when `outDir` holds no chunks table.
    * `status` is always `completed` — a chunk is in the table only once
    * its wave's write committed.
    */
  def readLineage(spark: SparkSession, outDir: String): Option[DataFrame] =
    existingChunkMeta(spark, outDir).map(lineageFromChunks)

  /** The chunks table, read with the [[EncodedChunk]] layout
    * ([[Tables.read]]): a missing layout column fails loudly, a table
    * with no chunks reads as empty, and `part_source` is always a
    * string. The one read of the table: every view below is a
    * projection of it.
    */
  private def chunksTable(spark: SparkSession, outDir: String): Dataset[EncodedChunk] =
    Tables.read(spark, chunksPath(outDir), Encoder.ChunkLayout)

  /** Payload-free chunk metadata: every chunk column but the four
    * encoded payloads (never read from parquet).
    */
  private def chunkMeta(spark: SparkSession, outDir: String): DataFrame =
    chunksTable(spark, outDir).drop("doc_ids_enc", "sources_enc", "lengths_enc", "tokens_enc")

  /** [[chunkMeta]], or None when `outDir` holds no chunks table yet. */
  private def existingChunkMeta(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(chunksPath(outDir))
    if (fsOf(spark, outDir).exists(p)) Some(chunkMeta(spark, outDir)) else None
  }

  def readChunks(spark: SparkSession, outDir: String): Dataset[EncodedChunk] =
    chunksTable(spark, outDir)

  /** Consumer read path: decode the chunks table back to token rows,
    * every chunk checked against its stored checksum, optionally
    * restricted to some sources. The source filter lands on
    * the Hive partition column (`partitionBy(part_source)` at write),
    * so pruning happens at the directory/file-listing level — chunks of
    * other sources are never read, the analog of the reference's
    * stats-driven row-range pruning (reference: search/constraint.go:394-433).
    */
  def readTokens(spark: SparkSession, outDir: String, sources: Seq[String] = Nil): Dataset[TokenRow] =
    Decoder.decode(chunksOfSources(spark, outDir, sources))

  /** The chunks of `sources` (all chunks when empty), pruned on the
    * `part_source` partition column.
    */
  private def chunksOfSources(
      spark: SparkSession,
      outDir: String,
      sources: Seq[String]
  ): Dataset[EncodedChunk] = {
    val chunks = readChunks(spark, outDir)
    if (sources.isEmpty) chunks
    else chunks.filter(col("part_source").isin(sources: _*))
  }

  /** [[readTokens]] behind admission control: the decode's cost (rows,
    * tokens, encoded payload bytes) is pre-flighted from chunk metadata
    * and reserved against `budgets` BEFORE any payload is read — a
    * refused query costs one footer-grade metadata job, never a
    * full-cluster decode (the reference's quota checks before page
    * materialization, reference: search/materialize.go:939-957). The
    * admitted cost comes back with the decode, so callers report it
    * without a second metadata job.
    */
  def readTokensAdmittedWithCost(
      spark: SparkSession,
      outDir: String,
      budgets: Admission.Budgets,
      sources: Seq[String] = Nil
  ): (Dataset[TokenRow], Admission.AdmittedCost) =
    Admission.decodeAdmittedWithCost(chunksOfSources(spark, outDir, sources), budgets)

  /** The doc table of a compaction: the union of its inputs' doc
    * indexes ([[readDocIndex]], payload never read) grouped by doc_id.
    * Each group keeps its winner's (source, n_tok), the min by (source,
    * n_tok), and `n`, the count of its input rows. A null doc_id is one
    * group, as in the payload dedup. Its rows are the (source, doc_id,
    * n_tok) of the compacted output: the payload dedup's min by (source,
    * n_tok, checksum) keeps the same pair for every doc, since the
    * checksum only breaks exact ties, which share source and n_tok.
    * (Struct min orders strings in UTF-8 byte order vs the kernel's
    * UTF-16: for a supplementary-plane source name the two could pick
    * different winners; that would only shift Chunker's bucket masses,
    * never which rows encode, and both orders are deterministic, so
    * chunk ids stay a pure function of the input set.)
    */
  private def compactDocs(spark: SparkSession, inDirs: Seq[String]): DataFrame =
    inDirs.map(d => readDocIndex(spark, d).toDF().select(col("source"), col("doc_id"), col("n_tok")))
      .reduce(_ union _)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("source"), col("n_tok"))).as("w"), count(lit(1)).as("n"))
      .select(col("w.source").as("source"), col("doc_id"), col("w.n_tok").as("n_tok"), col("n"))

  /** One pass over [[compactDocs]]: (input rows, output rows, does no
    * doc repeat). One Spark job, no shuffle: each task folds its groups'
    * `n` into (sum, count, max), and the driver adds the partials.
    */
  private def docCounts(docs: DataFrame): (Long, Long, Boolean) = {
    val parts = docs.select(col("n")).queryExecution.toRdd.mapPartitions { rows =>
      var in, out, most = 0L
      rows.foreach { r => val n = r.getLong(0); in += n; out += 1; most = math.max(most, n) }
      Iterator((in, out, most))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum, parts.forall(_._3 <= 1))
  }

  /** The decoded rows a compaction encodes. When no doc repeats it is
    * the plain union of the inputs, and the only payload shuffle left is
    * [[run]]'s repartition by chunk. Otherwise one deterministic winner
    * per doc_id, min by (source, n_tok, content checksum): one shuffle on
    * doc_id with map-side combine.
    */
  private def compactRows(
      spark: SparkSession,
      inDirs: Seq[String],
      duplicateFree: Boolean
  ): Dataset[TokenRow] = {
    import spark.implicits._
    val all = inDirs.map(d => readTokens(spark, d)).reduce(_ union _)
    if (duplicateFree) all
    else
      // key each row ONCE (content checksum is O(n_tok)); the combiner
      // then compares precomputed keys however many inputs collide. No
      // persist: at target scale materializing the decoded union would
      // demand corpus-size executor storage — the single remaining
      // payload evaluation (the encode pass; pre-passes read the doc
      // table) is the cheaper trade
      all
        .map(r => ((r.source, r.n_tok, Checksum.ofTokens(r.tokens, r.n_tok)), r))
        .groupByKey(_._2.doc_id)
        .reduceGroups((x, y) =>
          if (Ordering[(String, Int, Long)].lteq(x._1, y._1)) x else y)
        .map(_._2._2)
  }

  /** A compaction's row plan and whether it skips the dedup (no doc
    * repeats across or within the inputs).
    */
  private[engine] def compactPlan(
      spark: SparkSession,
      inDirs: Seq[String]
  ): (Dataset[TokenRow], Boolean) = {
    val (_, _, duplicateFree) = docCounts(compactDocs(spark, inDirs))
    (compactRows(spark, inDirs, duplicateFree), duplicateFree)
  }

  /** Compact one or more chunks tables into a NEW deduplicated table —
    * the maintenance analog of the reference's multi-block conversion
    * with duplicate-series merge (reference: convert/convert.go
    * `ConvertTSDBBlock` over several blocks; convert_test.go:641-759
    * asserts duplicated series across blocks merge). Streaming ingest
    * accumulates a wave per micro-batch and incremental backfills
    * accumulate whole directories; compaction folds them into one table
    * of full-size chunks.
    *
    * Duplicate doc_ids (within or across inputs) keep ONE deterministic
    * winner — min by (source, n_tok, content checksum) — so the output
    * is a pure function of the input SET at its versions (the input
    * split names each input's `chunks/` stamp and seeds the chunk ids),
    * independent of directory order, partitioning or cluster size (the
    * same idempotence discipline as chunk ids and resume).
    *
    * Scale shape: one payload-free doc table ([[compactDocs]], the
    * inputs' doc indexes grouped by doc_id) is persisted for the run,
    * and one pass over it ([[docCounts]]) gives the input rows, the
    * output rows and whether any doc repeats. When none does
    * ([[compactPlan]]), the inputs' union feeds the encoder directly:
    * backfills of disjoint ranges and streaming micro-batches with
    * interleaved ones pay one payload shuffle, not two. The doc table also feeds both Chunker
    * pre-passes, so the payload plan evaluates once, and `rowsDropped`
    * (input rows less output rows) is known before the run.
    */
  def compact(
      spark: SparkSession,
      inDirs: Seq[String],
      outDir: String,
      tokensPerChunk: Long = Chunker.DefaultTokensPerChunk,
      waves: Int = 4,
      verify: Boolean = false
  ): EncodeReport = {
    require(inDirs.nonEmpty, "compact needs at least one input dir")
    // in-place compaction can never work: run() appends to the target
    // while readTokens streams from it. Both sides are qualified by
    // their file system, so `/x` and `file:/x` name the same dir
    def qualified(p: String) = fsOf(spark, p).makeQualified(new org.apache.hadoop.fs.Path(p))
    require(!inDirs.map(qualified).contains(qualified(outDir)),
      s"compact target $outDir must not be one of its inputs (in-place compaction would read while appending)")
    // the input split names each input dir at the version of its chunks
    // table (its `chunks/` stamp). It scopes the chunk ids and is stored
    // in every chunk row, so the target's chunks record which input
    // versions they were planned from
    val tag = "compact:" +
      inDirs.sorted.map(d => s"$d@${chunksStamp(spark, d).fold("")(_.toString)}").mkString(",")
    // a populated target is allowed ONLY when it is this exact
    // compaction's partial output (same inputs at the same versions ->
    // same input_split -> identical deterministic chunk ids): that is
    // run()'s designed wave-checkpoint resume. Any other content would
    // be silently duplicated by the append semantics — refuse. A
    // resume whose input dirs match but whose versions differ (waves
    // appended, a re-encode; or a tag written without versions) would
    // mix chunks planned against the old content with chunks planned
    // against the new, so the same doc could land twice. One read of
    // the target serves both this check and the resume's ledger: each
    // chunk's id and whether this split wrote it. Only a target holding
    // another split pays a second read, of its distinct splits, to say
    // which
    val done = existingChunkMeta(spark, outDir).fold(Array.emptyLongArray) { meta =>
      val chunks = meta.select(col("chunk_id"), coalesce(col("input_split") === tag, lit(false)))
        .collect()
      if (chunks.isEmpty || chunks.exists(!_.getBoolean(1))) {
        val splits = meta.select("input_split").distinct().collect().map(_.getString(0)).toSet
        def dirsOf(split: String) = split.replaceAll("@-?\\d*(?=,|$)", "")
        require(splits.forall(dirsOf(_) == dirsOf(tag)),
          s"compact target $outDir holds a chunks table from a different input set " +
            s"(${splits.mkString(", ")}); compaction writes a NEW table or resumes its own partial output")
        require(splits == Set(tag),
          s"compact inputs changed since the partial run in $outDir " +
            s"(${splits.mkString(", ")} -> $tag); inputs must be immutable across " +
            "a resumed compaction — restart into a fresh target")
      }
      chunks.map(_.getLong(0)).distinct.sorted
    }
    // persisted for the run: docCounts below and the two Chunker
    // pre-passes all read it, and without the persist the doc-index
    // union and its grouping shuffle evaluate once per read. It is ~1%
    // of the payload bytes (ids/lengths/sources only) — bounded, unlike
    // the corpus-sized payload persist compactRows declines
    val docs = compactDocs(spark, inDirs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (inputRows, outputRows, duplicateFree) = docCounts(docs)
      val rows = compactRows(spark, inDirs, duplicateFree)
      val (rpt, _) = encodeRun(spark, rows, outDir, tokensPerChunk, waves, tag, _ => false, Some(docs), done)
      if (verify) {
        val v = Verifier.verify(rows, readChunks(spark, outDir))
        require(v.ok, s"compact round-trip verification FAILED: $v")
      }
      rpt.copy(rowsDropped = inputRows - outputRows)
    } finally docs.unpersist()
  }

  // ---- doc_id → chunk_id index (the log-pruning lookup path) --------
  //
  // The bloom rung bounds a point lookup's DECODE work, but its scan
  // still reads every chunk's bloom (~1.25 bytes per corpus doc per
  // lookup — fine for occasional lookups, linear all the same). The
  // reference gets true log pruning from its global sort
  // (convert/convert.go:765; search/constraint.go:520-595 binary
  // search). Graft keeps hash-bucketed chunks (deterministic, resume-
  // friendly, skew-free) and instead offers a DERIVED index table:
  // (doc_id, chunk_id) range-partitioned and sorted by doc_id, so a
  // lookup is a driver-side probe ([[IndexProbe]]) that the files'
  // doc_id fences and parquet min/max stats prune to ~one file and a
  // few pages — no Spark job, one fence per index file. The index is
  // rebuildable metadata (~12 bytes/doc at rest) that names the chunks-
  // table version it was built from (the `chunks/` stamp in its
  // [[IndexProbe.BuiltFrom]] marker), and every lookup checks that
  // version against the current one — a stale or absent index falls
  // back to the bloom path, never to a wrong answer.

  def docIndexPath(outDir: String) = s"$outDir/doc_index"

  /** The doc-sorted index at `outDir`, read with its layout
    * ([[IndexProbe.Layout]], through [[Tables.read]]).
    */
  private[graft] def readIndexTable(spark: SparkSession, outDir: String): DataFrame =
    Tables.read(spark, docIndexPath(outDir), Encoders.row(IndexProbe.Layout))

  /** The version of the chunks table: its [[SessionMemo.dirStamp]]. */
  private def chunksStamp(spark: SparkSession, outDir: String): Option[Long] =
    SessionMemo.dirStamp(spark.sparkContext.hadoopConfiguration, chunksPath(outDir))

  /** The doc-sorted index, if it was built from the current chunks table. */
  private def freshIndex(spark: SparkSession, outDir: String): Option[IndexProbe.Index] = {
    val current = chunksStamp(spark, outDir)
    IndexProbe.at(spark, docIndexPath(outDir)).filter(i => current.contains(i.builtFrom))
  }

  /** Is the doc-sorted index present and built from the CURRENT chunks
    * table (the `chunks/` stamp in its marker equals the stamp now)? No
    * Spark job. Precondition, as for [[SessionMemo.dirStamp]]: chunk
    * files are immutable once committed, as Spark's writers guarantee
    * (an encode or re-encode adds files under fresh names).
    */
  def docIndexIsFresh(spark: SparkSession, outDir: String): Boolean =
    freshIndex(spark, outDir).isDefined

  /** Build (or rebuild) the doc_id → chunk_id index for an encoded
    * directory. Payload-free: reads only the encoded doc ids, each
    * chunk's `encoded_bytes` and where the chunk lives (the hidden
    * `_metadata.file_path` and `_metadata.row_index` of its row), and
    * writes doc-sorted parquet ([[IndexProbe.Layout]]). One range
    * shuffle of the index rows — metadata-priced at any scale. Derived
    * data: safe to rebuild at any time; a concurrent
    * encode changes the `chunks/` stamp, which then no longer matches
    * the stamp the index stores, so it invalidates the index without
    * locking (files immutable once committed, see [[docIndexIsFresh]]).
    */
  def buildDocIndex(spark: SparkSession, outDir: String, indexFiles: Int = 0): Unit = {
    import spark.implicits._
    // stamp FIRST, then read the rows: chunks appended during the
    // (long) index write are then absent from the STORED stamp too, so
    // the next lookup sees stored != current and falls back; a stamp
    // taken after the write would let a stale index validate as fresh
    val builtFrom = chunksStamp(spark, outDir)
    require(builtFrom.isDefined, s"no chunks table at ${chunksPath(outDir)}")
    val rows = chunksTable(spark, outDir)
      .select(col("chunk_id"), col("doc_ids_enc"), col("_metadata.file_path"),
        col("_metadata.row_index"), col("encoded_bytes"))
      .as[(Long, Array[Byte], String, Long, Long)]
      .flatMap { case (id, docIds, file, row, bytes) =>
        StrCodec.decode(docIds).iterator.map(d => (d, id, file, row, bytes))
      }
      .toDF(IndexProbe.Layout.fieldNames.toSeq: _*)
    // ~8 chunks' doc ids per index file keeps files in the low MBs
    val files =
      if (indexFiles > 0) indexFiles
      else math.max(1, (chunkMeta(spark, outDir).count() / 8).toInt)
    rows.repartitionByRange(files, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(docIndexPath(outDir))
    // the overwrite removed the old marker; the new one goes in last,
    // so an index whose write did not finish reads as absent
    writeSmallText(fsOf(spark, outDir),
      new org.apache.hadoop.fs.Path(docIndexPath(outDir), IndexProbe.BuiltFrom), builtFrom.get.toString)
  }

  /** At most the first `cap` bytes of a small file as trimmed UTF-8,
    * short-read safe: `readNBytes` reads until `cap` bytes or the end,
    * where one `read()` may return fewer bytes than asked.
    */
  private[engine] def readSmallText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      cap: Int
  ): String = {
    val in = fs.open(p)
    try new String(in.readNBytes(cap), "UTF-8").trim finally in.close()
  }

  /** Write `text` as the whole small file `p` (UTF-8), replacing it. */
  private def writeSmallText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      text: String
  ): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Least string strictly greater (in UTF-8 order, [[Utf8Order]] =
    * Spark's string order) than every string with the given prefix —
    * the exclusive upper bound that turns `doc_id LIKE 'p%'` into the
    * range [p, successor(p)). Computed by incrementing the prefix's
    * last code point (UTF-8 byte order is monotone in code-point
    * value, so the increment bounds the prefix family exactly);
    * trailing U+10FFFF code points cannot be incremented and are
    * dropped first. None = no finite bound (prefix is all-U+10FFFF or
    * empty): the caller's range is [p, +inf).
    */
  def prefixSuccessor(prefix: String): Option[String] = {
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) == 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(cps, i + 1)
      out(i) += 1
      // skip the surrogate block: no valid string contains a lone
      // surrogate code point (String.getBytes(UTF_8) would mangle it
      // to '?', making the stored bound sort BELOW the range's lo and
      // match nothing), and every code point in [U+D800, U+DFFF] is
      // unencodable, so U+E000 is the least valid next code point —
      // the bound stays exact
      if (out(i) >= 0xD800 && out(i) <= 0xDFFF) out(i) = 0xE000
      Some(new String(out, 0, out.length))
    }
  }

  // ---- doc-id reads: one key set, one lookup path -------------------
  //
  // Point, batch, range and prefix reads differ only in their key set.
  // [[DocKeys]] owns every rule that turns keys into a filter — the
  // chunk-grain analog of the reference's single Constraint interface
  // (reference: search/constraint.go:33-49: a cheap superset test from
  // stats and blooms, then an exact filter, applied by one search
  // loop). Every read runs the same two phases ([[readDocs]]):
  // candidate chunks (one driver-side index probe, or one payload-free
  // metadata scan job), then a fetch that decodes only the matching
  // docs' token slices. With a fresh index, a lookup of at most
  // [[IndexProbe.MaxChunks]] chunks and [[IndexProbe.MaxBytes]] bytes
  // fetches on the driver too ([[IndexProbe.fetch]]): no Spark job at
  // all. Any other lookup pays one payload job ([[fetchAndDecode]]).

  /** A doc-id key set and the filters it implies. */
  private[engine] sealed trait DocKeys extends Serializable {
    def isEmpty: Boolean = false
    /** (a) may a doc-index file whose doc_ids span [lo, hi] (its footer
      * fence) hold a key?
      */
    def fenceAdmits(lo: String, hi: String): Boolean
    /** (a) doc-index rows holding a key, as a parquet predicate: the
      * doc-sorted index's row-group stats and column index prune it to
      * the few pages covering the keys.
      */
    def indexRows: FilterPredicate
    /** (b) chunks whose [min_doc_id, max_doc_id] may hold a key — pushed
      * to parquet row-group stats. Also the candidate fetch's filter
      * when the id list is too long for an In-list.
      */
    def chunkFilter: Column
    /** (c) may a chunk that passed (b), with these stored bounds and doc
      * bloom, hold a key? Null bloom = may-contain.
      */
    def admits(minId: String, maxId: String, bloom: Array[Byte]): Boolean
    /** (d) exact per-doc decode predicate. */
    def matches(docId: String): Boolean
  }

  private[engine] object DocKeys {

    /** Exact keys. Key extremes and bound compares use [[Utf8Order]]:
      * they must agree with the Spark column predicates and the stored
      * bounds, both UTF-8 byte order.
      */
    final case class Ids(keys: Seq[String]) extends DocKeys {
      private val keySet = keys.toSet
      override def isEmpty: Boolean = keys.isEmpty
      def fenceAdmits(lo: String, hi: String): Boolean =
        keys.exists(k => Utf8Order.lteq(lo, k) && Utf8Order.lteq(k, hi))
      def indexRows: FilterPredicate =
        FilterApi.in(FilterApi.binaryColumn("doc_id"), keys.map(Binary.fromString).toSet.asJava)
      def chunkFilter: Column =
        col("min_doc_id") <= keys.max(Utf8Order) && col("max_doc_id") >= keys.min(Utf8Order)
      // the bloom rung keeps a point probe selective under hash
      // bucketing, where (b) alone approaches all-chunks at production
      // rows-per-chunk ([[DocBloom]])
      def admits(minId: String, maxId: String, bloom: Array[Byte]): Boolean =
        keys.exists(k => Utf8Order.lteq(minId, k) && Utf8Order.lteq(k, maxId) &&
          DocBloom.mayContain(bloom, k))
      def matches(docId: String): Boolean = keySet(docId)
    }

    /** lo <= doc_id < hi in UTF-8 order, hi = None unbounded above. A
      * Bloom cannot answer a range, so (c) admits whatever (b) kept.
      */
    final case class Range(lo: String, hi: Option[String]) extends DocKeys {
      def fenceAdmits(fenceLo: String, fenceHi: String): Boolean =
        Utf8Order.lteq(lo, fenceHi) && hi.forall(Utf8Order.lt(fenceLo, _))
      def indexRows: FilterPredicate = {
        val docId = FilterApi.binaryColumn("doc_id")
        hi.foldLeft[FilterPredicate](FilterApi.gtEq(docId, Binary.fromString(lo)))((p, h) =>
          FilterApi.and(p, FilterApi.lt(docId, Binary.fromString(h))))
      }
      def chunkFilter: Column =
        hi.foldLeft(col("max_doc_id") >= lo)((p, h) => p && col("min_doc_id") < h)
      def admits(minId: String, maxId: String, bloom: Array[Byte]): Boolean = true
      def matches(docId: String): Boolean =
        Utf8Order.lteq(lo, docId) && hi.forall(Utf8Order.lt(docId, _))
    }
  }

  /** Longest chunk-id list fetched as an In-list; a longer one (a wide
    * range, or many keys) falls back to the pushable
    * [[DocKeys.chunkFilter]], which selects a superset the decode
    * predicate then makes exact.
    */
  private val MaxInListIds = 1024

  /** Candidates, each with where its chunk lives, from the doc-sorted
    * index, probed on the driver with no Spark job ([[IndexProbe]]), or
    * None when the index is absent or stale (built from another
    * chunks-table version — e.g. chunks appended or re-encoded since the
    * build), so a stale locator is never used.
    */
  private def probeIndex(
      spark: SparkSession,
      outDir: String,
      keys: DocKeys
  ): Option[Seq[IndexProbe.Candidate]] =
    freshIndex(spark, outDir).map(IndexProbe.candidates(spark, _, keys.fenceAdmits, keys.indexRows))

  private def chunkIdsOf(candidates: Seq[IndexProbe.Candidate]): Seq[Long] =
    candidates.map(_.chunkId).distinct

  /** Candidates from ONE payload-free metadata scan (chunk_id, doc_id
    * bounds, doc bloom — tokens_enc never read) filtered by (b) then
    * (c). Only the survivors come back to the driver: for exact keys,
    * bounded by the bloom FPR (<1% of chunks) plus true hits, never by
    * corpus size.
    */
  private def scanChunkMeta(
      spark: SparkSession,
      outDir: String,
      keys: DocKeys
  ): Seq[Long] = {
    import spark.implicits._
    chunkMeta(spark, outDir)
      .filter(keys.chunkFilter)
      .select(col("chunk_id"), col("min_doc_id"), col("max_doc_id"), col("doc_bloom"))
      .as[(Long, String, String, Array[Byte])]
      .filter(r => keys.admits(r._2, r._3, r._4))
      .map(_._1)
      .collect()
      .toSeq
  }

  /** Phase 1: the index probe when the index is fresh, else the
    * metadata scan.
    */
  private def candidateChunkIds(
      spark: SparkSession,
      outDir: String,
      keys: DocKeys
  ): Seq[Long] =
    if (keys.isEmpty) Nil
    else probeIndex(spark, outDir, keys).map(chunkIdsOf).getOrElse(scanChunkMeta(spark, outDir, keys))

  /** Phase 2 as one Spark job: read the candidate chunks — chunk_id is a
    * plain parquet column, so the In-list pushes to row-group stats —
    * and decode each ONCE for all its matching docs, materializing only
    * their token slices ([[Decoder.decodeDocsTokensWhere]]: O(doc), not
    * O(chunk)). Lazy, as any Spark read: it runs at the action. The
    * fetch of every lookup the driver does not take ([[readDocs]]).
    */
  private[engine] def fetchAndDecode(
      spark: SparkSession,
      outDir: String,
      ids: Seq[Long],
      keys: DocKeys
  ): Dataset[TokenRow] = {
    import spark.implicits._
    if (ids.isEmpty || keys.isEmpty) return spark.emptyDataset[TokenRow]
    val chunks = readChunks(spark, outDir)
    val hit =
      if (ids.length <= MaxInListIds) chunks.filter(col("chunk_id").isin(ids: _*))
      else chunks.filter(keys.chunkFilter)
    hit.flatMap(c => Decoder.decodeDocsTokensWhere(c, keys.matches))
  }

  /** Both phases. With a fresh index, candidates within the driver caps
    * are fetched and decoded on the driver at the call
    * ([[IndexProbe.fetch]]) and come back as a local Dataset, so an
    * action on it submits no job (a transformation of it may); any other
    * lookup is the lazy Spark fetch.
    */
  private def readDocs(spark: SparkSession, outDir: String, keys: DocKeys): Dataset[TokenRow] =
    if (keys.isEmpty) spark.emptyDataset(TokenLayout)
    else probeIndex(spark, outDir, keys) match {
      case Some(candidates) =>
        IndexProbe.fetch(spark, candidates, keys.matches)
          .map(spark.createDataset(_)(TokenLayout))
          .getOrElse(fetchAndDecode(spark, outDir, chunkIdsOf(candidates), keys))
      case None => fetchAndDecode(spark, outDir, scanChunkMeta(spark, outDir, keys), keys)
    }

  /** The [[TokenRow]] encoder, built once for every driver-fetched read. */
  private val TokenLayout = Encoders.product[TokenRow]

  /** Point lookup: every row with this doc_id, decoding only chunks the
    * index (or the bounds and bloom) admit — the reference's precise
    * row-range pruning from page min/max statistics re-expressed at
    * chunk grain (reference: search/constraint.go:394-433, binary
    * search on the sorted column 520-595).
    */
  def readTokensForDocId(spark: SparkSession, outDir: String, docId: String): Dataset[TokenRow] =
    readDocs(spark, outDir, DocKeys.Ids(Seq(docId)))

  /** Batch point lookup: all requested docs in one pass, each candidate
    * chunk decoded once for all its requested keys.
    */
  def readTokensForDocIds(
      spark: SparkSession,
      outDir: String,
      docIds: Seq[String]
  ): Dataset[TokenRow] =
    readDocs(spark, outDir, DocKeys.Ids(docIds))

  /** Range read over AT-REST chunks: every doc with lo <= doc_id < hi
    * (UTF-8 order — hi = None means unbounded). The chunk-grain analog
    * of the reference's regex-derived page bounds (reference:
    * search/constraint.go:894-909): chunks are hash-bucketed, so the
    * ordered structure lives in the DERIVED doc-sorted index.
    */
  def readTokensForDocIdRange(
      spark: SparkSession,
      outDir: String,
      lo: String,
      hi: Option[String]
  ): Dataset[TokenRow] =
    readDocs(spark, outDir, DocKeys.Range(lo, hi))

  /** Prefix read: every doc whose id starts with `prefix` — `doc_id LIKE
    * 'prefix%'` served as the range [prefix, [[prefixSuccessor]]). The
    * successor bound is exact, so the range test is the prefix test.
    */
  def readTokensForDocIdPrefix(
      spark: SparkSession,
      outDir: String,
      prefix: String
  ): Dataset[TokenRow] =
    readDocs(spark, outDir, DocKeys.Range(prefix, prefixSuccessor(prefix)))

  /** Phase 2 of a batch point lookup on candidates the caller already
    * holds — e.g. from a probe that also decided whether to build the
    * index, so no second freshness check + probe is paid.
    */
  def readTokensForChunkIds(
      spark: SparkSession,
      outDir: String,
      ids: Seq[Long],
      docIds: Seq[String]
  ): Dataset[TokenRow] =
    fetchAndDecode(spark, outDir, ids, DocKeys.Ids(docIds))

  /** Phase 1 of a point lookup through the metadata scan alone, fresh
    * index or not.
    */
  def pointLookupChunkIds(spark: SparkSession, outDir: String, docId: String): Seq[Long] =
    scanChunkMeta(spark, outDir, DocKeys.Ids(Seq(docId)))

  /** Phase 1 of a batch point lookup through the index alone: None when
    * the index is absent or stale.
    */
  def lookupChunkIdsViaIndex(
      spark: SparkSession,
      outDir: String,
      docIds: Seq[String]
  ): Option[Seq[Long]] =
    probeIndex(spark, outDir, DocKeys.Ids(docIds)).map(chunkIdsOf)

  /** Phase 1 of a range read: chunk ids whose doc_id span intersects
    * [lo, hi).
    */
  def lookupChunkIdsForRange(
      spark: SparkSession,
      outDir: String,
      lo: String,
      hi: Option[String]
  ): Seq[Long] =
    candidateChunkIds(spark, outDir, DocKeys.Range(lo, hi))

  /** Projection-aware metadata read: (chunk_id, doc_id, n_tok, source)
    * without touching the token payload — neither its bytes (the scan
    * selects only the three small encoded columns; tokens_enc never
    * leaves parquet) nor its decode CPU ([[Decoder.decodeDocIndex]]
    * skips the tokens kernel). The analog of the reference's
    * labels-file-only scan (reference: convert/writer.go:222-243).
    */
  def readDocIndex(spark: SparkSession, outDir: String): Dataset[DocIndexRow] = {
    import spark.implicits._
    chunksTable(spark, outDir)
      .select(col("chunk_id"), col("n_rows"), col("doc_ids_enc"), col("lengths_enc"), col("sources_enc"))
      .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .mapPartitions(_.flatMap { case (id, n, d, l, s) =>
        Decoder.decodeDocIndex(id, n, d, l, s)
      })
  }

  /** Run the resumable encode job: one encode shuffle, its partitions
    * written in `waves` slices ([[org.apache.spark.rdd.PartitionPruningRDD]],
    * a Spark `@DeveloperApi`). `waves = 1` is the one slice holding every
    * partition. Chunk ids do not depend on `waves`; the stored `wave_id`
    * records which wave wrote a chunk.
    *
    * @param failOnChunk test hook: a predicate on chunk_id that makes
    *        the encode kernel throw (kill-one-partition test,
    *        FIXTURES.md §2). Pure function, serialized to tasks.
    */
  def run(
      spark: SparkSession,
      input: Dataset[TokenRow],
      outDir: String,
      tokensPerChunk: Long = Chunker.DefaultTokensPerChunk,
      waves: Int = 4,
      inputSplit: String = "",
      failOnChunk: Long => Boolean = _ => false,
      /** optional (source, doc_id, n_tok) plan-statistics DataFrame,
        * row-equivalent to `input`'s projection — see
        * [[Chunker.assignChunks]]'s meta param. Callers whose input is
        * an expensive opaque plan (compaction) pass the metadata-only
        * equivalent so the payload plan evaluates once, not three
        * times.
        */
      planMeta: Option[DataFrame] = None
  ): EncodeReport =
    encodeRun(spark, input, outDir, tokensPerChunk, waves, inputSplit, failOnChunk, planMeta,
      ledger(spark, outDir, inputSplit))._1

  /** The ledger: the chunk ids `inputSplit` already wrote to `outDir`,
    * sorted and distinct (one read, its input_split filter pushed to
    * parquet stats). Each wave's parquet commit is atomic, so a chunk
    * present in the table is complete and valid. Chunk ids are scoped by
    * input_split (disjoint across splits), so only this split's chunks
    * can be in its plan: they are exactly what a resume skips.
    */
  private[graft] def ledger(spark: SparkSession, outDir: String, inputSplit: String): Array[Long] =
    existingChunkMeta(spark, outDir).fold(Array.emptyLongArray)(
      _.filter(col("input_split") === inputSplit).select("chunk_id").as(Encoders.scalaLong)
        .collect().distinct.sorted)

  /** [[run]] with its split's ledger already read (`done`, sorted and
    * distinct: [[ledger]], or [[compact]]'s one read of its target).
    * Also returns the encode kernel's input ([[Encoder.sortedChunks]]):
    * the frame whose plan the run executed.
    */
  private[graft] def encodeRun(
      spark: SparkSession,
      input: Dataset[TokenRow],
      outDir: String,
      tokensPerChunk: Long,
      waves: Int,
      inputSplit: String,
      failOnChunk: Long => Boolean,
      planMeta: Option[DataFrame],
      done: Array[Long]
  ): (EncodeReport, DataFrame) = {
    // inputSplit scopes chunk identity (Chunker.assignChunks planTag):
    // re-running the SAME split resumes/replays idempotently; a
    // different split gets disjoint chunk ids
    val planned = Chunker.chunked(input, tokensPerChunk, planTag = inputSplit, meta = planMeta).toDF()

    // a split with nothing written (a fresh encode, a new micro-batch)
    // plans no ledger filter at all; otherwise its ids ship as a sorted
    // broadcast array, as Chunker ships its plan maps (a broadcast
    // join's hash relation would hold a 16 MB page on the driver)
    val pending =
      if (done.isEmpty) planned
      else {
        val doneIds = spark.sparkContext.broadcast(done)
        val isDone = udf((id: Long) => java.util.Arrays.binarySearch(doneIds.value, id) >= 0)
        planned.filter(!isDone(col("chunk_id")))
      }

    // ---- one encode shuffle, committed in waves --------------------------
    // Waves exist for checkpoint granularity: each wave is one atomic
    // chunks write, so a crash loses at most the wave being written.
    // The plan is encoded by ONE shuffle: the kernel's RDD is taken once
    // (under AQE that runs the map stage), and wave w is the slice of its
    // partitions p with p % waves == w. Every later wave reads the same
    // shuffle files; a lost executor recomputes only its lost map
    // outputs, from lineage. Total I/O regardless of `waves`: 1x input
    // scan + 1x shuffle + 1x final write.
    val wavesEff = math.max(1, waves)
    val sorted = Encoder.sortedChunks(pending)
    val encoded = Encoder.encodeSorted(sorted, inputSplit).map { c =>
      if (failOnChunk(c.chunk_id))
        throw new RuntimeException(s"injected failure on chunk ${c.chunk_id}")
      c
    }

    // each wave's report sums: chunks written, then these chunk columns
    val summed = Seq("n_rows", "n_tokens", "raw_bytes", "encoded_bytes")
    val waveStats = (0 until wavesEff).map { w =>
      val enc = spark.createDataset(
        PartitionPruningRDD.create(encoded, _ % wavesEff == w))(Encoder.ChunkLayout)

      // the wave's one write: its chunks, which are the ledger. The
      // report sums ride it as observed metrics — nothing is read back.
      // zstd whole-file compression on top of our per-column codecs —
      // the reference's layering too (parquet encodings under zstd,
      // reference: schema/schema.go:38-75)
      // Hive-partitioned by (wave_id, source): each wave appends into
      // its own subtree. The source level below it keeps decode-side
      // partition pruning (a one-source read touches one directory per
      // wave — the Spark-native analog of the reference's stats-driven
      // row-range pruning, reference: search/constraint.go:394-433).
      // Bloom filters on chunk_id serve point lookups: hash-derived
      // chunk ids span the full int64 range in every row group, so
      // min/max stats never prune them — bloom is the only row-group
      // skip, mirroring the reference's bloom on its sorted label
      // (reference: convert/convert.go:86-93). NDV sized for real row
      // groups (~30 multi-MB chunks each; 4096 is generous headroom at
      // ~5KB/row-group) — the parquet default assumes 1M NDV and pads
      // 1MB per row group, which dwarfs small files.
      val obs = org.apache.spark.sql.Observation(s"wave-$w-stats")
      enc.toDF().withColumn("wave_id", lit(w))
        .observe(obs, count(lit(1)).as("chunks"),
          summed.map(c => coalesce(sum(c), lit(0L)).as(c)): _*)
        .write.mode(SaveMode.Append)
        .option("compression", "zstd")
        .option("parquet.bloom.filter.enabled#chunk_id", "true")
        .option("parquet.bloom.filter.expected.ndv#chunk_id", "4096")
        .options(NoPayloadDictionary)
        .partitionBy("wave_id", "part_source")
        .parquet(chunksPath(outDir))
      obs.get
    }
    def total(k: String) = waveStats.map(_(k).asInstanceOf[Long]).sum
    (EncodeReport(wavesEff, total("chunks"), done.length, total("n_rows"), total("n_tokens"),
      total("raw_bytes"), total("encoded_bytes")), sorted)
  }

  /** No parquet dictionary on the chunk columns whose values are unique
    * per chunk: parquet would hash every value into a dictionary, then
    * fall back to plain anyway.
    */
  private val NoPayloadDictionary =
    Seq("tokens_enc", "doc_ids_enc", "lengths_enc", "doc_bloom")
      .map(c => s"parquet.enable.dictionary#$c" -> "false").toMap
}
