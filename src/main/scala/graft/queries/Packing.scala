package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.{t, tokenTable}

/** Packing and sampling: sequence packing plans and examples, source
  * mixes, splits, epoch upsampling, length buckets and stratified
  * samples.
  */
object Packing {
  val all: Seq[Query] = Seq(
    // sequence-packing PLAN (training-data step: variable-length docs →
    // fixed-budget examples): deterministic start-offset packing, one
    // window cumsum partitioned by source — metadata only, the token
    // payload never enters the plan (see engine/Packer.scala for the
    // never-split / overflow-by-one-doc discipline and the scale shape)
    Query("q46_pack_plan", (s, dir) => {
      graft.engine.Packer.plan(tokenTable(s, dir), binTokens = 2048)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tok").cast("long")).as("bin_tokens"))
        .orderBy(col("source"), col("bin"))
    }, Some(
      // the same start-offset packing in SQL: window cumsum per source in
      // STRING doc_id order (the engine's doc_id is a string; DuckDB's
      // VARCHAR ordering is codepoint-wise like Spark's)
      """WITH plan AS (
        |  SELECT source, length(text) AS n_tok,
        |    CAST((sum(length(text)) OVER (PARTITION BY source
        |        ORDER BY CAST(doc_id AS VARCHAR) ROWS UNBOUNDED PRECEDING)
        |      - length(text)) // 2048 AS BIGINT) AS bin
        |  FROM documents)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM plan GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // packed-example MATERIALIZATION: per (source, bin) concatenated
    // token arrays with doc boundaries — payload shuffled once to its
    // bin reducer (repartition + sortWithinPartitions + streaming
    // group-consecutive, the Encoder's discipline). tok_sum makes the
    // concatenation content (not just its shape) oracle-checkable.
    Query("q47_pack_examples", (s, dir) => {
      val spark = s
      import spark.implicits._
      graft.engine.Packer.pack(tokenTable(s, dir), binTokens = 2048)
        .map(p => (p.source, p.bin, p.n_docs.toLong, p.n_tok.toLong,
          p.tokens.foldLeft(0L)(_ + _)))
        .toDF("source", "bin", "n_docs", "n_tok", "tok_sum")
        .orderBy(col("source"), col("bin"))
    }, Some(
      """WITH plan AS (
        |  SELECT source, length(text) AS n_tok,
        |    coalesce((SELECT sum(unicode(ch)) FROM unnest(string_split(text, '')) AS u(ch)
        |              WHERE ch <> ''), 0) AS cp_sum,
        |    CAST((sum(length(text)) OVER (PARTITION BY source
        |        ORDER BY CAST(doc_id AS VARCHAR) ROWS UNBOUNDED PRECEDING)
        |      - length(text)) // 2048 AS BIGINT) AS bin
        |  FROM documents)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |  CAST(sum(cp_sum) AS BIGINT) AS tok_sum
        |FROM plan GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // training-data MIXING: deterministic per-source sampling via a
    // content-hash threshold (sampling/Mix.scala — md5-hex key compared
    // lexicographically, portable to the DuckDB oracle verbatim). The
    // mix spec derives each source's keep-fraction from its numeric
    // suffix ((id % 4 + 1)/4 → 0.25/0.50/0.75/1.00) so both sides
    // compute it without a lookup table. Map-only + one partial-agg
    // groupBy; membership is independent of partitioning and cluster
    // size, and raising a weight only ADDS documents (Mix monotonicity).
    Query("q48_source_mix_sample", (s, dir) => {
      val thr = element_at(
        typedLit(Seq("40000000", "80000000", "c0000000", "g")),
        (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("int"))
      t(s, dir, "documents")
        .filter(graft.sampling.Mix.sampled(col("doc_id"), thr))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars_sampled"))
        .orderBy(col("source"))
    }, Some(
      // the mix predicate verbatim: lexicographic md5-hex threshold, the
      // per-source fraction derived from the source's numeric suffix
      """SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sampled
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE CAST(substring(source, 4) AS INT) % 4
        |    WHEN 0 THEN '40000000' WHEN 1 THEN '80000000'
        |    WHEN 2 THEN 'c0000000' ELSE 'g' END
        |GROUP BY source ORDER BY source""".stripMargin)),

    // train/val/test SPLIT assignment over the same hash key space
    // (87.5 / 6.25 / 6.25): disjoint, exhaustive, split-stable — a doc
    // never migrates when other sources' weights change. Per
    // (source, split) doc and char counts.
    Query("q49_split_assign", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("split", graft.sampling.Mix.splitCol(col("doc_id"),
          boundaries = Seq(0.875, 0.9375), labels = Seq("train", "val", "test")))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_sum"))
        .orderBy(col("source"), col("split"))
    }, Some(
      """SELECT source,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e0000000'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f0000000'
        |         THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        |FROM documents GROUP BY source, split ORDER BY source, split""".stripMargin)),

    // Deterministic epoch upsampling to per-source mixture weights —
    // the "epochs per source" step of a training run (low-resource
    // sources repeat >1 epoch, oversampled ones keep a fraction).
    // Weights derive from the source index: w = 0.25 + (n % 5) * 0.5
    // epochs, i.e. w4 = quarter-epochs in {1,3,5,7,9}. Each doc gets
    // w4 DIV 4 full copies plus one more iff its 32-bit mix key falls
    // below (w4 % 4) * 2^30 — a pure integer comparison: deterministic,
    // monotone in w (raising a weight only ADDS copies), and
    // partitioning-independent. Copies then land in 8 training shards
    // by a per-copy hash so every shard gets an unbiased mixture
    // slice. Built-ins end to end (md5/conv/sequence/explode, all
    // codegen'd), map-only until the final per-(source, shard) agg.
    Query("q62_epoch_upsample", (s, dir) => {
      val key32 = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), col("source"))), 1, 8), 16, 10).cast("long")
      val shardKey = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), col("copy").cast("string"))), 1, 8), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("w4",
          lit(1L) + (substring(col("source"), 4, 10).cast("long") % 5) * 2)
        .withColumn("n_copies", expr("w4 DIV 4") +
          when(key32 < (col("w4") % 4) * lit(1073741824L), 1L).otherwise(0L))
        .withColumn("copy", explode(
          when(col("n_copies") >= 1, sequence(lit(1L), col("n_copies")))
            .otherwise(array().cast("array<bigint>"))))
        .withColumn("shard", shardKey % 8)
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_copies"), sum(col("n_chars")).as("n_tokens"))
        .orderBy(col("source"), col("shard"))
    }, Some(
      // same quarter-epoch weights, integer fractional-copy rule, and
      // per-copy shard hash; range(1, n+1) is end-exclusive = [1..n]
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(substring(source, 4) AS BIGINT) AS srcn,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(instr('0123456789abcdef',
        |        substring(md5(CAST(doc_id AS VARCHAR) || ':' || source), i, 1))
        |        - 1 AS BIGINT)), (a, x) -> a * 16 + x) AS key32
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_chars,
        |    (1 + (srcn % 5) * 2) // 4
        |      + CASE WHEN key32 < ((1 + (srcn % 5) * 2) % 4) * 1073741824
        |        THEN 1 ELSE 0 END AS nc
        |  FROM b),
        |e AS (
        |  SELECT doc_id, source, n_chars,
        |    unnest(range(1, nc + 1)) AS copy
        |  FROM c WHERE nc >= 1),
        |f AS (
        |  SELECT source, n_chars,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(instr('0123456789abcdef',
        |        substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |          CAST(copy AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) % 8 AS shard
        |  FROM e)
        |SELECT source, shard, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |FROM f GROUP BY source, shard ORDER BY source, shard""".stripMargin)),

    // context-length bucketing — the batching-efficiency question every
    // training pipeline asks before padding sequences to fixed shapes:
    // docs binned to the next power-of-two context length, per bucket
    // the doc/token counts and the exact padding waste of pad-to-bucket.
    // Map-only + one tiny aggregate (≤ 12 bucket rows); the integer
    // next-pow2 is shared with the oracle as a min-over-VALUES ladder.
    // Sibling of q46/q47's packing: bucketing wastes pad tokens but
    // keeps examples document-aligned; this query prices that trade.
    Query("q74_length_buckets", (s, dir) => {
      val spark = s
      import spark.implicits._
      tokenTable(s, dir)
        .map { r =>
          val n = math.max(1, r.n_tok)
          // next power of two >= n, floored at 16 (tokenizer bounds the
          // top: docs cap at 32k tokens, see Fixtures' length model)
          val b = math.max(16, Integer.highestOneBit(n - 1) << 1)
          (b.toLong, r.n_tok.toLong, b.toLong - r.n_tok.toLong)
        }
        .toDF("bucket", "n_tok", "waste")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("token_sum"),
          sum(col("waste")).as("pad_waste"))
        .orderBy(col("bucket"))
    }, Some(
      // integer next-pow2 as a min-over-VALUES ladder (exact — no float
      // log2 edge at the power-of-two boundaries); length(text) counts
      // codepoints in DuckDB, same as the Spark side's n_tok. The ladder
      // extends one rung PAST the fixture's maxLen=32768 clamp: Spark's
      // kernel computes an unbounded next-pow2, so if a future fixture
      // ever exceeds the ladder the lateral min yields a NULL bucket
      // group and the compare fails loudly instead of silently
      // diverging from the Spark side
      """SELECT b.bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS token_sum,
        |  CAST(sum(b.bucket - length(text)) AS BIGINT) AS pad_waste
        |FROM documents,
        |  LATERAL (SELECT CAST(min(v.b) AS BIGINT) AS bucket
        |           FROM (VALUES (16),(32),(64),(128),(256),(512),(1024),
        |                        (2048),(4096),(8192),(16384),(32768),
        |                        (65536)) AS v(b)
        |           WHERE v.b >= greatest(length(text), 1)) b
        |GROUP BY b.bucket ORDER BY b.bucket""".stripMargin)),

    // stratified (per-source) deterministic sample — exact k smallest
    // md5(doc_id) per source, the split-stable "give me 5 audit docs
    // per source" op. The scale shape is the two-phase bounded top-k:
    // a typed mapPartitions keeps AT MOST k candidates per source per
    // partition (O(sources·k) state), so the one shuffle carries
    // ≤ partitions·sources·k candidate rows — never the corpus — and
    // the final window runs over that tiny survivor set. A plain
    // row_number window over the raw table (the naive form, and the
    // oracle's) shuffles every row to its source's partition, which at
    // a 70%-skewed 10^12-doc corpus puts 7·10^11 rows on one executor.
    Query("q75_stratified_sample", (s, dir) => {
      val spark = s
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = 5
      val cand = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"))
        .as[(String, Long, String)]
        .mapPartitions { it =>
          // per-source max-heap of size k: largest-so-far on top, so
          // each new candidate evicts the worst of the kept k
          val ord = Ordering.Tuple2[String, Long]
          val best = scala.collection.mutable.HashMap
            .empty[String, scala.collection.mutable.PriorityQueue[(String, Long)]]
          it.foreach { case (src, id, h) =>
            val pq = best.getOrElseUpdate(src,
              scala.collection.mutable.PriorityQueue.empty[(String, Long)](ord))
            if (pq.size < k) pq.enqueue((h, id))
            else if (ord.lt((h, id), pq.head)) { pq.dequeue(); pq.enqueue((h, id)) }
          }
          best.iterator.flatMap { case (src, pq) =>
            pq.iterator.map { case (h, id) => (src, id, h) }
          }
        }
        .toDF("source", "doc_id", "h")
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("source"), col("doc_id"), col("rk"))
        .orderBy(col("source"), col("rk"))
    }, Some(
      // the oracle takes the naive single-window form — same answer the
      // Spark side's bounded two-phase top-k must reproduce exactly
      """SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 5 ORDER BY source, rk""".stripMargin)),

    // concat-and-chunk packing — the GPT-pretraining example builder
    // (docs concatenated with an EOD separator, the stream cut into
    // fixed-C-token examples that CROSS document boundaries), the
    // other canonical packing flavor next to q46/q47's document-
    // aligned bin packing. Docs shard deterministically by
    // md5(doc_id) and order by (md5, doc_id) within the shard, so the
    // example stream is reproducible under any partitioning; ONE
    // shuffle (repartition by shard + sortWithinPartitions) then a
    // streaming O(1)-state kernel cuts examples — no shard's token
    // stream is ever materialized. At 10^12 sequences shard count
    // scales with the corpus (here 8 for the demo): each shard is one
    // contiguous run inside a partition, and remainders (< C tokens)
    // are dropped per shard, matching the training-time behavior.
    // Per example: token-value checksum and how many docs contributed
    // (the packing-fragmentation metric).
    Query("q77_concat_chunk_pack", (s, dir) => {
      val spark = s
      import spark.implicits._
      val C = 512
      val EOD = 0x110000L // one above the Unicode max: never a real token
      val nShards = 8
      val key32 = conv(substring(md5(col("doc_id")), 1, 8), 16, 10).cast("long")
      tokenTable(s, dir).toDF()
        .select(col("doc_id"), col("tokens"),
          md5(col("doc_id")).as("h"), (key32 % nShards).as("shard"))
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
        .select(col("shard"), col("tokens"))
        .as[(Long, Array[Int])]
        .mapPartitions { it =>
          // shards arrive contiguously (partition sorted by shard);
          // stream positions through the current example accumulator
          var curShard = Long.MinValue
          var exIdx = 0L
          var fill = 0
          var sum = 0L
          var nDocs = 0L
          var docCounted = false
          it.flatMap { case (shard, tokens) =>
            if (shard != curShard) { // remainder of the previous shard drops
              curShard = shard; exIdx = 0L; fill = 0; sum = 0L; nDocs = 0L
            }
            docCounted = false
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var i = 0
            while (i <= tokens.length) { // final iteration appends EOD
              val tk = if (i < tokens.length) tokens(i).toLong else EOD
              if (!docCounted) { nDocs += 1; docCounted = true }
              sum += tk
              fill += 1
              if (fill == C) {
                out += ((shard, exIdx, sum, nDocs))
                exIdx += 1; fill = 0; sum = 0L; nDocs = 0L
                docCounted = false // this doc counts again if it spills over
              }
              i += 1
            }
            out.iterator
          }
        }
        .toDF("shard", "ex_idx", "tok_sum", "n_docs")
        .orderBy(col("shard"), col("ex_idx"))
    }, Some(
      // the same deterministic (shard, md5-order) stream rebuilt
      // positionally: window cumsum gives each doc's start offset, a
      // zipped parallel unnest lays tokens+EOD (0x110000) at global
      // positions, examples group by gpos // 512; HAVING count(*)=512
      // drops per-shard remainders exactly as the kernel does. The
      // ORDER BY tie-break is (md5, doc_id-as-VARCHAR) on BOTH sides —
      // 8-hex shard keys collide at birthday rates over 10^4+ docs, so
      // the tie-break must agree across engines.
      """WITH d AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS did, string_split(text, '') AS cs,
        |    length(text) AS len,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(instr('0123456789abcdef',
        |        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) % 8 AS shard
        |  FROM documents),
        |o AS (
        |  SELECT *, sum(len + 1) OVER (PARTITION BY shard ORDER BY h, did
        |    ROWS UNBOUNDED PRECEDING) - (len + 1) AS strt
        |  FROM d),
        |toks AS (
        |  SELECT shard, did,
        |    strt + unnest(range(0, len + 1)) AS gpos,
        |    unnest(list_append(list_transform(range(1, len + 1),
        |      i -> CAST(unicode(cs[i]) AS BIGINT)), 1114112)) AS tok
        |  FROM o)
        |SELECT shard, CAST(gpos // 512 AS BIGINT) AS ex_idx,
        |  CAST(sum(tok) AS BIGINT) AS tok_sum,
        |  CAST(count(DISTINCT did) AS BIGINT) AS n_docs
        |FROM toks
        |GROUP BY shard, ex_idx HAVING count(*) = 512
        |ORDER BY shard, ex_idx""".stripMargin))
  )
}
