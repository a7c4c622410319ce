package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry.{t, tokenTable}

/** Text quality and tokenization: token counts, quality and language
  * scores, repetition and vocabulary stats, the inverted index, vocab
  * remap and n-gram diversity.
  */
object TextQuality {
  /** Corpus unigram counts (q73, q79): each row's tokens fold into a
    * per-row count map, one partial-agg shuffle sums them, and the
    * |V| rows — tokenizer-bounded, never corpus-scaled — are collected.
    */
  private def vocabCounts(s: SparkSession, dir: String): Array[(Int, Long)] = {
    import s.implicits._
    tokenTable(s, dir)
      .flatMap { r =>
        val m = scala.collection.mutable.LongMap.empty[Long]
        r.tokens.foreach { tk => val k = tk.toLong; m(k) = m.getOrElse(k, 0L) + 1L }
        m.iterator.map { case (tk, c) => (tk.toInt, c) }
      }
      .toDF("token", "c")
      .groupBy(col("token")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
  }

  val all: Seq[Query] = Seq(
    // tokenizer: n_tok == unicode codepoint count (oracle: length(text))
    Query("q09_tokenize_counts", (s, dir) => {
      val spark = s
      import spark.implicits._
      tokenTable(s, dir)
        .map(r => (r.doc_id.toLong, r.n_tok.toLong))
        .toDF("doc_id", "n_tok")
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // text quality scoring: word count + stopword occurrences
    Query("q14_quality_score", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("word_cnt"),
        ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3)
          .cast("long").as("the_cnt"),
        col("n_chars"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS word_cnt,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_cnt,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // language-ID heuristic (content marker based)
    Query("q15_langid", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("predicted",
          when(col("text").contains(" the "), lit("en")).otherwise(lit("other")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }, Some(
      """SELECT lang,
        |  CASE WHEN text LIKE '% the %' THEN 'en' ELSE 'other' END AS predicted,
        |  count(*) AS n
        |FROM documents GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),

    // whitespace token counting
    Query("q16_token_count_ws", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // BPE-style pre-tokenizer counting (regex runs of letters / digits /
    // punctuation) — the same pattern string is the DuckDB oracle
    Query("q25_token_count_bpe", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(graft.text.Analyzer.BpeIshPattern), lit(0)))
            .cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, Some(
      // DuckDB single-quoted strings are literal (no backslash escapes),
      // so the Java pattern string drops in verbatim; \s means the same
      // whitespace class in RE2 and java.util.regex for this corpus
      ("""SELECT doc_id, CAST(len(regexp_extract_all(text, '""" +
        graft.text.Analyzer.BpeIshPattern +
        """')) AS BIGINT) AS n_bpe_tokens FROM documents ORDER BY doc_id"""))),

    // n-gram (bigram-profile) language-ID heuristic
    Query("q36_langid_ngram", (s, dir) => {
      val spark = s
      import spark.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (_, lang, text) => (lang, graft.text.Analyzer.langId(text)) }
        .toDF("lang", "predicted")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }, Some {
      // exact twin of Analyzer.englishScore/langId: hit-rate of the text's
      // char bigrams against the same 50-bigram table, threshold 0.22
      // re-expressed integer-exact (50*hits >= 11*(len-1) <=> hits/(len-1)
      // >= 11/50; the kernel's double divide is correctly rounded and the
      // nearest rational to the threshold at len <= 32k is ~2e-6 away, 11
      // orders above double rounding error, so the integer compare and the
      // double compare agree on every representable input). Texts are
      // ASCII (checked), so DuckDB lower()/length() match the JVM's
      // UTF-16 toLowerCase/length.
      val bigrams = graft.text.Analyzer.EnglishBigramList
        .map(b => "'" + b.replace("'", "''") + "'").mkString("[", ",", "]")
      s"""WITH scored AS (
         |  SELECT lang,
         |    CASE WHEN length(text) >= 2 AND
         |      50 * len(list_filter(range(1, length(text)),
         |          i -> list_contains($bigrams, substring(lower(text), CAST(i AS INT), 2))))
         |      >= 11 * (length(text) - 1)
         |    THEN 'en' ELSE 'other' END AS predicted
         |  FROM documents)
         |SELECT lang, predicted, count(*) AS n FROM scored
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    }),

    // Gopher-style repetition quality rule (Rae et al. 2021 §A1.1):
    // per-doc word/2-gram repetition counts from a map-only typed
    // kernel, flag = most-frequent-2-gram fraction >= 0.2 via integer
    // cross-multiplication (5*max >= n), so the rule is value-exact in
    // the oracle. Counts, not fractions, reach the output — no float
    // compare anywhere.
    Query("q54_repetition_stats", (s, dir) => {
      val spark = s
      import spark.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val st = graft.text.Analyzer.repetitionStats(text)
          val flag = if (st.n2grams > 0 && st.max2gramCount * 5 >= st.n2grams) 1L else 0L
          (id, st.nWords, st.nDistinctWords, st.n2grams, st.max2gramCount, flag)
        }
        .toDF("doc_id", "n_words", "n_distinct_words", "n_2grams",
          "max_2gram_count", "flag_repetitive")
        .orderBy(col("doc_id"))
    }, Some(
      // Gopher 2-gram repetition counts: range() is end-exclusive so
      // list_transform(range(1, len(w)), ...) yields the len-1 2-grams;
      // docs with < 2 words get max 0 via the LEFT JOIN coalesce
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g2
        |      FROM w),
        |gc AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY doc_id, g2),
        |m AS (SELECT doc_id, max(c) AS mx FROM gc GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CAST(len(w.w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w.w)) AS BIGINT) AS n_distinct_words,
        |  CAST(greatest(len(w.w) - 1, 0) AS BIGINT) AS n_2grams,
        |  CAST(coalesce(m.mx, 0) AS BIGINT) AS max_2gram_count,
        |  CAST(CASE WHEN len(w.w) > 1 AND coalesce(m.mx, 0) * 5 >= len(w.w) - 1
        |       THEN 1 ELSE 0 END AS BIGINT) AS flag_repetitive
        |FROM w LEFT JOIN m ON w.doc_id = m.doc_id
        |ORDER BY w.doc_id""".stripMargin)),

    // vocabulary induction: global word counts with a min-count floor,
    // top-50 by (count desc, word asc) — the canonical partial-agg
    // shape: the explode shuffles only (word, partial count) pairs
    // after map-side combine, so the shuffle is bounded by vocab size
    // per partition, not corpus words; the top-k is a
    // TakeOrderedAndProject, never a global sort
    Query("q55_vocab_topk", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 10)
        .orderBy(col("n").desc, col("word"))
        .limit(50)
        .select(col("word"), col("n"))
    }, Some(
      """SELECT w AS word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w HAVING count(*) >= 10
        |ORDER BY n DESC, word LIMIT 50""".stripMargin)),

    // C4/Gopher-style quality-filter FUNNEL (sequential rules with
    // per-stage rejection accounting — the observability surface every
    // production cleaning pipeline needs): min-words -> language ->
    // repetition (q54's integer rule) -> stopword marker. One typed
    // map assigns each doc its first-failing-rule stage (0 = survivor);
    // everything after is a 5-group aggregate plus window arithmetic
    // over FOUR rows. All rules integer/string-exact, so the funnel is
    // hash-checkable end to end.
    Query("q68_filter_funnel", (s, dir) => {
      val spark = s
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val staged = t(s, dir, "documents")
        .select(col("lang"), col("text")).as[(String, String)]
        .map { case (lang, text) =>
          val st = graft.text.Analyzer.repetitionStats(text)
          // thresholds tuned so every stage fires on the synthetic
          // corpus (Gopher's 0.2 repetition bar rejects nothing here;
          // 0.1 = integer 10*max >= n rejects a measurable slice)
          val repetitive = st.n2grams > 0 && st.max2gramCount * 10 >= st.n2grams
          if (st.nWords < 16) 1L
          else if (lang != "en" && lang != "de") 2L
          else if (repetitive) 3L
          else if (!text.contains(" the ")) 4L
          else 0L
        }.toDF("stage")
      val counts = staged.groupBy(col("stage")).agg(count(lit(1)).as("n"))
      val dim = Seq((1L, "min_words"), (2L, "lang"), (3L, "repetition"),
        (4L, "stopword")).toDF("stage", "rule")
      val total = counts.agg(sum(col("n")).as("total"))
      // single-partition window is fine: it runs over exactly 4 rows
      val w = Window.orderBy(col("stage")).rowsBetween(Window.unboundedPreceding, -1)
      dim.join(counts, Seq("stage"), "left")
        .withColumn("n_rejected", coalesce(col("n"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("prev_rej", coalesce(sum(col("n_rejected")).over(w), lit(0L)))
        .select(col("stage"), col("rule"),
          (col("total") - col("prev_rej")).as("n_in"),
          col("n_rejected"),
          (col("total") - col("prev_rej") - col("n_rejected")).as("n_out"))
        .orderBy(col("stage"))
    }, Some(
      """WITH w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g2 FROM w),
        |gc AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY doc_id, g2),
        |m AS (SELECT doc_id, max(c) AS mx FROM gc GROUP BY doc_id),
        |st AS (SELECT w.doc_id,
        |  CASE WHEN len(w.w) < 16 THEN 1
        |       WHEN w.lang NOT IN ('en', 'de') THEN 2
        |       WHEN len(w.w) > 1 AND coalesce(m.mx, 0) * 10 >= len(w.w) - 1 THEN 3
        |       WHEN w.text NOT LIKE '% the %' THEN 4
        |       ELSE 0 END AS stage
        |  FROM w LEFT JOIN m ON w.doc_id = m.doc_id),
        |c AS (SELECT stage, count(*) AS n FROM st GROUP BY stage),
        |dim(stage, rule) AS (VALUES (1, 'min_words'), (2, 'lang'),
        |  (3, 'repetition'), (4, 'stopword')),
        |f AS (SELECT dim.stage, dim.rule, coalesce(c.n, 0) AS n_rejected
        |      FROM dim LEFT JOIN c USING (stage)),
        |tot AS (SELECT sum(n) AS total FROM c),
        |acc AS (SELECT stage, rule, n_rejected,
        |  coalesce(sum(n_rejected) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_rej
        |  FROM f)
        |SELECT CAST(acc.stage AS BIGINT) AS stage, acc.rule,
        |  CAST(tot.total - acc.prev_rej AS BIGINT) AS n_in,
        |  CAST(acc.n_rejected AS BIGINT) AS n_rejected,
        |  CAST(tot.total - acc.prev_rej - acc.n_rejected AS BIGINT) AS n_out
        |FROM acc, tot ORDER BY acc.stage""".stripMargin)),

    // inverted-index build — the canonical corpus→posting-list shape
    // (token → document frequency, collection frequency, doc-id range;
    // the reference's dictionary-page distinct, schema/encoder.go dict
    // path, answers the df=0/df>0 half of this). One typed flatMap
    // emits (token, doc_id, tf) with the per-doc tf pre-counted INSIDE
    // the row, so the shuffle carries one record per (doc,
    // distinct-token) — bounded by per-doc vocabulary, never per token
    // occurrence — then a single partial-agg groupBy(token) folds
    // df/tf/doc-range. At 100 TB this is the MapReduce index-build
    // shape; range-partition by token to write bucketed posting
    // shards. Output projected to the a–z codepoints so the DuckDB
    // oracle recomputes tf with integer length/replace math.
    Query("q70_inverted_index", (s, dir) => {
      val spark = s
      import spark.implicits._
      tokenTable(s, dir)
        .flatMap { r =>
          val m = scala.collection.mutable.LongMap.empty[Long]
          r.tokens.foreach { tk => val k = tk.toLong; m(k) = m.getOrElse(k, 0L) + 1L }
          val id = r.doc_id.toLong
          m.iterator.map { case (tk, tf) => (tk.toInt, id, tf) }
        }
        .toDF("token", "doc_id", "tf")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        // demo projection: the oracle-recomputable a-z slice; the index
        // itself is built over the full vocabulary above
        .filter(col("token").between(97, 122))
        .orderBy(col("token"))
    }, Some(
      """WITH chars AS (SELECT CAST(unnest(range(97, 123)) AS INTEGER) AS cp),
        |per AS (
        |  SELECT c.cp, d.doc_id,
        |    length(d.text) - length(replace(d.text, chr(c.cp), '')) AS tf
        |  FROM documents d CROSS JOIN chars c)
        |SELECT CAST(cp AS INTEGER) AS token,
        |  CAST(count(CASE WHEN tf > 0 THEN 1 END) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total,
        |  CAST(min(CASE WHEN tf > 0 THEN doc_id END) AS BIGINT) AS first_doc,
        |  CAST(max(CASE WHEN tf > 0 THEN doc_id END) AS BIGINT) AS last_doc
        |FROM per GROUP BY cp HAVING sum(tf) > 0 ORDER BY token""".stripMargin)),

    // tokenizer migration — remap every token id through a frequency-
    // ranked replacement vocabulary (the "re-index the vocab by corpus
    // frequency" step of a tokenizer swap). The dictionary is built
    // with ONE partial-agg shuffle whose output is |V| rows (vocab
    // size, bounded by the tokenizer — ~50k in production, not corpus-
    // scaled), sorted on the driver and BROADCAST; the remap itself is
    // a map-only typed kernel over the broadcast map. The naive shape —
    // explode tokens + shuffle-join against the vocab table — would
    // move one row per token occurrence (10^15 at the north rule's
    // scale); this moves |V| rows once and nothing else. PlanSpec pins
    // the join-free plan.
    Query("q73_vocab_remap", (s, dir) => {
      val spark = s
      import spark.implicits._
      val remap: Map[Int, Int] = vocabCounts(s, dir)
        .sortBy { case (tk, c) => (-c, tk) } // dense ids: frequent = small
        .iterator.zipWithIndex.map { case ((tk, _), i) => tk -> i }.toMap
      val bc = s.sparkContext.broadcast(remap)
      tokenTable(s, dir)
        .flatMap { r =>
          if (r.n_tok == 0) Iterator.empty // empty docs carry no vocab
          else {
            val m = bc.value
            var sumIds = 0L
            var maxId = -1L
            r.tokens.foreach { tk =>
              val v = m(tk); sumIds += v; if (v > maxId) maxId = v
            }
            Iterator.single((r.source, sumIds, maxId))
          }
        }
        .toDF("source", "sum_ids", "max_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("sum_ids")).as("remapped_sum"),
          max(col("max_id")).as("max_new_id"))
        .orderBy(col("source"))
    }, Some(
      // same frequency-dense ranking as the Spark side: count DESC then
      // token ASC, rank-1 = dense new id; n_docs counts docs with >= 1
      // token (the join drops empty docs, mirroring the flatMap guard)
      """WITH toks AS (
        |  SELECT doc_id, source, unicode(ch) AS tok
        |  FROM documents, unnest(string_split(text, '')) AS u(ch)
        |  WHERE length(text) > 0),
        |vocab AS (
        |  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) - 1 AS new_id
        |  FROM toks GROUP BY tok)
        |SELECT t.source,
        |  CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(v.new_id) AS BIGINT) AS remapped_sum,
        |  CAST(max(v.new_id) AS BIGINT) AS max_new_id
        |FROM toks t JOIN vocab v USING (tok)
        |GROUP BY t.source ORDER BY t.source""".stripMargin)),

    // BPE pair statistics — the first step of byte-pair-encoding
    // tokenizer training: global counts of adjacent token pairs, top-k
    // merge candidates. Same shuffle discipline as q70's inverted
    // index: the typed kernel pre-counts pairs INSIDE each row (packed
    // (a << 21 | b) — codepoints fit 21 bits), so the shuffle carries
    // one record per (doc, distinct pair) with map-side combine, never
    // one per token position; top-k resolves as TakeOrderedAndProject
    // (partial per-partition heaps, no global sort). At 10^15 tokens
    // the per-position explode would BE the corpus; this is bounded by
    // per-doc pair vocabulary.
    Query("q76_bpe_pair_counts", (s, dir) => {
      val spark = s
      import spark.implicits._
      tokenTable(s, dir)
        .flatMap { r =>
          val m = scala.collection.mutable.LongMap.empty[Long]
          val ts = r.tokens
          var i = 0
          while (i + 1 < ts.length) {
            val key = (ts(i).toLong << 21) | ts(i + 1).toLong
            m(key) = m.getOrElse(key, 0L) + 1L
            i += 1
          }
          m.iterator
        }
        .toDF("pair", "c")
        .groupBy(col("pair")).agg(sum(col("c")).as("n"))
        .select(shiftright(col("pair"), 21).cast("int").as("a"),
          col("pair").bitwiseAND(lit(2097151L)).cast("int").as("b"),
          col("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(20)
    }, Some(
      // adjacent-codepoint pairs via zipped parallel unnest (DuckDB's
      // generate_series cannot lateral-reference a column); the ORDER BY
      // is total (n DESC, a, b), so the LIMIT boundary is tie-proof
      """WITH cs AS (SELECT string_split(text, '') AS c FROM documents
        |            WHERE length(text) >= 2),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(c)), i -> unicode(c[i]))) AS a,
        |         unnest(list_transform(range(1, len(c)), i -> unicode(c[i+1]))) AS b
        |  FROM cs)
        |SELECT CAST(a AS INTEGER) AS a, CAST(b AS INTEGER) AS b,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM pairs GROUP BY a, b ORDER BY n DESC, a, b LIMIT 20""".stripMargin)),

    // corpus n-gram diversity — the dedup-health dial read while mixing
    // sources: per source, total 5-gram positions vs distinct 5-grams
    // (type/token ratio at shingle grain) and the duplicated-position
    // share in permille. Two independent aggregates joined on the tiny
    // per-source result: the positions side is metadata-only (a word
    // count per doc, no shingle ever materialized), and the distinct
    // side ships 8-byte fingerprints with map-side partial aggregation
    // — never shingle strings. At 10^12+ tokens the exact countDistinct
    // becomes the one big shuffle; the production dial swaps it for
    // approx_count_distinct (HLL, mergeable, no second pass) — exact
    // here so the oracle can gate it (and collision-check the fp).
    // Collision bound of the 64-bit fingerprint convention (q78 and
    // q80 both equate distinct fps with distinct raw shingles): ~n²/2
    // /2^64 expected colliding pairs — negligible at bench scale
    // (~10^8 shingles → ~3·10^-4 expected), but at 10^9+ distinct
    // shingles whole collisions appear (~0.03 at 10^9, ~27 at 3·10^10)
    // and n_distinct undercounts by that many; a production run at
    // 10^12 tokens should widen to 128-bit fps (e.g. two independent
    // 64-bit halves) — the HLL swap above has its own (larger) error
    // anyway. The sf-scale oracle verifies with raw strings, so any
    // collision at graded scale fails the compare rather than passing
    // silently.
    Query("q78_ngram_diversity", (s, dir) => {
      val spark = s
      import spark.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)]
      val posBySrc = docs
        .map { case (_, src, text) =>
          (src, math.max(0, graft.text.Analyzer.words(text).length - 4).toLong)
        }
        .toDF("source", "pos")
        .groupBy(col("source")).agg(sum(col("pos")).as("n_positions"))
      val distBySrc = docs
        .flatMap { case (_, src, text) =>
          graft.text.Analyzer.wordShingleHash64(text, k = 5).iterator.map(fp => (src, fp))
        }
        .toDF("source", "fp")
        .groupBy(col("source")).agg(countDistinct(col("fp")).as("n_distinct"))
      posBySrc.join(distBySrc, Seq("source"))
        .withColumn("dup_permille",
          expr("((n_positions - n_distinct) * 1000) div n_positions"))
        .select(col("source"), col("n_positions"), col("n_distinct"), col("dup_permille"))
        .orderBy(col("source"))
    }, Some(
      // 5-gram positions vs distinct raw-string 5-grams; the Spark side
      // counts distinct 64-bit fingerprints, so a pass doubles as the
      // collision check (the q67/q50 convention). Sources whose docs are
      // all shorter than 5 words have no gram rows on either side.
      """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT source, unnest(list_transform(range(1, len(w) - 3), i ->
        |  w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS s5
        |  FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_positions,
        |  CAST(count(DISTINCT s5) AS BIGINT) AS n_distinct,
        |  CAST(((count(*) - count(DISTINCT s5)) * 1000) // count(*) AS BIGINT)
        |    AS dup_permille
        |FROM g GROUP BY source ORDER BY source""".stripMargin)),

    // unigram-LM commonness scoring — the cheap LM-quality proxy run
    // before any model-scored filter: corpus unigram counts (vocab is
    // tokenizer-bounded — same collect+broadcast two-phase as q73),
    // every doc scored map-only by mean token commonness, top-20 most
    // stereotyped docs via TakeOrderedAndProject (per-partition heaps,
    // no global sort). Integer math end to end: sum-of-counts is
    // <= n_tok_max * corpus_tokens (< 2^50 on the 2B bench corpus), so
    // the permille scaling stays in Long; ties at the boundary break on
    // doc_id, making the LIMIT cross-engine total.
    Query("q79_unigram_lm_score", (s, dir) => {
      val spark = s
      import spark.implicits._
      val counts: Map[Int, Long] = vocabCounts(s, dir).toMap
      val bc = s.sparkContext.broadcast(counts)
      tokenTable(s, dir)
        .flatMap { r =>
          if (r.n_tok == 0) Iterator.empty // no tokens, no score
          else {
            val m = bc.value
            var sumC = 0L
            r.tokens.foreach { tk => sumC += m(tk) }
            Iterator.single((r.doc_id.toLong, (sumC * 1000L) / r.n_tok))
          }
        }
        .toDF("doc_id", "score_permille")
        .orderBy(col("score_permille").desc, col("doc_id"))
        .limit(20)
    }, Some(
      // mean token commonness in permille, integer floor division both
      // sides; the LIMIT boundary is tie-broken by doc_id so the top-20
      // is a total order across engines
      """WITH toks AS (
        |  SELECT doc_id, unicode(ch) AS tok
        |  FROM documents, unnest(string_split(text, '')) AS u(ch)
        |  WHERE length(text) > 0),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
        |SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
        |  CAST((sum(v.c) * 1000) // count(*) AS BIGINT) AS score_permille
        |FROM toks t JOIN vocab v USING (tok)
        |GROUP BY t.doc_id
        |ORDER BY score_permille DESC, doc_id LIMIT 20""".stripMargin))
  )
}
