package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.{spread, t}
import graft.engine.SessionMemo

/** ANN, embeddings and media: embedding stats and quantization, exact,
  * LSH, IVF and SQ8 search, embedding near-dups, and the media payload
  * queries.
  */
object Ann {
  /** Corpus-size probe for the LSH width derivations (q34's bitsFor,
    * q37's bitsPerBandFor): |vectors| per corpus, counted once per
    * session and content stamp — the two queries would otherwise each
    * pay an identical count job for the same scalar. The count is
    * sizing metadata (like tokensPerChunk), not a query result.
    */
  private val embedCountMemo = new SessionMemo[String, Long](_ => ())
  private def embeddingsCount(s: SparkSession, dir: String): Long =
    embedCountMemo(s, dir, s"$dir/embeddings.parquet")(t(s, dir, "embeddings").count())

  /** IVF coarse quantizer over milli-quantized `ce` vectors (q42, q63):
    * the first 16 vectors are the centroids, collapsed to ONE
    * broadcastable `cents` array row.
    */
  private def centroids(base: DataFrame): DataFrame =
    base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("ce").as("cc"))
      .agg(collect_list(struct(col("cent_id"), col("cc"))).as("cents"))

  /** The `take` centroid ids nearest to the `vec` column by integer
    * squared-L2, cent_id tiebreak, over a row joined with [[centroids]].
    */
  private def cellsOf(vec: String, take: Int): Column = expr(
    s"""transform(slice(array_sort(transform(cents, c -> named_struct(
       |  'd2', aggregate(zip_with($vec, c.cc, (x, y) -> (x - y) * (x - y)),
       |                  0L, (acc, v) -> acc + v),
       |  'cid', c.cent_id))), 1, $take), s -> s.cid)""".stripMargin)

  /** SQ8 top-5 per probe (q60, q63): rows (vec_id, qe, scale_i) paired
    * with probes (qid, qqe), the probe itself excluded, ranked by the
    * integer asymmetric score dot_q * scale_i with vec_id tiebreak.
    */
  private def sq8Top5(pairs: DataFrame): DataFrame = {
    val dot = expr(
      "aggregate(zip_with(qe, qqe, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    pairs
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot_q", dot)
      .withColumn("score", col("dot_q") * col("scale_i"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  /** Banded LSH candidates (q37, q41): one (vec_id, band, sig) row per
    * band signature, an equi self-join per band — never all-pairs — and
    * the distinct a < b pairs, since a pair may collide in several
    * bands. Only those three columns go through the join.
    */
  private def bandCandidates(vecs: DataFrame, sigs: Column): DataFrame = {
    val banded = vecs.select(col("vec_id"), posexplode(sigs).as(Seq("band", "sig")))
    banded.select(col("band"), col("sig"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("sig"), col("vec_id").as("b")),
        Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
  }

  val all: Seq[Query] = Seq(
    // embeddings scan/aggregate
    Query("q21_embed_stats", (s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy(col("label"))
    }, Some(
      """SELECT label, count(*) AS n, min(vec_id) AS min_id, max(vec_id) AS max_id
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // multimodal: opaque binary payload + typed metadata, oracle-checked
    // on byte length and content fingerprint (DuckDB md5(VARCHAR) hashes
    // the same UTF-8 bytes Spark's md5(binary) sees)
    Query("q22_media_meta", (s, dir) => {
      val spark = s
      import spark.implicits._
      graft.multimodal.Media.fromDocuments(t(s, dir, "documents"))
        .map(r => (r.doc_id, r.media_type, r.payload.length.toLong))
        .toDF("doc_id", "media_type", "n_bytes")
        .join(
          t(s, dir, "documents").select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("fp")),
          Seq("doc_id"))
        .orderBy(col("doc_id"))
    }, Some(
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ANN: brute-force cosine top-5 for 3 probe vectors (float math —
    // no hash-stable oracle; ranking ties could differ)
    Query("q30_ann_cosine_topk", (s, dir) => {
      // norms precomputed once per vector on each side (q37's fix):
      // the crossJoin previously re-ran both sqrt/aggregate lambdas on
      // every (corpus row x probe) pair — identical expressions,
      // identical doubles, 4x fewer evaluations
      val nrm = expr("sqrt(aggregate(transform(embedding, x -> x * x), 0D, (a, x) -> a + double(x)))")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), nrm.as("na"))
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("na").as("nb"))
      val dot = expr("aggregate(zip_with(embedding, qe, (x, y) -> x * y), 0D, (a, x) -> a + x)")
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", dot / (col("na") * col("nb")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"))
        .orderBy(col("qid"), col("rank"))
    }, None),

    // multimodal feature extraction: batched mapPartitions kernel over
    // binary payloads (decode step stubbed — see Media.MediaDecoder.Stub;
    // histogram/byte math downstream of the stub is real integer math)
    Query("q33_media_features", (s, dir) => {
      val spark = s
      import spark.implicits._
      graft.multimodal.Media
        .extractFeatures(graft.multimodal.Media.fromDocuments(t(s, dir, "documents")))
        .map(f => (f.doc_id, f.media_type, f.n_bytes, f.histogram.mkString(",")))
        .toDF("doc_id", "media_type", "n_bytes", "hist16")
        .orderBy(col("doc_id"))
    }, Some {
      // hist16 is frame-split-invariant: the stub decoder's frames
      // PARTITION the UTF-8 payload (MediaSpec pins byte conservation),
      // so the byte histogram equals the histogram of encode(text) —
      // reconstructed here per code point from the UTF-8 encoding
      // algebra (1/2/3/4-byte sequences), no blob byte-walk needed
      val bucketSums = (0 until 16)
        .map(k => s"sum(CASE WHEN b // 16 = $k THEN 1 ELSE 0 END)")
        .mkString(",\n    ")
      s"""WITH bytes AS (
         |  SELECT d.doc_id, t.b
         |  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unicode(ch) AS c
         |        FROM documents, unnest(string_split(text, '')) AS u(ch)
         |        WHERE ch <> '') d,
         |       unnest(CASE
         |         WHEN c < 128 THEN [c]
         |         WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
         |         WHEN c < 65536 THEN [224 + c // 4096, 128 + (c // 64) % 64, 128 + c % 64]
         |         ELSE [240 + c // 262144, 128 + (c // 4096) % 64, 128 + (c // 64) % 64, 128 + c % 64]
         |       END) AS t(b)),
         |hist AS (
         |  SELECT doc_id, count(*) AS n_bytes,
         |    concat_ws(',',
         |    $bucketSums) AS hist16
         |  FROM bytes GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(coalesce(h.n_bytes, 0) AS BIGINT) AS n_bytes,
         |  coalesce(h.hist16, '0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0') AS hist16
         |FROM (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
         |LEFT JOIN hist h USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),

    // ANN scale path: random-hyperplane LSH bucketing (deterministic
    // hash-derived planes), cosine ranked only within each probe's
    // bucket — the candidate set shrinks ~2^bits-fold vs q30's brute
    // force. The signature width is DERIVED from the corpus size
    // (Lsh.bitsFor: ceil(log2(n/2)) — 8 bits at the 500-vector test
    // scale, 28 at 10^9): a fixed width would leave per-bucket
    // candidate sets growing linearly with n
    Query("q34_ann_lsh", (s, dir) => {
      val spark = s
      import spark.implicits._
      val nVec = embeddingsCount(s, dir)
      val nBits = graft.similarity.Lsh.bitsFor(nVec)
      val sigOf = (emb: Array[Float]) => graft.similarity.Lsh.signature(emb, nBits)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"), col("label"))
        .as[(Long, Array[Float], Int)]
        .map { case (id, emb, _) => (id, emb, sigOf(emb)) }
        .toDF("vec_id", "embedding", "sig")
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("sig"))
      val dot = expr("aggregate(zip_with(embedding, qe, (x, y) -> x * y), 0D, (a, x) -> a + x)")
      val na = expr("sqrt(aggregate(transform(embedding, x -> x * x), 0D, (a, x) -> a + double(x)))")
      val nb = expr("sqrt(aggregate(transform(qe, x -> x * x), 0D, (a, x) -> a + double(x)))")
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(probes), Seq("sig"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", dot / (na * nb))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"))
        .orderBy(col("qid"), col("rank"))
    }, None),

    // embedding-cosine near-duplicate pairs: multi-band LSH candidate
    // generation (equi self-join per band, distinct pairs across
    // bands), exact-cosine confirmation — the banding recall/cost
    // trade that survives 10^9 vectors, where the brute-force q30
    // cross join does not. Per-band width r = ceil(log2(n/c)) — the
    // FULL log2(n) (Lsh.bitsPerBandFor: 6 at the 500-vector test
    // scale, 27 at 10^9) so random-pair collision rate 2^-r <= c/n
    // and candidate volume stays ~ bands*c*n, linear in the corpus;
    // bands buy recall only (see the width-vs-volume math on
    // bitsPerBandFor — the earlier log2(n)/bands rule was n^(2-1/b)
    // candidates: 23% of ALL pairs already at n=2000)
    Query("q37_embed_neardup", (s, dir) => {
      val spark = s
      import spark.implicits._
      val bands = 4
      val nVec = embeddingsCount(s, dir)
      val bitsPerBand = graft.similarity.Lsh.bitsPerBandFor(nVec, bands)
      // candidate generation ships ONLY (vec_id, band, sig) through the
      // self-join — embeddings (the wide column) are re-attached by id
      // AFTER the candidate distinct, so vectors are never shuffled
      // through the band join (at 10^9 vectors the band join's shuffle
      // would otherwise carry every vector once per band)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, emb) =>
          val sigs = Array.tabulate(bands)(b =>
            graft.similarity.Lsh.bandSignature(emb, b, bitsPerBand))
          (id, sigs)
        }
        .toDF("vec_id", "sigs")
      val cand = bandCandidates(e, col("sigs"))
      // per-vector norm computed ONCE on the 2-column vector table, not
      // per candidate pair: a vector in k pairs previously re-ran the
      // sqrt/aggregate lambda k times inside the verify join (identical
      // expression, identical doubles — only the evaluation count
      // changes, so verdicts are bit-stable)
      val nrm = expr("sqrt(aggregate(transform(embedding, x -> x * x), 0D, (acc, x) -> acc + double(x)))")
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"), nrm.as("nrm"))
      val dot = expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
      cand
        .join(vecs.select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na")), Seq("a"))
        .join(vecs.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("b"))
        .withColumn("cos", dot / (col("na") * col("nb")))
        .filter(col("cos") > 0.4)
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }, None),

    // ANN exact-oracle variant of q30: embeddings quantized to integer
    // milli-units (round(x*1000) — exact, engine-portable longs), probe
    // top-5 ranked by INTEGER dot product with vec_id tiebreak. Every
    // value is a long, so the ranking (and the DuckDB oracle hash) is
    // deterministic — this gives the similarity-search path a value-
    // exact correctness gate that q30's float cosine cannot have.
    // Scale shape is identical to q30: probes broadcast, corpus never
    // shuffled, one codegen'd map + per-probe top-k.
    Query("q40_ann_dot_topk", (s, dir) => {
      val quant = expr("transform(embedding, x -> bigint(round(double(x) * 1000D)))")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), quant.as("ce"))
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("ce").as("qe"))
      val dot = expr("aggregate(zip_with(ce, qe, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
      val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dot", dot)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"), col("dot"))
        .orderBy(col("qid"), col("rank"))
    }, Some(
      // CAST(x AS DOUBLE) BEFORE the *1000: DuckDB would otherwise compute
      // float32 * int in float32 while Spark widens float -> double, and
      // the two can round differently at the .5 boundary
      """WITH cv AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ce
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS qid, ce AS qe FROM cv WHERE vec_id < 3),
        |pairs AS (
        |  SELECT qv.qid, cv.vec_id,
        |    CAST(list_sum(list_transform(list_zip(cv.ce, qv.qe),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot
        |  FROM cv, qv WHERE cv.vec_id <> qv.qid)
        |SELECT qid, rank, vec_id, dot FROM (
        |  SELECT qid, vec_id, dot,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
        |      AS BIGINT) AS rank
        |  FROM pairs) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // Embedding near-dup with a value-exact oracle: deterministic
    // sign-bit LSH (band b = the 8 sign bits of quantized coords
    // 8b+1..8b+8 — hyperplane LSH with axis-aligned planes) generates
    // candidates via a band self-join that ships ONLY (vec_id, band,
    // sig); the verify stage re-attaches vectors by id and keeps pairs
    // with integer cosine >= 0.40 via cross-multiplication:
    // dot > 0 && 25*dot^2 >= 4*na2*nb2 — no sqrt, no floats, so the
    // whole pipeline (candidates AND verdicts) hash-matches DuckDB.
    // Widths are FIXED (4 bands x 8 bits) for oracle determinism; the
    // corpus-size-adaptive widths (Lsh.bitsPerBandFor) remain the scale
    // path and are exercised by q37. Long bounds: |quantized| <= ~526,
    // dim 64 -> dot <= 1.8e7, 25*dot^2 <= 7.8e15 << 2^63.
    Query("q41_embed_neardup_exact", (s, dir) => {
      val quant = expr("transform(embedding, x -> bigint(round(double(x) * 1000D)))")
      val base = spread(s, t(s, dir, "embeddings"))
        .select(col("vec_id").cast("long").as("vec_id"), quant.as("ce"))
      val sigs = expr(
        """transform(sequence(0, 3), b ->
          |  aggregate(sequence(1, 8), 0L, (acc, i) ->
          |    acc + IF(element_at(ce, int(b * 8 + i)) > 0L,
          |             shiftleft(1L, int(i - 1)), 0L)))""".stripMargin)
      val cand = bandCandidates(base, sigs)
      val n2 = expr("aggregate(ce, 0L, (acc, x) -> acc + x * x)")
      val vecs = base.select(col("vec_id"), col("ce"), n2.as("n2"))
      val dot = expr("aggregate(zip_with(cea, ceb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
      cand
        .join(vecs.select(col("vec_id").as("a"), col("ce").as("cea"), col("n2").as("na2")), Seq("a"))
        .join(vecs.select(col("vec_id").as("b"), col("ce").as("ceb"), col("n2").as("nb2")), Seq("b"))
        .withColumn("dot", dot)
        .filter(col("dot") > 0 &&
          lit(25) * col("dot") * col("dot") >= lit(4) * col("na2") * col("nb2"))
        .select(col("a"), col("b"), col("dot"), col("na2"), col("nb2"))
        .orderBy(col("a"), col("b"))
    }, Some(
      """WITH cv AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ce
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, ce,
        |    CAST(list_sum(list_transform(ce, x -> x * x)) AS BIGINT) AS n2
        |  FROM cv),
        |banded AS (
        |  SELECT vec_id, b.band,
        |    CAST(list_sum(list_transform(range(1, 9),
        |      i -> CASE WHEN ce[b.band * 8 + i] > 0 THEN 1 << (i - 1)
        |                ELSE 0 END)) AS BIGINT) AS sig
        |  FROM cv, (SELECT unnest(range(0, 4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id),
        |scored AS (
        |  SELECT c.a, c.b,
        |    CAST(list_sum(list_transform(list_zip(va.ce, vb.ce),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot,
        |    va.n2 AS na2, vb.n2 AS nb2
        |  FROM cand c JOIN n va ON c.a = va.vec_id JOIN n vb ON c.b = vb.vec_id)
        |SELECT a, b, dot, na2, nb2 FROM scored
        |WHERE dot > 0 AND 25 * dot * dot >= 4 * na2 * nb2
        |ORDER BY a, b""".stripMargin)),

    // ANN scale path #2: IVF (inverted-file) — the coarse-quantizer
    // family alongside the LSH family (q34/q37). Centroids are the
    // first 16 corpus vectors (deterministic stand-in for trained
    // k-means — the index structure, not the training loop, is what
    // the engine owes); every vector is assigned to its nearest
    // centroid by integer squared-L2 with cent_id tiebreak, each probe
    // searches only its nProbe=2 nearest centroid cells, top-5 by
    // integer dot. All math is on milli-quantized longs, so the whole
    // index build AND search are value-exact against the DuckDB
    // oracle.
    //
    // Scale shape (10^9 vectors, k ~ sqrt(n) centroids): the centroid
    // table is collapsed to ONE array row and broadcast, so assignment
    // is a map-only pass over the corpus — zero shuffles, no explode,
    // no per-centroid row blowup (the argmin runs INSIDE one row via
    // array_sort over k (d2, cid) structs, O(k·dim) per vector like
    // any IVF build). Probe cells are broadcast; only the ~nProbe/k
    // fraction of the corpus that lands in probed cells reaches the
    // per-probe top-k window. Long bounds: coord diff <= ~2.1e3
    // squared 4.4e6, x64 dims -> d2 <= 2.9e8; dot <= 1.8e7.
    Query("q42_ann_ivf", (s, dir) => {
      val quant = expr("transform(embedding, x -> bigint(round(double(x) * 1000D)))")
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), quant.as("ce"))
      val cents = centroids(base)
      // assignment (argmin over k centroids per corpus row — the
      // interpreted-lambda hot spot) runs on the spread corpus; the
      // centroid/probe subtrees keep their pushed vec_id scans
      val assigned = spread(s, t(s, dir, "embeddings"))
        .select(col("vec_id").cast("long").as("vec_id"), quant.as("ce"))
        .crossJoin(broadcast(cents))
        .withColumn("cent_id", cellsOf("ce", 1).getItem(0))
        .select(col("vec_id"), col("ce"), col("cent_id"))
      val probeCells = base.filter(col("vec_id") < 3).crossJoin(broadcast(cents))
        .select(col("vec_id").as("qid"), col("ce").as("qe"),
          explode(cellsOf("ce", 2)).as("cent_id"))
      val dot = expr("aggregate(zip_with(ce, qe, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
      val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
      assigned.join(broadcast(probeCells), Seq("cent_id"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dot", dot)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"), col("cent_id"), col("dot"))
        .orderBy(col("qid"), col("rank"))
    }, Some(
      // same IVF semantics as the Spark side, declared relationally:
      // nearest-centroid assignment and probe cells via row_number with
      // the same (d2, cent_id) tiebreak
      """WITH cv AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ce
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, ce AS cc FROM cv WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, ce, cent_id FROM (
        |    SELECT v.vec_id, v.ce, c.cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(v.ce, c.cc),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cent_id) AS rk
        |    FROM cv v, cents c) WHERE rk = 1),
        |probe_cells AS (
        |  SELECT qid, qe, cent_id FROM (
        |    SELECT p.vec_id AS qid, p.ce AS qe, c.cent_id,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(p.ce, c.cc),
        |          p2 -> (p2[1] - p2[2]) * (p2[1] - p2[2]))), c.cent_id) AS rk
        |    FROM cv p, cents c WHERE p.vec_id < 3) WHERE rk <= 2),
        |cand AS (
        |  SELECT pc.qid, a.vec_id, a.cent_id,
        |    CAST(list_sum(list_transform(list_zip(a.ce, pc.qe),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot
        |  FROM assigned a JOIN probe_cells pc ON a.cent_id = pc.cent_id
        |  WHERE a.vec_id <> pc.qid)
        |SELECT qid, rank, vec_id, cent_id, dot FROM (
        |  SELECT qid, vec_id, cent_id, dot,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
        |      AS BIGINT) AS rank
        |  FROM cand) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // multimodal frame-sampling pipeline: metadata-only stride
    // selection (Media.sampleIndices) -> seekable subset decode
    // (decodeFrameSubset touches ONLY the selected frames' byte
    // ranges) -> 2x box-filter resize per frame. The oracle checks the
    // full geometry chain — frame boundaries, sampled byte counts, and
    // resized plane sizes — in pure integer SQL; the per-byte resize
    // CONTENT is pinned by MediaSpec unit tests (DuckDB can't index
    // into blobs cheaply, and the content math is deterministic
    // integer means). At 100 TB this shape is the point: sampling
    // decisions come from metadata before any payload byte is read, so
    // a stride-s pass decodes ~1/s of the corpus bytes.
    Query("q43_media_frame_sample", (s, dir) => {
      val spark = s
      import spark.implicits._
      import graft.multimodal.Media
      Media.fromDocuments(t(s, dir, "documents"))
        .mapPartitions { rows =>
          rows.map { r =>
            val idx = Media.sampleIndices(r.n_frames, 2)
            val frames = Media.MediaDecoder.Stub.decodeFrameSubset(r, idx)
            val resized = frames.map(f => Media.resizePlane(f, r.width, 2))
            (r.doc_id, r.n_frames.toLong, idx.length.toLong,
              frames.map(_.length.toLong).sum,
              resized.map(_.length.toLong).sum)
          }
        }
        .toDF("doc_id", "n_frames", "n_sampled", "sampled_bytes", "resized_bytes")
        .orderBy(col("doc_id"))
    }, Some(
      // same geometry chain as the Spark side in pure integer SQL:
      // metadata -> stub frame boundaries (per = max(1, len/nf), last
      // frame takes the remainder) -> stride-2 sample -> 2x box-resize
      // output sizes (ow = ceil(w/2), oh = ceil(ceil(sz/w)/2))
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |    CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN 1
        |      WHEN 1 THEN 1 + CAST(n_chars % 3 AS INTEGER)
        |      ELSE 1 + CAST(n_chars % 7 AS INTEGER) END AS BIGINT) AS nf,
        |    CAST(16 + doc_id % 64 AS BIGINT) AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, len, nf, w, greatest(1, len // nf) AS per,
        |    list_filter(range(0, nf), i -> i % 2 = 0) AS sel
        |  FROM m),
        |g AS (
        |  SELECT doc_id, nf, w, len(sel) AS ns,
        |    list_transform(sel, i ->
        |      (CASE WHEN i = nf - 1 THEN len
        |            ELSE least(len, least(len, i * per) + per) END)
        |      - least(len, i * per)) AS szs
        |  FROM f)
        |SELECT doc_id, nf AS n_frames, CAST(ns AS BIGINT) AS n_sampled,
        |  CAST(coalesce(list_sum(szs), 0) AS BIGINT) AS sampled_bytes,
        |  CAST(coalesce(list_sum(list_transform(szs, sz ->
        |    CASE WHEN sz = 0 THEN 0
        |         ELSE ((w + 1) // 2) * (((sz + w - 1) // w + 1) // 2) END)), 0)
        |    AS BIGINT) AS resized_bytes
        |FROM g ORDER BY doc_id""".stripMargin)),

    // int8 embedding quantization — the standard 4x payload reduction
    // for vector storage at 100 TB (per-vector symmetric scale
    // maxabs/127, the scalar-quantizer scheme of FAISS SQ8 / the
    // Parquet-embedding pattern). Map-only kernel: widen to double,
    // quantize each vector into [-127, 127], round-trip the quantized
    // ints through the engine's auto-selected int codec (the int8
    // range makes bitpack/FoR win), and reduce to per-label EXACT
    // integer aggregates. n_sat pins saturation behavior (each
    // vector's max-|x| element lands exactly on ±127, so n_sat >=
    // n_vecs on non-degenerate data); n_mismatch is the structural-
    // zero codec round-trip gate. Rounding is half-away-from-zero on
    // the EXACT binary double (BigDecimal(double) + HALF_UP ==
    // C++/DuckDB std::round), and the expression order (x * 127.0) / m
    // matches the oracle so both sides produce bit-identical doubles.
    // Scale shape: zero shuffle until the final tiny per-label agg —
    // the quantize+encode pass streams each partition once.
    Query("q59_embed_quantize", (s, dir) => {
      val spark = s
      import spark.implicits._
      t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"), col("label"))
        .as[(Long, Array[Float], Int)]
        .mapPartitions { it =>
          // label -> (n_vecs, n_dims, sum_q, sum_abs_q, n_sat, n_mismatch)
          val acc = scala.collection.mutable.HashMap.empty[Int, Array[Long]]
          it.foreach { case (_, v, label) =>
            val q = graft.codec.Quantize.int8(v)
            val (_, enc) = graft.codec.Selector.encodeAuto(q)
            val dec = graft.codec.IntCodec.decode(enc)
            var mism = 0L
            var i = 0
            if (dec.length != q.length) mism += 1
            else {
              while (i < q.length) { if (dec(i) != q(i)) mism += 1; i += 1 }
            }
            val a = acc.getOrElseUpdate(label, new Array[Long](6))
            a(0) += 1
            i = 0
            while (i < q.length) {
              a(1) += 1
              a(2) += q(i)
              a(3) += math.abs(q(i))
              if (math.abs(q(i)) == 127) a(4) += 1
              i += 1
            }
            a(5) += mism
          }
          acc.iterator.map { case (l, a) =>
            (l, a(0), a(1), a(2), a(3), a(4), a(5))
          }
        }
        .toDF("label", "n_vecs", "n_dims", "sum_q", "sum_abs_q", "n_sat",
          "n_mismatch")
        .groupBy(col("label"))
        .agg(sum("n_vecs").as("n_vecs"), sum("n_dims").as("n_dims"),
          sum("sum_q").as("sum_q"), sum("sum_abs_q").as("sum_abs_q"),
          sum("n_sat").as("n_sat"), sum("n_mismatch").as("n_mismatch"))
        .orderBy(col("label"))
    }, Some(
      // the same quantization in list algebra — DuckDB round() on DOUBLE
      // is std::round (half away from zero on the exact binary value) ==
      // the kernel's BigDecimal HALF_UP, and (x * 127.0) / m keeps the
      // identical IEEE op order; n_mismatch is structurally zero (any
      // codec round-trip divergence on the Spark side breaks the hash)
      """WITH m2 AS (
        |  SELECT label, de, list_max(list_transform(de, x -> abs(x))) AS m
        |  FROM (SELECT label,
        |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
        |        FROM embeddings)),
        |q AS (
        |  SELECT label,
        |    CASE WHEN m > 0
        |      THEN list_transform(de, x -> CAST(round(x * 127.0 / m) AS BIGINT))
        |      ELSE list_transform(de, x -> CAST(0 AS BIGINT)) END AS qe
        |  FROM m2)
        |SELECT label,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(len(qe)) AS BIGINT) AS n_dims,
        |  CAST(sum(list_sum(qe)) AS BIGINT) AS sum_q,
        |  CAST(sum(list_sum(list_transform(qe, v -> abs(v)))) AS BIGINT)
        |    AS sum_abs_q,
        |  CAST(coalesce(sum(len(list_filter(qe, v -> abs(v) = 127))), 0)
        |    AS BIGINT) AS n_sat,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM q GROUP BY label ORDER BY label""".stripMargin)),

    // ANN over the COMPRESSED representation (FAISS IVF-SQ8's scoring
    // half): both sides quantized to int8 (4x less scan bandwidth — at
    // 100 TB of vectors the search is memory-bandwidth-bound, so this
    // is the production configuration, not an approximation shortcut),
    // asymmetric score reconstructed in pure int64 as
    // dot_q * scaleInt(doc) — the probe's own scale is constant within
    // a probe's ranking, so dropping it changes no ranks and keeps the
    // comparator integer-exact (no float top-k, hash-matches DuckDB).
    // Scale shape identical to q40: probes broadcast, corpus never
    // shuffled, per-probe top-k is the only (tiny) exchange.
    Query("q60_quantized_ann", (s, dir) => {
      val spark = s
      import spark.implicits._
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          it.map { case (id, v) =>
            (id, graft.codec.Quantize.int8(v).map(_.toLong),
              graft.codec.Quantize.scaleInt(v))
          }
        }
        .toDF("vec_id", "qe", "scale_i")
      val probes = base.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("qe").as("qqe"))
      sq8Top5(base.crossJoin(broadcast(probes)))
        .select(col("qid"), col("rank"), col("vec_id"), col("dot_q"),
          col("scale_i"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }, Some(
      // same SQ8 quantization CTE as q59; the integer scale is
      // round(m * 2^20) with DuckDB round() == std::round == the
      // kernel's exact-binary BigDecimal HALF_UP, and the score/rank
      // pipeline is pure BIGINT so the hash compare is exact
      """WITH m2 AS (
        |  SELECT vec_id, de, list_max(list_transform(de, x -> abs(x))) AS m
        |  FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
        |        FROM embeddings)),
        |cv AS (
        |  SELECT vec_id,
        |    CASE WHEN m > 0
        |      THEN list_transform(de, x -> CAST(round(x * 127.0 / m) AS BIGINT))
        |      ELSE list_transform(de, x -> CAST(0 AS BIGINT)) END AS qe,
        |    CASE WHEN m > 0 THEN CAST(round(m * 1048576.0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS scale_i
        |  FROM m2),
        |qv AS (SELECT vec_id AS qid, qe AS qqe FROM cv WHERE vec_id < 3),
        |pairs AS (
        |  SELECT qv.qid, cv.vec_id, cv.scale_i,
        |    CAST(list_sum(list_transform(list_zip(cv.qe, qv.qqe),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot_q
        |  FROM cv, qv WHERE cv.vec_id <> qv.qid)
        |SELECT qid, rank, vec_id, dot_q, scale_i, score FROM (
        |  SELECT qid, vec_id, dot_q, scale_i, dot_q * scale_i AS score,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_q * scale_i DESC, vec_id) AS BIGINT) AS rank
        |  FROM pairs) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin)),

    // IVF-SQ8: the full FAISS inverted-file + scalar-quantizer search —
    // coarse assignment at x1000 precision (q42's quantizer; FAISS also
    // runs its coarse quantizer at higher precision than the stored
    // codes), storage and scoring over the 4x-compressed SQ8 codes with
    // q60's integer asymmetric score (dot_q * scaleInt). At 100 TB this
    // is THE production vector-search configuration: nProbe cells bound
    // candidate volume (q42's property) while SQ8 bounds scan bandwidth
    // (q60's property). Pure int64 end to end — hash-exact oracle.
    Query("q63_ivf_sq8", (s, dir) => {
      val spark = s
      import spark.implicits._
      val sq8 = spread(s, t(s, dir, "embeddings")
        .select(col("vec_id").cast("long"), col("embedding")))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          it.map { case (id, v) =>
            (id, v, graft.codec.Quantize.int8(v).map(_.toLong),
              graft.codec.Quantize.scaleInt(v))
          }
        }
        .toDF("vec_id", "embedding", "qe", "scale_i")
      val base = sq8
        .withColumn("ce",
          expr("transform(embedding, x -> bigint(round(double(x) * 1000D)))"))
        .drop("embedding")
      val cents = centroids(base)
      val assigned = base.crossJoin(broadcast(cents))
        .withColumn("cent_id", cellsOf("ce", 1).getItem(0))
        .select(col("vec_id"), col("qe"), col("scale_i"), col("cent_id"))
      val probeCells = base.filter(col("vec_id") < 3).crossJoin(broadcast(cents))
        .select(col("vec_id").as("qid"), col("qe").as("qqe"),
          explode(cellsOf("ce", 2)).as("cent_id"))
      sq8Top5(assigned.join(broadcast(probeCells), Seq("cent_id")))
        .select(col("qid"), col("rank"), col("vec_id"), col("cent_id"),
          col("dot_q"), col("scale_i"), col("score"))
        .orderBy(col("qid"), col("rank"))
    }, Some(
      // q42's coarse assignment (x1000 L2, tie-break cent_id) + q60's
      // SQ8 scoring CTE, both integer-exact as proven by those oracles
      """WITH m2 AS (
        |  SELECT vec_id, de, list_max(list_transform(de, x -> abs(x))) AS m
        |  FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
        |        FROM embeddings)),
        |cv AS (
        |  SELECT vec_id,
        |    list_transform(de, x -> CAST(round(x * 1000) AS BIGINT)) AS ce,
        |    CASE WHEN m > 0
        |      THEN list_transform(de, x -> CAST(round(x * 127.0 / m) AS BIGINT))
        |      ELSE list_transform(de, x -> CAST(0 AS BIGINT)) END AS qe,
        |    CASE WHEN m > 0 THEN CAST(round(m * 1048576.0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS scale_i
        |  FROM m2),
        |cents AS (SELECT vec_id AS cent_id, ce AS cc FROM cv WHERE vec_id < 16),
        |assigned AS (
        |  SELECT vec_id, qe, scale_i, cent_id FROM (
        |    SELECT v.vec_id, v.qe, v.scale_i, c.cent_id,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(v.ce, c.cc),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cent_id) AS rk
        |    FROM cv v, cents c) WHERE rk = 1),
        |probe_cells AS (
        |  SELECT qid, qqe, cent_id FROM (
        |    SELECT p.vec_id AS qid, p.qe AS qqe, c.cent_id,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(p.ce, c.cc),
        |          p2 -> (p2[1] - p2[2]) * (p2[1] - p2[2]))), c.cent_id) AS rk
        |    FROM cv p, cents c WHERE p.vec_id < 3) WHERE rk <= 2),
        |cand AS (
        |  SELECT pc.qid, a.vec_id, a.cent_id, a.scale_i,
        |    CAST(list_sum(list_transform(list_zip(a.qe, pc.qqe),
        |      p -> p[1] * p[2])) AS BIGINT) AS dot_q
        |  FROM assigned a JOIN probe_cells pc ON a.cent_id = pc.cent_id
        |  WHERE a.vec_id <> pc.qid)
        |SELECT qid, rank, vec_id, cent_id, dot_q, scale_i, score FROM (
        |  SELECT qid, vec_id, cent_id, dot_q, scale_i,
        |    dot_q * scale_i AS score,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_q * scale_i DESC, vec_id) AS BIGINT) AS rank
        |  FROM cand) WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin))
  )
}
