package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** E2E engine suite per FIXTURES.md §§2-3: bit-identical round-trip,
  * kill-one-partition resume, token-weighted skew splitting, and the
  * size-vs-stock-parquet bar.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-engine-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  override def afterAll(): Unit = spark.stop()

  def tmpDir(): String = Files.createTempDirectory("graft-test").toString

  test("chunker: deterministic ids, token-weighted budget respected") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 2000, seed = 1, medianLen = 128, maxLen = 4096, partitions = 4)
    val a = Chunker.chunked(ds, tokensPerChunk = 64 * 1024).select("doc_id", "chunk_id").as[(String, Long)].collect().toMap
    val b = Chunker.chunked(ds, tokensPerChunk = 64 * 1024).select("doc_id", "chunk_id").as[(String, Long)].collect().toMap
    assert(a == b, "chunk assignment must be deterministic across runs")

    val loads = Chunker.chunked(ds, tokensPerChunk = 64 * 1024)
      .groupBy("chunk_id").sum("n_tok").as[(Long, Long)].collect()
    val budget = 64 * 1024
    // post-split chunks stay within ~2x budget + one max doc (greedy hash
    // split can't do better than doc granularity)
    val tooFat = loads.filter(_._2 > 2L * budget + 4096)
    assert(tooFat.isEmpty, s"overweight chunks: ${tooFat.mkString(",")}")
  }

  test("chunker: metadata pre-pass plans identically to the payload plan") {
    import spark.implicits._
    // the meta param feeds the two sizing pre-passes a row-equivalent
    // (source, doc_id, n_tok) plan — chunk ids must come out identical
    // to the payload-derived plan (compact and chunksFor rely on this
    // to evaluate expensive opaque inputs once, not three times)
    val ds = Fixtures.tokenTable(spark, 1500, seed = 31, medianLen = 128, maxLen = 4096, partitions = 4)
    val meta = ds.toDF().select(
      org.apache.spark.sql.functions.col("source"),
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("n_tok"))
    val direct = Chunker.chunked(ds, tokensPerChunk = 64 * 1024)
      .select("doc_id", "chunk_id").as[(String, Long)].collect().toMap
    val viaMeta = Chunker.chunked(ds, tokensPerChunk = 64 * 1024, meta = Some(meta))
      .select("doc_id", "chunk_id").as[(String, Long)].collect().toMap
    assert(direct == viaMeta,
      "meta-based pre-passes must produce the identical chunk plan")
  }

  test("skew: one hot bucket splits into many chunks") {
    import spark.implicits._
    // all rows share ids that hash anywhere, but budget is tiny so every
    // base bucket is overweight and must split
    val ds = Fixtures.tokenTable(spark, 500, seed = 2, medianLen = 256, maxLen = 1024, partitions = 2)
    val nChunksTight = Chunker.chunked(ds, tokensPerChunk = 8 * 1024).select("chunk_id").distinct().count()
    val nChunksLoose = Chunker.chunked(ds, tokensPerChunk = 1 << 28).select("chunk_id").distinct().count()
    val nSources = ds.toDF().select("source").distinct().count()
    // loose budget: exactly one chunk per source (chunks are single-source)
    assert(nChunksLoose == nSources, s"expected $nSources chunks, got $nChunksLoose")
    assert(nChunksTight > 4L, s"expected salting to split, got $nChunksTight chunks")
  }

  test("chunks are single-source (enables decode-side partition pruning)") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 2000, seed = 9, medianLen = 128, maxLen = 4096, partitions = 4)
    val mixed = Chunker.chunked(ds, tokensPerChunk = 64 * 1024)
      .groupBy("chunk_id")
      .agg(org.apache.spark.sql.functions.countDistinct("source").as("n_src"))
      .filter(org.apache.spark.sql.functions.col("n_src") > 1)
      .count()
    assert(mixed == 0L, s"$mixed chunks mix sources")
  }

  test("chunker: rows with a null source drop out and leave the plan unchanged") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 1500, seed = 12, medianLen = 128, maxLen = 4096, partitions = 4)
    val nullSource = ds.limit(40).map(r => r.copy(doc_id = "null-" + r.doc_id, source = null))
    def plan(in: org.apache.spark.sql.Dataset[TokenRow]) = Chunker.chunked(in, tokensPerChunk = 8 * 1024)
      .select("doc_id", "chunk_id").as[(String, Long)].collect().toMap
    val withNulls = plan(ds.union(nullSource))
    assert(!withNulls.keys.exists(_.startsWith("null-")), "a null-source row was planned")
    assert(withNulls == plan(ds), "null-source rows changed other rows' chunk ids")
  }

  /** A plan-statistics table: (source, doc_id, n_tok) rows, any of
    * source and n_tok null, in `partitions` partitions, n_tok typed
    * int or long.
    */
  private final case class PlanCase(rows: Seq[(String, String, java.lang.Integer)], partitions: Int,
      tokensPerChunk: Long, longNTok: Boolean) {
    def df: org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("source", StringType), StructField("doc_id", StringType),
        StructField("n_tok", IntegerType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (s, d, n) => Row(s, d, n) }, partitions), schema)
      if (longNTok) df.withColumn("n_tok", df("n_tok").cast("long")) else df
    }
  }

  private val planSources = Seq("web", "code", "books", "arxiv", "wiki", "news", "forum", "legal",
    "patents", "math", "chat", "mail", "subs", "docs", "qa", "recipes", "poems", "reviews", "lyrics", "tweets")
  private val nonAsciiSources = Seq("café", "日本語", "naïve", "\ud83d\ude00")

  private def genPlanCase(sources: Seq[String]): org.scalacheck.Gen[PlanCase] = {
    import org.scalacheck.Gen
    val genNTok: Gen[java.lang.Integer] = Gen.frequency(
      12 -> Gen.choose(1, 600).map(Int.box), 2 -> Gen.choose(2000, 20000).map(Int.box),
      1 -> Gen.const(Int.box(0)), 1 -> Gen.const(null: java.lang.Integer))
    for {
      nSources <- Gen.choose(1, sources.size)
      nDocs <- Gen.choose(1, 300)
      srcs <- Gen.listOfN(nDocs, Gen.frequency(30 -> Gen.choose(0, nSources - 1).map(sources(_)),
        1 -> Gen.const(null: String)))
      ntoks <- Gen.listOfN(nDocs, genNTok)
      partitions <- Gen.choose(1, 4)
      tokensPerChunk <- Gen.oneOf(256L, 1000L, 4096L)
      longNTok <- Gen.oneOf(false, true)
    } yield PlanCase(srcs.zip(ntoks).zipWithIndex.map { case ((s, n), i) => (s, f"doc_$i%05d", n) },
      partitions, tokensPerChunk, longNTok)
  }

  /** Both pre-pass maps and the (doc_id, source) -> chunk_id assignment
    * of `c` equal those of the DataFrame aggregates in [[ChunkerReference]].
    */
  private def assertPlansAsReference(c: PlanCase, meta: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    val df = c.df
    val stats = meta.getOrElse(df).select("source", "doc_id", "n_tok")
    val buckets = Chunker.sourceBuckets(stats, c.tokensPerChunk)
    assert(buckets == ChunkerReference.sourceBuckets(stats, c.tokensPerChunk), s"pre-pass 1 of $c")
    val based = Chunker.withBase(stats, spark.sparkContext.broadcast(buckets))
    assert(Chunker.bucketSplits(based, c.tokensPerChunk) == ChunkerReference.bucketSplits(based, c.tokensPerChunk),
      s"pre-pass 2 of $c")
    def chunks(plan: => org.apache.spark.sql.DataFrame): Either[String, Seq[(String, String, Long)]] =
      try Right(plan.select("doc_id", "source", "chunk_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted)
      catch { case e: IllegalArgumentException => Left(e.getClass.getName) }
    val planned = chunks(Chunker.assignChunks(df, c.tokensPerChunk, "tag", meta))
    assert(planned == chunks(ChunkerReference.assignChunks(df, c.tokensPerChunk, "tag", meta)), s"chunk ids of $c")
    // a charset that cannot name a source refuses it in both
    val fileNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding")).newEncoder()
    assert(planned.isLeft == buckets.keys.exists(!fileNames.canEncode(_)), s"$c: $planned")
  }

  test("chunker: one-job pre-passes plan exactly as the DataFrame aggregates") {
    graft.codec.PropCheck.forAll(genPlanCase(planSources), n = 10)(assertPlansAsReference(_))
    graft.codec.PropCheck.forAll(genPlanCase(planSources.take(3) ++ nonAsciiSources), n = 4)(assertPlansAsReference(_))
  }

  test("chunker: the one-job pre-passes agree with the aggregates on edge tables") {
    val n = Int.box(100)
    val cases = Seq(
      "empty" -> PlanCase(Nil, 2, 1000L, longNTok = false),
      "a null-source row" -> PlanCase(Seq(("web", "a", n), (null, "b", n), ("web", "c", n)), 2, 150L, false),
      "a doc over the budget" -> PlanCase(Seq(("web", "a", Int.box(50000)), ("web", "b", n)), 1, 1000L, false),
      "null n_tok" -> PlanCase(Seq(("web", "a", null), ("web", "b", n), ("code", "c", null)), 2, 64L, true),
      "1 source" -> PlanCase((0 until 200).map(i => ("web", s"d$i", Int.box(i))), 3, 2000L, false),
      "20 sources" -> PlanCase((0 until 400).map(i => (planSources(i % 20), s"d$i", Int.box(i % 97))), 4, 300L,
        true),
      "non-ASCII sources" -> PlanCase((0 until 60).map(i => (nonAsciiSources(i % 4), s"d$i", n)), 2, 500L, false))
    cases.foreach { case (name, c) => withClue(name)(assertPlansAsReference(c)) }
  }

  test("chunker: a compaction-shaped meta table plans as the DataFrame aggregates") {
    import org.apache.spark.sql.functions._
    // as Pipeline.compactDocs: one row per doc_id, its winner's
    // (source, n_tok) and the count of its input rows
    graft.codec.PropCheck.forAll(genPlanCase(planSources), n = 3) { c =>
      val docs = c.df.union(c.df.limit(c.rows.size / 3))
        .groupBy(col("doc_id"))
        .agg(min(struct(col("source"), col("n_tok"))).as("w"), count(lit(1)).as("n"))
        .select(col("w.source").as("source"), col("doc_id"), col("w.n_tok").as("n_tok"), col("n"))
      assertPlansAsReference(c, Some(docs))
    }
  }

  /** 20 docs of one source plus `extra`, with `tokens` typed
    * array<int> with nullable elements, as a parquet read types it.
    */
  private def withRow(extra: org.apache.spark.sql.Row): org.apache.spark.sql.Dataset[TokenRow] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", StringType),
      StructField("tokens", ArrayType(IntegerType, containsNull = true)),
      StructField("n_tok", IntegerType), StructField("source", StringType)))
    val rows = (0 until 20).map(i => Row(f"doc_$i%03d", Seq(1, 2, 3), 3, "web")) :+ extra
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .as(org.apache.spark.sql.Encoders.product[TokenRow])
  }

  private def causes(e: Throwable): Seq[Throwable] = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a null token element fails the encode, never encodes as a 0 token") {
    val ds = withRow(org.apache.spark.sql.Row("doc_x", Seq(5, null, 7), 3, "web"))
    intercept[Exception](Encoder.encodeTable(ds, 1 << 20).collect())
    val out = tmpDir()
    intercept[Exception](Pipeline.run(spark, ds, out, tokensPerChunk = 1 << 20, waves = 1))
    assert(Pipeline.readLineage(spark, out).forall(_.count() == 0), "a chunk with the null token was written")
    Verifier.rmTree(out)
  }

  test("a null tokens array or a null doc_id fails the encode with a NullPointerException") {
    for (extra <- Seq(org.apache.spark.sql.Row("doc_x", null, 0, "web"),
                      org.apache.spark.sql.Row(null, Seq(5, 6, 7), 3, "web"))) {
      val e = intercept[org.apache.spark.SparkException](Encoder.encodeTable(withRow(extra), 1 << 20).collect())
      assert(causes(e).exists(_.isInstanceOf[NullPointerException]), s"$extra: $e")
    }
  }

  test("encode -> decode round-trip is bit-identical (keystone)") {
    val ds = Fixtures.tokenTable(spark, 3000, seed = 3, medianLen = 200, maxLen = 8192, partitions = 4)
    val out = tmpDir()
    val report = Pipeline.run(spark, ds, out, tokensPerChunk = 128 * 1024, waves = 3)
    assert(report.chunksSkipped == 0)
    assert(report.rows == 3000)

    val chunks = Pipeline.readChunks(spark, out)
    val v = Verifier.verify(ds, chunks)
    assert(v.ok, s"verify failed: $v")
    assert(v.sourceRows == 3000 && v.decodedRows == 3000 && v.mismatchedRows == 0)
    assert(v.sourceTokens == v.decodedTokens)
  }

  test("the chunk set is the same at waves 1, 4 and 16, and no staging dir is left")(uncoalesced {
    val ds = Fixtures.tokenTable(spark, 1500, seed = 45, medianLen = 100, maxLen = 2048, partitions = 4)
    val runs = Seq(1, 4, 16).map { waves =>
      val out = tmpDir()
      val report = Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = waves)
      assert(report.wavesRun == waves && report.rows == 1500)
      val v = Verifier.verify(ds, Pipeline.readChunks(spark, out))
      assert(v.ok, s"waves=$waves: verify failed: $v")
      assert(!new java.io.File(out, "_staging").exists, s"waves=$waves left a _staging dir")
      val chunks = Pipeline.readChunks(spark, out).collect().map(c => c.chunk_id -> c.checksum).toSet
      val used = storedWaves(out).values.toSet
      Verifier.rmTree(out)
      waves -> (chunks, used)
    }.toMap
    assert(runs(4)._1 == runs(1)._1 && runs(16)._1 == runs(1)._1,
      "chunk ids and checksums must not depend on the wave count")
    assert(runs(4)._2.size > 1 && runs(16)._2.size > 1, s"waves written: ${runs.view.mapValues(_._2).toMap}")
  })

  /** `body` with AQE's partition coalescing off: the encode shuffle keeps
    * all its partitions, so a multi-wave run of a small table writes
    * several waves (coalesced, such a table is one partition, one wave).
    */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** chunk_id -> the wave_id it is stored under in `out`'s chunks table. */
  private def storedWaves(out: String): Map[Long, Int] =
    spark.read.parquet(Pipeline.chunksPath(out)).select("chunk_id", "wave_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap

  /** The last non-empty wave_id of a clean run of `ds` into a scratch
    * dir, and the chunk ids stored under it: a kill set for that wave.
    */
  private def lastWave(ds: org.apache.spark.sql.Dataset[TokenRow], tokensPerChunk: Long, waves: Int,
      inputSplit: String = ""): (Int, Set[Long]) = {
    val scratch = tmpDir()
    Pipeline.run(spark, ds, scratch, tokensPerChunk, waves, inputSplit)
    val stored = storedWaves(scratch)
    Verifier.rmTree(scratch)
    val last = stored.values.max
    assert(last > 0, s"the clean run wrote only wave $last")
    (last, stored.collect { case (id, w) if w == last => id }.toSet)
  }

  test("resume: kill one wave, re-run encodes only the remainder")(uncoalesced {
    val ds = Fixtures.tokenTable(spark, 1500, seed = 4, medianLen = 100, maxLen = 2048, partitions = 4)
    val out = tmpDir()
    val (lastId, killed) = lastWave(ds, 64 * 1024, 3)
    // first run: fail every chunk of the last wave
    val failed = try {
      Pipeline.run(spark, ds, out, tokensPerChunk = 64 * 1024, waves = 3,
        failOnChunk = killed.contains)
      false
    } catch { case _: Exception => true }
    assert(failed, "injected failure must surface")

    // the earlier waves are durable
    val lin1 = Pipeline.readLineage(spark, out).get
    val done1 = lin1.select("chunk_id").distinct().count()
    assert(done1 > 0, "completed waves must have lineage")
    val killedDone = lin1.select("chunk_id").collect()
      .count(r => killed.contains(r.getLong(0)))
    assert(killedDone == 0, "failed wave must have no lineage")

    // second run: no failure; must skip completed chunks
    val report2 = Pipeline.run(spark, ds, out, tokensPerChunk = 64 * 1024, waves = 3)
    assert(report2.chunksSkipped == done1, s"expected $done1 skipped, got ${report2.chunksSkipped}")
    val lin2 = Pipeline.readLineage(spark, out).get
    assert(lin2.select("chunk_id").distinct().count() == lin2.count(), "no duplicate lineage rows")
    val killedNow = storedWaves(out).filter { case (id, _) => killed.contains(id) }
    assert(killedNow.size == killed.size && killedNow.values.forall(_ == lastId),
      s"failed wave now completed: $killedNow")

    // and the union still round-trips
    val v = Verifier.verify(ds, Pipeline.readChunks(spark, out))
    assert(v.ok, s"post-resume verify failed: $v")
  })

  /** (chunks, rows, tokens, raw bytes, encoded bytes) summed over the
    * chunks table, and the same fields of a report.
    */
  private def tableSums(out: String): Seq[Long] = {
    val cs = Pipeline.readChunks(spark, out).collect()
    Seq(cs.length.toLong, cs.map(_.n_rows.toLong).sum, cs.map(_.n_tokens).sum,
      cs.map(_.raw_bytes).sum, cs.map(_.encoded_bytes).sum)
  }
  private def reportSums(r: Pipeline.EncodeReport): Seq[Long] =
    Seq(r.chunksEncoded, r.rows, r.tokens, r.rawBytes, r.encodedBytes)

  test("EncodeReport of a fresh multi-wave run equals the chunks table's sums")(uncoalesced {
    val ds = Fixtures.tokenTable(spark, 1200, seed = 43, medianLen = 100, maxLen = 2048, partitions = 4)
    val out = tmpDir()
    val waves = 8
    val report = Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = waves)
    val used = storedWaves(out).values.toSet
    // pins the fixture: several waves write, and some write nothing
    assert(used.size > 1 && used.size < waves, s"waves with chunks: $used")
    assert(report.wavesRun == waves && report.chunksSkipped == 0)
    assert(reportSums(report) == tableSums(out))
    assert(report.rows == 1200)
  })

  test("a killed then resumed run reports every chunk once")(uncoalesced {
    val ds = Fixtures.tokenTable(spark, 1500, seed = 4, medianLen = 100, maxLen = 2048, partitions = 4)
    val out = tmpDir()
    val (_, lastIds) = lastWave(ds, 64 * 1024, 3)
    intercept[Exception](Pipeline.run(spark, ds, out, tokensPerChunk = 64 * 1024, waves = 3,
      failOnChunk = lastIds.contains))
    // the killed run's report is lost with it; its work is what it
    // committed to the table
    val killed = tableSums(out)
    assert(killed.head > 0)
    val resumed = Pipeline.run(spark, ds, out, tokensPerChunk = 64 * 1024, waves = 3)
    assert(resumed.chunksSkipped == killed.head)
    assert(killed.zip(reportSums(resumed)).map { case (a, b) => a + b } == tableSums(out))
    assert(resumed.rows + killed(1) == 1500)
  })

  test("a re-run with every wave done reports zeros and returns") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ds = Fixtures.tokenTable(spark, 600, seed = 44, medianLen = 64, maxLen = 1024, partitions = 2)
    Seq(1, 3).foreach { waves =>
      val out = tmpDir()
      Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = waves)
      val before = tableSums(out)
      // every wave's observed write is empty: its metrics must still arrive
      val again = Await.result(Future(
        Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = waves)), 5.minutes)
      assert(reportSums(again) == Seq(0L, 0L, 0L, 0L, 0L), s"waves=$waves: $again")
      assert(again.chunksSkipped == before.head && again.wavesRun == waves)
      assert(tableSums(out) == before)
    }
  }

  test("size bar: encoded output <= stock parquet zstd on same rows") {
    val ds = Fixtures.tokenTable(spark, 4000, seed = 5, medianLen = 300, maxLen = 4096, partitions = 4)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 512 * 1024, waves = 1)
    val (ours, ref) = Verifier.sizeVsReferenceParquet(ds, Pipeline.chunksPath(out), tmpDir())
    info(s"ours=$ours bytes, stock parquet zstd=$ref bytes, ratio=${ours.toDouble / ref}")
    assert(ours <= ref, s"encoded $ours > reference $ref")
  }

  test("readTokens: source-pruned decode returns exactly that source's rows") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 800, seed = 12, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 64 * 1024, waves = 1)
    val web = Pipeline.readTokens(spark, out, sources = Seq("web"))
    val expected = ds.filter(_.source == "web")
    assert(web.count() == expected.count())
    val v = Verifier.verify(expected, Encoder.encodeTable(expected, 64 * 1024))
    assert(v.ok)
    // pruning proof: the decode plan only lists the web partition
    val files = web.queryExecution.executedPlan.toString()
    assert(!files.contains("part_source=books") || files.contains("PartitionFilters"),
      "expected partition pruning on part_source")
  }

  test("input is scanned O(1) times regardless of wave count")(uncoalesced {
    import spark.implicits._
    // every materialization of the input bumps the accumulator; the
    // wave loop must NOT multiply input scans (round-1 regression:
    // waves=16 re-scanned the full input 16 times). Uncoalesced, each of
    // the 4 waves reads its own partitions of the one shuffle
    val n = 600
    val base = Fixtures.tokenTable(spark, n, seed = 21, medianLen = 64, maxLen = 512, partitions = 2)
    val acc1 = spark.sparkContext.longAccumulator("scan1")
    Pipeline.run(spark, base.map { r => acc1.add(1); r }, tmpDir(),
      tokensPerChunk = 32 * 1024, waves = 1)
    val acc4 = spark.sparkContext.longAccumulator("scan4")
    val out4 = tmpDir()
    Pipeline.run(spark, base.map { r => acc4.add(1); r }, out4,
      tokensPerChunk = 32 * 1024, waves = 4)
    assert(storedWaves(out4).values.toSet.size > 1, "waves=4 wrote one wave")
    val scans1 = acc1.value.toDouble / n
    val scans4 = acc4.value.toDouble / n
    info(s"input materializations: waves=1 -> $scans1, waves=4 -> $scans4")
    assert(scans4 <= scans1 + 0.01,
      s"wave count multiplied input scans: $scans1 vs $scans4")
  })

  test("the chunks table is the only ledger: a leftover lineage/ dir is inert") {
    val ds = Fixtures.tokenTable(spark, 400, seed = 31, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 2)
    val linDir = new org.apache.hadoop.fs.Path(out, "lineage")
    val fs = linDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(linDir), "a run must write no second ledger")
    val nChunks = Pipeline.readChunks(spark, out).count()
    val nRows = Pipeline.readTokens(spark, out).count()
    val lin = Pipeline.readLineage(spark, out).get
    assert(lin.count() == nChunks)
    // the previous layout wrote a lineage/ table after each wave's
    // chunks: complete, lagging the chunks (a crash between the two
    // writes), or absent (a crash before the first). None of it is read
    val leftovers = Seq("complete" -> Some(lin), "lagging" -> Some(lin.limit(1)), "absent" -> None)
    leftovers.foreach { case (state, leftover) =>
      fs.delete(linDir, true)
      leftover.foreach(_.write.parquet(linDir.toString))
      val report = Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 2)
      assert(report.chunksEncoded == 0, s"$state lineage: re-encoded ${report.chunksEncoded} chunks")
      assert(report.chunksSkipped == nChunks, s"$state lineage: skipped ${report.chunksSkipped}")
      assert(Pipeline.readChunks(spark, out).count() == nChunks, s"$state lineage: duplicate chunks appended")
      assert(Pipeline.readTokens(spark, out).count() == nRows, s"$state lineage: decode emits duplicates")
      assert(Pipeline.readLineage(spark, out).get.count() == nChunks)
      val v = Verifier.verify(ds, Pipeline.readChunks(spark, out))
      assert(v.ok, s"$state lineage: verify failed: $v")
    }
  }

  test("point lookup decodes only a bounded fraction of chunks at production docs-per-chunk") {
    import spark.implicits._
    // production-RATIO fixture: hundreds of docs per chunk, the regime
    // where hash bucketing makes each chunk's [min_doc_id, max_doc_id]
    // cover ~the whole corpus range and the range rung alone prunes
    // ~nothing (round-3 verdict: the old `hit < total` assertion was
    // satisfiable at >95% selectivity). The doc_id bloom rung must keep
    // the candidate set near-constant regardless.
    val ds = Fixtures.tokenTable(spark, 2000, seed = 33, medianLen = 64, maxLen = 512, partitions = 4)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 1)
    val all = Pipeline.readChunks(spark, out)
    val total = all.count()
    assert(total >= 4, s"fixture must span several chunks, got $total")
    // a MID-corpus key: the global min/max doc_ids are covered by one
    // chunk by construction even under hash bucketing — the worst (and
    // typical) case is a key strictly inside every chunk's range
    val key = ds.orderBy("doc_id").limit(1001).collect().last.doc_id
    val rangeHits = all.filter(
      org.apache.spark.sql.functions.col("min_doc_id") <= key &&
        org.apache.spark.sql.functions.col("max_doc_id") >= key).count()
    val candidates = Pipeline.pointLookupChunkIds(spark, out, key)
    info(s"chunk pruning for doc_id=$key: range rung $rangeHits/$total, " +
      s"range+bloom ${candidates.size}/$total")
    // pin the premise: under hash bucketing the range rung alone is
    // near-vacuous for an interior key (this is WHY the bloom exists)
    assert(rangeHits > total / 2,
      s"fixture no longer exercises the hash-bucket worst case ($rangeHits/$total)")
    // real selectivity: the bloom holds the candidate set to a small
    // fraction of the chunk count (FPR <1%; the bound leaves room for
    // unlucky small-sample collisions)
    assert(candidates.size <= math.max(1L, total / 4),
      s"bloom rung not selective: ${candidates.size} of $total chunks")
    val rows = Pipeline.readTokensForDocId(spark, out, key).collect()
    val expected = ds.filter(_.doc_id == key).head()
    assert(rows.length == 1)
    assert(rows.head.tokens.sameElements(expected.tokens))
    // a key that does not exist anywhere: bloom should normally reject
    // every chunk, and the decode must return nothing either way
    val missCandidates = Pipeline.pointLookupChunkIds(spark, out, "no-such-doc-id")
    info(s"absent-key candidates: ${missCandidates.size}/$total")
    assert(missCandidates.size <= math.max(1L, total / 4))
    assert(Pipeline.readTokensForDocId(spark, out, "no-such-doc-id").isEmpty)
  }

  test("decodeDocsTokensWhere materializes O(doc), not O(chunk)") {
    import spark.implicits._
    // one big chunk, many docs; pick a doc in the middle
    val rows = (0 until 200).map { i =>
      val len = 50 + (i * 31) % 400
      TokenRow(f"d$i%04d", Array.tabulate(len)(j => 100000 + (i * 7919 + j * 131) % 50000), len, "web")
    }
    val ds = spark.createDataset(rows)
    val chunks = Encoder.encodeTable(ds, tokensPerChunk = 1 << 30).collect()
    assert(chunks.length == 1, "fixture must produce a single chunk")
    val c = chunks.head
    // this fixture's token stream selects a byte-addressable codec —
    // the case where the slice decode is provably O(doc) (see the
    // corruption test in IntCodecSpec); fordelta would fall back
    info(s"tokens codec under point decode: ${c.codec_tokens}")
    assert(c.codec_tokens != "fordelta" && c.codec_tokens != "rle")
    val target = rows(123)
    val got = Decoder.decodeDocsTokensWhere(c, _ == target.doc_id).toSeq
    assert(got.length == 1)
    assert(got.head.tokens.sameElements(target.tokens),
      "point decode differs from source")
    // exactly the doc's tokens are materialized by construction
    // (decodeRange returns a len-sized array); also: a missing key
    assert(got.head.tokens.length == target.n_tok)
    assert(Decoder.decodeDocsTokensWhere(c, _ == "no-such-doc").isEmpty)
  }

  test("decodeDocsTokensWhere: exact on non-addressable codecs") {
    import spark.implicits._
    // sorted-ascending tokens force the fordelta codec, which has no
    // offset access — the point decode must still return exact rows
    // via its full-decode fallback
    val rows = (0 until 40).map { i =>
      TokenRow(f"d$i%03d", Array.tabulate(300)(j => i * 300 + j), 300, "web")
    }
    val ds = spark.createDataset(rows)
    val chunks = Encoder.encodeTable(ds, tokensPerChunk = 1 << 30).collect()
    assert(chunks.length == 1)
    val c = chunks.head
    info(s"tokens codec under fallback test: ${c.codec_tokens}")
    val target = rows(17)
    val got = Decoder.decodeDocsTokensWhere(c, _ == target.doc_id).toSeq
    assert(got.length == 1 && got.head.tokens.sameElements(target.tokens))
    assert(got.head.source == "web" && got.head.n_tok == 300)
  }

  test("decodeDocsTokensWhere: forged header counts throw before anything is sized by them") {
    import graft.codec.{BitIO, ByteSink, IntCodec, StrCodec}
    val rows = (0 until 20).map(i => TokenRow(f"d$i%02d", Array.tabulate(3 + i % 4)(j => i * 7 + j), 3 + i % 4, "web"))
    val c = Encoder.encodeTable(spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[TokenRow]),
      tokensPerChunk = 1 << 30).collect().head
    assert(Decoder.decodeDocsTokensWhere(c, _ => true).length == rows.length)
    // a frame-of-reference block of width 0 is valid with any count in
    // four bytes: a decode that trusted it would size 2^30 ints
    val out = new ByteSink()
    out.addByte(IntCodec.For.id)
    BitIO.writeUvarint(out, 1 << 30)
    BitIO.writeUvarint(out, BitIO.zigzag(0))
    out.addByte(0)
    val forged = out.result()
    assert(IntCodec.count(forged) == (1 << 30))
    val bad = Seq(
      "lengths forged to 2^30 values" -> c.copy(lengths_enc = forged),
      "sources one row short" -> c.copy(sources_enc = StrCodec.encodeAuto(rows.dropRight(1).map(_.source).toArray)._2),
      "tokens one value short" -> c.copy(tokens_enc = IntCodec.Plain.encode(rows.flatMap(_.tokens).dropRight(1).toArray)))
    bad.foreach { case (what, chunk) =>
      intercept[IllegalArgumentException](Decoder.decodeDocsTokensWhere(chunk, _ => true).toList)
      info(s"$what: throws IllegalArgumentException")
    }
  }

  test("decodeChunk: lengths whose sum disagrees with the token count throw, checksum intact") {
    import graft.codec.{IntCodec, StrCodec}
    val rows = (0 until 20).map(i => TokenRow(f"d$i%02d", Array.tabulate(3 + i % 4)(j => i * 7 + j), 3 + i % 4, "web"))
    val c = Encoder.encodeTable(spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[TokenRow]),
      tokensPerChunk = 1 << 30).collect().head
    assert(Decoder.decodeChunk(c).length == rows.length)
    val lengths = IntCodec.decode(c.lengths_enc)
    // the token stream and its checksum are untouched: only how the
    // lengths slice it changes (a longer sum would read past the end,
    // a shorter one drop the trailing tokens)
    Seq(1, -1).foreach { shift =>
      val shifted = lengths.clone()
      shifted(shifted.length - 1) += shift
      val chunk = c.copy(lengths_enc = IntCodec.Plain.encode(shifted))
      intercept[IllegalArgumentException](Decoder.decodeChunk(chunk).toList)
    }
    // the doc index checks its three counts too
    val shortSources = StrCodec.encodeAuto(rows.dropRight(1).map(_.source).toArray)._2
    intercept[IllegalArgumentException](
      Decoder.decodeDocIndex(c.chunk_id, c.n_rows, c.doc_ids_enc, c.lengths_enc, shortSources).toList)
  }

  test("a chunk whose blocks agree but whose n_rows or n_tokens is off by one throws") {
    val rows = (0 until 20).map(i => TokenRow(f"d$i%02d", Array.tabulate(3 + i % 4)(j => i * 7 + j), 3 + i % 4, "web"))
    val c = Encoder.encodeTable(spark.createDataset(rows)(org.apache.spark.sql.Encoders.product[TokenRow]),
      tokensPerChunk = 1 << 30).collect().head
    assert(Decoder.decodeChunk(c).length == rows.length)
    Seq(
      "n_rows + 1" -> c.copy(n_rows = c.n_rows + 1),
      "n_rows - 1" -> c.copy(n_rows = c.n_rows - 1),
      "n_tokens + 1" -> c.copy(n_tokens = c.n_tokens + 1)
    ).foreach { case (what, chunk) =>
      intercept[IllegalArgumentException](Decoder.decodeChunk(chunk).toList)
      intercept[IllegalArgumentException](Decoder.decodeDocsTokensWhere(chunk, _ => true).toList)
      info(s"$what: both decoders throw IllegalArgumentException")
    }
    intercept[IllegalArgumentException](
      Decoder.decodeDocIndex(c.chunk_id, c.n_rows + 1, c.doc_ids_enc, c.lengths_enc, c.sources_enc).toList)
  }

  test("readLineage reports the input_split each chunk was written under") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 41, medianLen = 64, maxLen = 512, partitions = 2)
    val inA = ds.filter(_.doc_id < "doc_000000000150")
    val inB = ds.filter(_.doc_id >= "doc_000000000150")
    val out = tmpDir()
    Pipeline.run(spark, inA, out, tokensPerChunk = 32 * 1024, waves = 1, inputSplit = "split-A")
    Pipeline.run(spark, inB, out, tokensPerChunk = 32 * 1024, waves = 1, inputSplit = "split-B")
    val splitOf = Pipeline.readLineage(spark, out).get
      .select("chunk_id", "input_split").as[(Long, String)].collect().toMap
    assert(splitOf.values.toSet == Set("split-A", "split-B"), s"splits: ${splitOf.values.toSet}")
    // every doc's chunk carries the split its run passed
    Pipeline.readDocIndex(spark, out).collect().foreach { r =>
      val want = if (r.doc_id < "doc_000000000150") "split-A" else "split-B"
      assert(splitOf(r.chunk_id) == want, s"${r.doc_id} in chunk ${r.chunk_id}: ${splitOf(r.chunk_id)}")
    }
    // a resume skips only the chunks of its own split
    val again = Pipeline.run(spark, inA, out, tokensPerChunk = 32 * 1024, waves = 1, inputSplit = "split-A")
    assert(again.chunksEncoded == 0)
    assert(again.chunksSkipped == splitOf.values.count(_ == "split-A"))
  }

  test("each wave owns its own chunk subdirectory (O(1) listings per wave)") {
    val ds = Fixtures.tokenTable(spark, 900, seed = 42, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 16 * 1024, waves = 3)
    // layout: chunks/wave_id=<w>/part_source=<s>/... — each wave
    // appends into its own wave_id dir
    val waveDirs = new java.io.File(Pipeline.chunksPath(out))
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("wave_id=")).sorted
    assert(waveDirs.nonEmpty && waveDirs.forall(_.matches("wave_id=\\d+")),
      s"expected wave_id partition dirs, got ${waveDirs.mkString(",")}")
    waveDirs.foreach { wd =>
      val srcDirs = new java.io.File(Pipeline.chunksPath(out), wd)
        .listFiles().filter(_.isDirectory).map(_.getName)
      assert(srcDirs.forall(_.startsWith("part_source=")),
        s"wave dir $wd lacks source partitioning: ${srcDirs.mkString(",")}")
    }
    // full-tree readers are unaffected
    val v = Verifier.verify(ds, Pipeline.readChunks(spark, out))
    assert(v.ok, s"verify failed over wave-partitioned layout: $v")
  }

  test("readDocIndex returns ids/lengths without token decode") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 34, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 1)
    val idx = Pipeline.readDocIndex(spark, out)
      .collect().map(r => r.doc_id -> (r.n_tok, r.source)).toMap
    val src = ds.collect().map(r => r.doc_id -> (r.n_tok, r.source)).toMap
    assert(idx == src)
  }

  test("token_cardinality is the exact distinct token count of each chunk") {
    import spark.implicits._
    // low-cardinality tokens force the dict codec
    val rows = (0 until 50).map { i =>
      TokenRow(f"d$i%03d", Array.fill(2000)(i % 7), 2000, "web")
    }
    val ds = spark.createDataset(rows)
    val chunks = Encoder.encodeTable(ds, tokensPerChunk = 1 << 24).collect()
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      assert(c.token_cardinality == graft.codec.IntCodec.decode(c.tokens_enc).distinct.length)
    }
  }

  test("token value stats + dictionary skip rule out absent tokens without decode") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      TokenRow(f"d$i%03d", Array.fill(1500)((i % 7) * 10), 1500, "web")
    }
    val chunks = Encoder.encodeTable(spark.createDataset(rows), tokensPerChunk = 1 << 24).collect()
    assert(chunks.nonEmpty)
    chunks.foreach { c =>
      val all = graft.codec.IntCodec.decode(c.tokens_enc)
      assert(c.min_token == all.min && c.max_token == all.max,
        s"chunk stats (${c.min_token},${c.max_token}) vs data (${all.min},${all.max})")
      // layer 1, bounds skip: outside [min,max] regardless of codec
      assert(!Decoder.chunkMayContainToken(c, c.min_token - 1))
      assert(!Decoder.chunkMayContainToken(c, c.max_token + 1))
      assert(Decoder.chunkMayContainToken(c, c.min_token))
      assert(Decoder.chunkMayContainToken(c, c.max_token))
    }
    // layer 2, dictionary skip: pin the Dict codec explicitly (the
    // auto-selector may legitimately prefer RLE/plain+zstd for this
    // fixture) — a probe INSIDE the bounds but absent from the data
    // (35 sits between the multiples of 10) is ruled out by the
    // dictionary header alone, no payload decode
    val vals = Array.tabulate(5000)(i => (i % 7) * 10)
    val sink = new graft.codec.ByteSink(5000 * 4 + 16)
    graft.codec.IntCodec.Dict.encode(vals, 0, vals.length, sink)
    val dictChunk = chunks.head.copy(
      tokens_enc = sink.result(), min_token = 0, max_token = 60)
    assert(graft.codec.IntCodec.dictValues(dictChunk.tokens_enc).isDefined)
    assert(!Decoder.chunkMayContainToken(dictChunk, 35))
    assert(Decoder.chunkMayContainToken(dictChunk, 30))
  }

  test("packer: docs never split, budget overflows by at most one doc") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val n = 1 + r.nextInt(900)
      TokenRow(f"d$i%04d", Array.tabulate(n)(j => (i * 31 + j) % 997), n, s"src${i % 3}")
    }
    val ds = spark.createDataset(rows)
    val budget = 1000L
    val packed = Packer.pack(ds, budget).collect()
    // conservation: every doc and every token lands in exactly one bin
    assert(packed.map(_.n_docs).sum == rows.length)
    assert(packed.map(_.n_tok.toLong).sum == rows.map(_.n_tok.toLong).sum)
    packed.foreach { p =>
      // internal consistency: boundaries describe the concatenation
      assert(p.lengths.sum == p.n_tok && p.tokens.length == p.n_tok)
      assert(p.doc_ids.length == p.n_docs)
      assert(p.doc_ids.sorted.sameElements(p.doc_ids), "docs out of order in bin")
      // never-split discipline: a bin exceeds the budget only by the
      // tail of its last doc — every doc STARTS inside the budget
      assert(p.n_tok - p.lengths.last < budget,
        s"bin ${p.bin} of ${p.source}: last doc starts at offset ${p.n_tok - p.lengths.last} >= $budget")
    }
    // the packed concatenation reproduces each doc bit-identically
    val byDoc = rows.map(x => x.doc_id -> x.tokens).toMap
    packed.foreach { p =>
      var off = 0
      p.doc_ids.zip(p.lengths).foreach { case (id, len) =>
        assert(java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(p.tokens, off, off + len), byDoc(id)))
        off += len
      }
    }
    // plan and materialization agree on bin assignment
    import org.apache.spark.sql.functions.{col => fcol, sum => fsum}
    val plan = Packer.plan(ds, budget)
      .groupBy(fcol("source"), fcol("bin"))
      .agg(fsum("n_tok").cast("long").as("t"))
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    packed.foreach(p => assert(plan((p.source, p.bin)) == p.n_tok.toLong))
  }

  test("packer: duplicate (doc_id, source) rows fail loudly instead of corrupting bins") {
    import spark.implicits._
    val rows = Seq(
      TokenRow("d0001", Array(1, 2, 3), 3, "web"),
      TokenRow("d0002", Array(4, 5), 2, "web"),
      TokenRow("d0001", Array(9, 9, 9, 9), 4, "web")) // duplicate key
    val ds = spark.createDataset(rows)
    // the precondition check rides the plan's window — any action
    // evaluating the duplicated partition must surface the error
    val e = intercept[Exception] {
      Packer.pack(ds, 1000L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("duplicate (doc_id, source)")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
    // unique input still packs fine through the same code path
    val ok = Packer.pack(ds.dropDuplicates("doc_id", "source"), 1000L).collect()
    assert(ok.map(_.n_docs).sum == 2)
  }

  test("compact: resume refuses inputs whose content changed since the partial run") {
    import spark.implicits._
    val dirA = tmpDir()
    val dsA = Fixtures.tokenTable(spark, 300, seed = 61, medianLen = 64, maxLen = 512, partitions = 2)
    Pipeline.run(spark, dsA, dirA, tokensPerChunk = 16 * 1024, waves = 1)
    val out = tmpDir()
    Pipeline.compact(spark, Seq(dirA), out, tokensPerChunk = 16 * 1024, waves = 1)
    // same inputs, unchanged: idempotent resume/replay still allowed
    Pipeline.compact(spark, Seq(dirA), out, tokensPerChunk = 16 * 1024, waves = 1)
    // now APPEND to the input dir (content changes, path set unchanged —
    // only the input's version in the input_split tag changes); a
    // distinct inputSplit gives the new docs disjoint chunk ids so the
    // append is real
    val extra = Fixtures.tokenTable(spark, 50, seed = 62, medianLen = 64, maxLen = 512, partitions = 1)
      .map(r => r.copy(doc_id = "zz-" + r.doc_id))
    Pipeline.run(spark, extra, dirA, tokensPerChunk = 16 * 1024, waves = 1,
      inputSplit = "late-wave")
    val e = intercept[IllegalArgumentException] {
      Pipeline.compact(spark, Seq(dirA), out, tokensPerChunk = 16 * 1024, waves = 1)
    }
    assert(e.getMessage.contains("inputs changed"), e.getMessage)
  }

  test("doc index: exact chunk candidates, stale index falls back, batch decode is one pass") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 1500, seed = 81, medianLen = 64, maxLen = 512, partitions = 4)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 1)
    val total = Pipeline.readChunks(spark, out).count()
    assert(total >= 4)
    // no index yet: lookups must fall back (bloom path), not fail
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq("doc_000000000007")).isEmpty)
    Pipeline.buildDocIndex(spark, out)
    val keys = Seq("doc_000000000007", "doc_000000000433", "doc_000000001111")
    // the index is exact: no bloom false positives, candidates are
    // precisely the chunks holding the keys
    val viaIndex = Pipeline.lookupChunkIdsViaIndex(spark, out, keys)
    assert(viaIndex.isDefined)
    val expectedChunks = Pipeline.readDocIndex(spark, out)
      .filter(r => keys.contains(r.doc_id)).map(_.chunk_id).distinct().collect().sorted
    assert(viaIndex.get.sorted.sameElements(expectedChunks),
      s"index candidates ${viaIndex.get.sorted.toSeq} != exact $expectedChunks")
    // batch read returns every requested doc bit-identically
    val got = Pipeline.readTokensForDocIds(spark, out, keys).collect()
      .map(r => r.doc_id -> r).toMap
    assert(got.keySet == keys.toSet)
    val src = ds.filter(r => keys.contains(r.doc_id)).collect()
    src.foreach(r => assert(got(r.doc_id).tokens.sameElements(r.tokens)))
    // the index probe is a pushed equality/in filter over doc-sorted
    // parquet: assert the filter actually reaches the scan
    val probe = spark.read.parquet(Pipeline.docIndexPath(out))
      .filter(org.apache.spark.sql.functions.col("doc_id") === keys.head)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"), plan)
    // append more chunks (a new chunks-table version: its stamp no
    // longer matches the one the index was built from) → the index
    // reports stale and the single-key path still answers correctly
    // through the bloom fallback
    val extra = Fixtures.tokenTable(spark, 60, seed = 82, medianLen = 64, maxLen = 512, partitions = 1)
      .map(r => r.copy(doc_id = "zz-" + r.doc_id))
    Pipeline.run(spark, extra, out, tokensPerChunk = 32 * 1024, waves = 1,
      inputSplit = "late")
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, keys).isEmpty,
      "stale index must not serve lookups")
    val zz = extra.head()
    val found = Pipeline.readTokensForDocId(spark, out, zz.doc_id).collect()
    assert(found.length == 1 && found.head.tokens.sameElements(zz.tokens))
    // rebuild restores the fast path over the grown table
    Pipeline.buildDocIndex(spark, out)
    val again = Pipeline.lookupChunkIdsViaIndex(spark, out, Seq(zz.doc_id))
    assert(again.isDefined && again.get.nonEmpty)
    // batch lookup with absent keys returns only the present ones
    val mixed = Pipeline.readTokensForDocIds(spark, out, Seq(keys.head, "no-such-doc")).collect()
    assert(mixed.length == 1 && mixed.head.doc_id == keys.head)
  }

  test("doc index: other docs re-encoded in place under the same chunk ids read as stale") {
    import spark.implicits._
    // one source and a chunk budget far above the table: every doc lands
    // in the one chunk whose id depends on (planTag, source, bucket,
    // salt), never on the doc ids
    def docs(prefix: String) = (0 until 50).map(i =>
      TokenRow(s"$prefix-$i", Array.tabulate(3 + i % 5)(j => i * 31 + j), 3 + i % 5, "src"))
    val out = tmpDir()
    def encode(prefix: String): Set[Long] = {
      Pipeline.run(spark, docs(prefix).toDS().repartition(2), out, tokensPerChunk = 1L << 20, waves = 1)
      Pipeline.readChunks(spark, out).map(_.chunk_id).collect().toSet
    }
    val aIds = encode("a")
    Pipeline.buildDocIndex(spark, out)
    assert(Pipeline.docIndexIsFresh(spark, out))
    Verifier.rmTree(Pipeline.chunksPath(out))
    val bIds = encode("b")
    assert(bIds == aIds, s"the re-encode must keep the chunk-id set: $aIds -> $bIds")
    assert(!Pipeline.docIndexIsFresh(spark, out), "an index of the a-* docs must not serve b-*")
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq("b-7")).isEmpty)
    val want = docs("b")(7)
    val got = Pipeline.readTokensForDocId(spark, out, "b-7").collect()
    assert(got.length == 1 && got.head.source == want.source && got.head.n_tok == want.n_tok &&
      got.head.tokens.sameElements(want.tokens), got.toSeq)
    // rebuilt, the index serves the b-* docs
    Pipeline.buildDocIndex(spark, out)
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq("b-7")).contains(bIds.toSeq))
    Verifier.rmTree(out)
  }

  test("doc index: an index directory without its built-from marker reads as absent") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 84, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.buildDocIndex(spark, out)
    val key = ds.head().doc_id
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq(key)).exists(_.nonEmpty))
    val marker = java.nio.file.Paths.get(Pipeline.docIndexPath(out), IndexProbe.BuiltFrom)
    assert(Files.deleteIfExists(marker), s"no marker at $marker")
    assert(!Pipeline.docIndexIsFresh(spark, out))
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq(key)).isEmpty)
    assert(Pipeline.readTokensForDocId(spark, out, key).collect().map(_.doc_id).toSeq == Seq(key))
    // the index files are still there: Spark reads them, the probe does not
    assert(Pipeline.readIndexTable(spark, out).count() == 300)
    Verifier.rmTree(out)
  }

  test("prefix successor: exact exclusive bound in UTF-8 order") {
    // basic increment
    assert(Pipeline.prefixSuccessor("4").contains("5"))
    assert(Pipeline.prefixSuccessor("doc_00000000043").contains("doc_00000000044"))
    // the bound is tight: p <= s < succ(p) iff s startsWith p (spot
    // facts at the boundary)
    assert(Utf8Order.lt("499999", "5") && Utf8Order.lteq("4", "4"))
    assert(Utf8Order.gteq("5", "4z"))
    // trailing U+10FFFF cannot increment — drop it, bump the previous
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(Pipeline.prefixSuccessor("a" + maxCp).contains("b"))
    // no finite bound exists for all-max or empty prefixes
    assert(Pipeline.prefixSuccessor(maxCp * 3).isEmpty)
    assert(Pipeline.prefixSuccessor("").isEmpty)
    // supplementary-plane increment stays in code-point (= UTF-8) order
    val s = Pipeline.prefixSuccessor(new String(Character.toChars(0x10000))).get
    assert(Utf8Order.lt(new String(Character.toChars(0x10000)), s))
    // a prefix ending in U+D7FF must skip the surrogate block: naive
    // increment yields lone U+D800, which UTF-8-encodes as '?' (0x3F)
    // and would sort BELOW the range's lo — the pushed range filter
    // would silently match nothing
    val preSurrogate = "a\ud7ff" // a + U+D7FF (last cp before surrogates)
    val dSucc = Pipeline.prefixSuccessor(preSurrogate).get
    assert(dSucc == "a\ue000", f"got U+${dSucc.codePointAt(1)}%04x")
    assert(Utf8Order.lt(preSurrogate, dSucc))
    // the bound stays tight: any string with the prefix sorts below it
    assert(Utf8Order.lt(preSurrogate + "zzz", dSucc))
  }

  test("prefix test equals the successor range test (property)") {
    import org.scalacheck.Gen
    // code points weighted toward the bound's edge cases: U+10FFFF (no
    // increment, dropped), U+D7FF (increment skips the surrogates),
    // supplementary characters, and the UTF-8 width boundaries
    val edge = Seq(0x10FFFF, 0x10FFFE, 0xD7FF, 0xE000, 0xFFFF, 0x10000, 0x1F600,
      0x7F, 0x80, 0x7FF, 0x800)
    val cp = Gen.frequency(
      4 -> Gen.oneOf(edge),
      4 -> Gen.choose('a'.toInt, 'c'.toInt),
      1 -> Gen.choose(0, 0xD7FF),
      1 -> Gen.choose(0xE000, 0x10FFFF))
    val cps = Gen.choose(0, 5).flatMap(Gen.listOfN(_, cp))
    def str(xs: Seq[Int]) = new String(xs.toArray, 0, xs.length)
    // the neighbouring valid code point: U+D7FF and U+E000 are adjacent
    def step(c: Int, d: Int) = c + d match {
      case n if n >= 0xD800 && n <= 0xDFFF => if (d > 0) 0xE000 else 0xD7FF
      case n => n
    }
    // s: an extension of p, an unrelated string, p cut short, or p with
    // its last code point moved by one (the near misses at the bound)
    val pairs = for {
      p <- cps
      t <- cps
      shape <- Gen.choose(0, 3)
      d <- Gen.oneOf(-1, 1)
    } yield {
      val s = shape match {
        case 0 => p ++ t
        case 1 => t
        case 2 => p.dropRight(1) ++ t
        case _ => p.dropRight(1) ++ p.lastOption.map(step(_, d))
          .filter(c => c >= 0 && c <= 0x10FFFF) ++ t
      }
      (str(p), str(s))
    }
    var hits, misses = 0
    graft.codec.PropCheck.forAll(pairs, n = 2000) { case (p, s) =>
      val inRange = Utf8Order.lteq(p, s) &&
        Pipeline.prefixSuccessor(p).forall(Utf8Order.lt(s, _))
      assert(s.startsWith(p) == inRange,
        s"prefix ${p.codePoints.toArray.map(_.toHexString).mkString(" ")} vs " +
          s"${s.codePoints.toArray.map(_.toHexString).mkString(" ")}")
      if (inRange) hits += 1 else misses += 1
    }
    assert(hits > 200 && misses > 200, s"degenerate sample: $hits hits, $misses misses")
  }

  test("doc index: an index without the chunk locator columns reads as absent") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 85, medianLen = 64, maxLen = 512, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.buildDocIndex(spark, out)
    val key = ds.head().doc_id
    // the (doc_id, chunk_id) index of an older layout, under the marker
    // of the current chunks table
    val staging = s"${tmpDir()}/doc_index"
    Pipeline.readIndexTable(spark, out).select("doc_id", "chunk_id").write.parquet(staging)
    val target = Pipeline.docIndexPath(out)
    Files.move(java.nio.file.Paths.get(target, IndexProbe.BuiltFrom),
      java.nio.file.Paths.get(staging, IndexProbe.BuiltFrom))
    Verifier.rmTree(target)
    Files.move(java.nio.file.Paths.get(staging), java.nio.file.Paths.get(target))
    assert(!Pipeline.docIndexIsFresh(spark, out))
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq(key)).isEmpty)
    assert(Pipeline.readTokensForDocId(spark, out, key).collect().map(_.doc_id).toSeq == Seq(key))
    Pipeline.buildDocIndex(spark, out)
    assert(Pipeline.lookupChunkIdsViaIndex(spark, out, Seq(key)).exists(_.nonEmpty))
    Verifier.rmTree(out)
  }

  test("a repeated row comes back from every doc-id read shape") {
    import spark.implicits._
    val base = Fixtures.tokenTable(spark, 300, seed = 91, medianLen = 64, maxLen = 512, partitions = 2)
      .collect()
    val dup = base(150)
    val out = tmpDir()
    Pipeline.run(spark, spark.createDataset(base.toSeq :+ dup), out,
      tokensPerChunk = 16 * 1024, waves = 1)
    // chunk_id depends only on (planTag, source, doc_id): both copies
    // land in one chunk
    val holders = Pipeline.readDocIndex(spark, out).filter(_.doc_id == dup.doc_id).collect()
    assert(holders.length == 2 && holders.map(_.chunk_id).distinct.length == 1)
    def bag(rs: Array[TokenRow]) =
      rs.toSeq.groupMapReduce(r => (r.doc_id, r.source, r.n_tok, r.tokens.toSeq))(_ => 1)(_ + _)
    val scan = bag(Pipeline.readTokens(spark, out).filter(_.doc_id == dup.doc_id).collect())
    assert(scan == Map((dup.doc_id, dup.source, dup.n_tok, dup.tokens.toSeq) -> 2))
    // metadata-scan candidates first, then index-probe candidates
    for (indexed <- Seq(false, true)) {
      if (indexed) Pipeline.buildDocIndex(spark, out)
      assert(Pipeline.docIndexIsFresh(spark, out) == indexed)
      assert(bag(Pipeline.readTokensForDocId(spark, out, dup.doc_id).collect()) == scan,
        s"point lookup, index=$indexed")
      assert(bag(Pipeline.readTokensForDocIds(spark, out, Seq(dup.doc_id)).collect()) == scan,
        s"batch lookup, index=$indexed")
    }
  }

  test("fetch past the 1024-id In-list cap matches the In-list") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 1500, seed = 92, medianLen = 64, maxLen = 512, partitions = 4)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 1)
    val keys = Seq("doc_000000000007", "doc_000000000433", "doc_000000001111")
    val real = Pipeline.readDocIndex(spark, out).filter(r => keys.contains(r.doc_id))
      .map(_.chunk_id).distinct().collect().toSeq
    val all = Pipeline.readChunks(spark, out).map(_.chunk_id).collect().toSet
    // 1025 ids that name no chunk push the list past the 1024 cap
    val ghosts = Iterator.iterate(1L)(_ + 1).filterNot(all).take(1025).toSeq
    val viaIn = Pipeline.readTokensForChunkIds(spark, out, real, keys)
    val viaBounds = Pipeline.readTokensForChunkIds(spark, out, real ++ ghosts, keys)
    // the long list really takes the bounds branch
    val plan = viaBounds.queryExecution.executedPlan.toString
    assert(plan.contains("min_doc_id") && !plan.contains("chunk_id IN") &&
      !plan.contains("chunk_id INSET"), plan.take(2000))
    def byId(rs: Array[TokenRow]) = rs.map(r => r.doc_id -> (r.source, r.n_tok, r.tokens.toSeq)).toMap
    val want = byId(viaIn.collect())
    assert(want.keySet == keys.toSet)
    val got = viaBounds.collect()
    assert(got.length == keys.length && byId(got) == want)
  }

  test("prefix/range lookup: index range probe is exact and pushed, stale index falls back") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 1500, seed = 83, medianLen = 64, maxLen = 512, partitions = 4)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 32 * 1024, waves = 1)
    val prefix = "doc_00000000043" // doc_000000000430 .. _439
    // no index yet: the metadata fallback must already answer correctly
    val cold = Pipeline.readTokensForDocIdPrefix(spark, out, prefix).collect()
    val want = ds.filter(_.doc_id.startsWith(prefix)).collect()
      .map(r => r.doc_id -> r).toMap
    assert(cold.map(_.doc_id).toSet == want.keySet)
    Pipeline.buildDocIndex(spark, out)
    // index candidates are exactly the chunks holding prefix docs
    val hi = Pipeline.prefixSuccessor(prefix)
    val got = Pipeline.lookupChunkIdsForRange(spark, out, prefix, hi)
    val exact = Pipeline.readDocIndex(spark, out)
      .filter(_.doc_id.startsWith(prefix)).map(_.chunk_id).distinct().collect().sorted
    assert(got.sorted.sameElements(exact),
      s"range candidates ${got.sorted} != exact ${exact.toSeq}")
    // decoded rows are bit-identical to the source
    val viaIndex = Pipeline.readTokensForDocIdPrefix(spark, out, prefix).collect()
    assert(viaIndex.map(_.doc_id).toSet == want.keySet)
    viaIndex.foreach(r => assert(r.tokens.sameElements(want(r.doc_id).tokens)))
    // the range probe is PUSHED: both bounds reach the parquet scan of
    // the doc-sorted index (min/max row-group pruning depends on it)
    val probe = spark.read.parquet(Pipeline.docIndexPath(out))
      .filter(org.apache.spark.sql.functions.col("doc_id") >= prefix &&
        org.apache.spark.sql.functions.col("doc_id") < hi.get)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(doc_id") && plan.contains("LessThan(doc_id"),
      plan)
    // half-open semantics: range [430, 435) excludes the upper bound
    val part = Pipeline.readTokensForDocIdRange(
      spark, out, "doc_000000000430", Some("doc_000000000435")).collect()
    assert(part.map(_.doc_id).toSet ==
      (430 until 435).map(i => f"doc_$i%012d").toSet)
    // unbounded-above range from the last decade of ids
    val tailRows = Pipeline.readTokensForDocIdRange(
      spark, out, "doc_000000001490", None).collect()
    assert(tailRows.map(_.doc_id).toSet ==
      (1490 until 1500).map(i => f"doc_$i%012d").toSet)
    // append (content change) → stale index → prefix lookup still
    // answers through the chunk min/max metadata fallback
    val extra = Fixtures.tokenTable(spark, 40, seed = 84, medianLen = 64, maxLen = 512, partitions = 1)
      .map(r => r.copy(doc_id = "zz-" + r.doc_id))
    Pipeline.run(spark, extra, out, tokensPerChunk = 32 * 1024, waves = 1,
      inputSplit = "late")
    val zz = Pipeline.readTokensForDocIdPrefix(spark, out, "zz-").collect()
    assert(zz.length == 40, s"stale-index fallback returned ${zz.length} of 40")
  }

  test("token NOT complement: provably-free chunks accept metadata-only, partition is exact") {
    import spark.implicits._
    val probe = 500
    // two sources → two chunk families: "low" docs can never contain
    // the probe (tokens < 100), "mixed" docs contain it in every other
    // doc — so both ladder branches are exercised
    val rows = (0 until 60).map { i =>
      if (i % 2 == 0)
        TokenRow(f"low_$i%04d", Array.tabulate(40)(j => (i * 7 + j) % 100), 40, "low")
      else {
        val base = Array.tabulate(40)(j => (i * 11 + j) % 100)
        if (i % 4 == 1) base(17) = probe
        TokenRow(f"mix_$i%04d", base, 40, "mixed")
      }
    }
    val ds = spark.createDataset(rows)
    val chunks = Encoder.encodeTable(ds, tokensPerChunk = 512).collect()
    val lowChunks = chunks.filter(_.part_source == "low")
    assert(lowChunks.nonEmpty &&
      lowChunks.forall(!Decoder.chunkMayContainToken(_, probe)),
      "every low chunk must be provably probe-free (fast-path trigger)")
    assert(chunks.exists(Decoder.chunkMayContainToken(_, probe)),
      "some mixed chunk must be may-contain (slow-path trigger)")
    // complement ladder (q83's kernel) vs brute-force full decode
    val ladder = chunks.flatMap { c =>
      if (!Decoder.chunkMayContainToken(c, probe))
        Decoder.decodeDocIndex(c.chunk_id, c.n_rows, c.doc_ids_enc, c.lengths_enc, c.sources_enc)
          .map(_.doc_id)
      else Decoder.decodeChunk(c).collect {
        case r if !r.tokens.contains(probe) => r.doc_id
      }
    }.toSet
    val brute = rows.collect { case r if !r.tokens.contains(probe) => r.doc_id }.toSet
    assert(ladder == brute, s"complement mismatch: ${ladder.diff(brute)} / ${brute.diff(ladder)}")
    // and the complement really is the complement of the membership set
    val members = rows.collect { case r if r.tokens.contains(probe) => r.doc_id }.toSet
    assert((ladder & members).isEmpty && (ladder ++ members).size == rows.size)
  }

  test("compact: inputs sharing no doc skip the dedup shuffle; overlap does not") {
    import spark.implicits._
    val dsA = Fixtures.tokenTable(spark, 200, seed = 71, medianLen = 64, maxLen = 512, partitions = 2)
    val dsB = dsA.map(r => r.copy(doc_id = "zz-" + r.doc_id))
    val dirA = tmpDir(); val dirB = tmpDir()
    Pipeline.run(spark, dsA, dirA, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.run(spark, dsB, dirB, tokensPerChunk = 16 * 1024, waves = 1)
    // doc ranges: dirA = doc_*, dirB = zz-doc_* — disjoint, both unique
    val (fastPlan, skipped) = Pipeline.compactPlan(spark, Seq(dirA, dirB))
    assert(skipped, "inputs sharing no doc must take the no-dedup fast path")
    // the fast plan is decode+union only: no shuffle stage at all
    // before the encoder's own repartition
    val physical = fastPlan.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"),
      s"fast path still shuffles:\n$physical")
    // overlapping inputs (dirA twice) must fall back to the dedup
    val (slowPlan, skipped2) = Pipeline.compactPlan(spark, Seq(dirA, dirA))
    assert(!skipped2, "overlapping inputs must keep the dedup shuffle")
    assert(slowPlan.queryExecution.executedPlan.toString.contains("Exchange"))
    // end-to-end: the fast-path compaction reproduces the exact union
    val out = tmpDir()
    val rpt = Pipeline.compact(spark, Seq(dirA, dirB), out, tokensPerChunk = 16 * 1024, waves = 1)
    assert(rpt.rowsDropped == 0)
    val decoded = Pipeline.readTokens(spark, out).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    val srcRows = dsA.collect() ++ dsB.collect()
    assert(decoded.size == srcRows.length)
    srcRows.foreach(r => assert(decoded(r.doc_id) == r.tokens.toSeq))
  }

  test("compact: inputs with interleaved doc ranges and no shared doc skip the dedup") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 73, medianLen = 64, maxLen = 512, partitions = 2)
    // even and odd docs: each input's doc range spans the other's, as
    // streaming micro-batches' ranges do
    val dirA = tmpDir(); val dirB = tmpDir()
    Pipeline.run(spark, ds.filter(_.doc_id.last.asDigit % 2 == 0), dirA, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.run(spark, ds.filter(_.doc_id.last.asDigit % 2 == 1), dirB, tokensPerChunk = 16 * 1024, waves = 1)
    val (plan, skipped) = Pipeline.compactPlan(spark, Seq(dirA, dirB))
    assert(skipped, "inputs sharing no doc must take the no-dedup fast path")
    val physical = plan.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"), s"fast path still shuffles:\n$physical")
    val out = tmpDir()
    val rpt = Pipeline.compact(spark, Seq(dirA, dirB), out, tokensPerChunk = 16 * 1024, waves = 1)
    assert(rpt.rowsDropped == 0 && rpt.rows == 300, rpt)
    val decoded = Pipeline.readTokens(spark, out).collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(decoded == ds.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap)
    Seq(dirA, dirB, out).foreach(Verifier.rmTree)
  }

  test("compact refuses a target that names one of its inputs by a file: URI") {
    val ds = Fixtures.tokenTable(spark, 100, seed = 43, medianLen = 64, maxLen = 512, partitions = 2)
    val dir = tmpDir()
    Pipeline.run(spark, ds, dir, tokensPerChunk = 16 * 1024, waves = 1)
    val e = intercept[IllegalArgumentException](
      Pipeline.compact(spark, Seq(dir), "file:" + dir, tokensPerChunk = 16 * 1024, waves = 1))
    assert(e.getMessage.contains("must not be one of its inputs"), e.getMessage)
    assert(Pipeline.readTokens(spark, dir).count() == 100, "a refused compaction writes nothing")
    Verifier.rmTree(dir)
  }

  test("Utf8Order agrees with Spark's own string sort order") {
    import spark.implicits._
    val tricky = Seq(
      "", "a", "ab", "z~", "\u00e9", "\u07ff", "\u0800", "\ud7ff",
      "\ue000", "\ue001", "\uffff",
      new String(Character.toChars(0x10000)),
      new String(Character.toChars(0x1F600)),
      new String(Character.toChars(0x10FFFF)),
      "a\ue000", "a" + new String(Character.toChars(0x10000)))
    val sparkSorted = tricky.toDS().orderBy(org.apache.spark.sql.functions.col("value"))
      .collect().toSeq
    assert(sparkSorted == tricky.sorted(Utf8Order),
      s"Spark order ${sparkSorted.map(_.map(_.toInt.toHexString).mkString("+"))} != " +
        s"Utf8Order ${tricky.sorted(Utf8Order).map(_.map(_.toInt.toHexString).mkString("+"))}")
  }

  test("compact duplicate check survives supplementary-plane doc ids") {
    import spark.implicits._
    // Regression (r04 review): Encoder computed chunk doc_id bounds in
    // UTF-16 order while Spark aggregates/compares in UTF-8 order. With
    // a supplementary-plane id (U+10000, UTF-16 surrogate sorts LOW,
    // UTF-8 4-byte sequence sorts HIGH) sharing a chunk with \ue000,
    // the stored chunk min was U+10000, a range proof built on the
    // stored bounds declared an overlapping pair of dirs disjoint --
    // doc \ue000 landed twice in the compacted output. The stored
    // bounds must still be UTF-8-ordered (lookups prune on them); the
    // dedup is decided per doc id, not from the bounds.
    val supp = new String(Character.toChars(0x10000))
    def row(id: String, src: String, t0: Int) = TokenRow(id, Array(t0, t0 + 1), 2, src)
    // two sources -> two single-source chunks in dirA: {\ue001} and {supp, \ue000}
    val dsA = spark.createDataset(Seq(
      row("\ue001", "s1", 10), row(supp, "s2", 20), row("\ue000", "s2", 30)))
    val dsB = spark.createDataset(Seq(row("\ue000", "s2", 30)))
    val dirA = tmpDir(); val dirB = tmpDir()
    Pipeline.run(spark, dsA, dirA, tokensPerChunk = 1024, waves = 1)
    Pipeline.run(spark, dsB, dirB, tokensPerChunk = 1024, waves = 1)
    // stored bounds must be UTF-8-ordered: no chunk may claim a min
    // above a doc it contains
    val s2chunk = Pipeline.readChunks(spark, dirA).collect().find(_.part_source == "s2").get
    assert(Utf8Order.lteq(s2chunk.min_doc_id, "\ue000"),
      s"chunk min ${s2chunk.min_doc_id.map(_.toInt.toHexString)} excludes contained \ue000")
    val (_, skipped) = Pipeline.compactPlan(spark, Seq(dirA, dirB))
    assert(!skipped, "overlapping dirs declared disjoint: the dedup shuffle was wrongly skipped")
    val out = tmpDir()
    Pipeline.compact(spark, Seq(dirA, dirB), out, tokensPerChunk = 1024, waves = 1)
    val ids = Pipeline.readTokens(spark, out).collect().map(_.doc_id)
    assert(ids.count(_ == "\ue000") == 1, s"duplicate doc in compacted output: ${ids.toSeq}")
    assert(ids.length == 3)
  }

  test("rmTree deletes a symlink itself, never the target's contents") {
    val victim = Files.createTempDirectory("graft-victim")
    val inside = victim.resolve("data.txt")
    Files.write(inside, "precious".getBytes)
    val scratch = Files.createTempDirectory("graft-scratch-test")
    Files.write(scratch.resolve("own.txt"), "x".getBytes)
    val link = scratch.resolve("link-to-victim")
    Files.createSymbolicLink(link, victim)
    Verifier.rmTree(scratch.toString)
    assert(!Files.exists(scratch), "scratch dir must be gone")
    assert(Files.exists(victim) && Files.exists(inside),
      "rmTree followed a symlink and deleted the target's contents")
    Verifier.rmTree(victim.toString)
  }

  /** A copy of `src`'s chunks table without the columns `drop`. */
  private def writeWithout(src: String, dst: String, drop: Seq[String]): Unit =
    spark.read.parquet(Pipeline.chunksPath(src)).drop(drop: _*)
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(Pipeline.chunksPath(dst))

  test("a chunks table missing a layout column fails loudly on every read path") {
    import org.apache.spark.sql.AnalysisException
    val ds = Fixtures.tokenTable(spark, 200, seed = 21, medianLen = 64, maxLen = 512, partitions = 2)
    val good = tmpDir()
    Pipeline.run(spark, ds, good, tokensPerChunk = 16 * 1024, waves = 1)
    val doc = Pipeline.readTokens(spark, good).first().doc_id
    Seq(
      Seq("min_doc_id", "max_doc_id"),
      Seq("input_split", "token_cardinality", "min_token", "max_token", "doc_bloom")
    ).foreach { drop =>
      val dir = tmpDir()
      writeWithout(good, dir, drop)
      val reads = Seq[(String, () => Any)](
        "readChunks" -> (() => Pipeline.readChunks(spark, dir).collect()),
        "readTokens" -> (() => Pipeline.readTokens(spark, dir).collect()),
        "readLineage" -> (() => Pipeline.readLineage(spark, dir).map(_.collect())),
        "readDocIndex" -> (() => Pipeline.readDocIndex(spark, dir).collect()),
        "pointLookupChunkIds" -> (() => Pipeline.pointLookupChunkIds(spark, dir, doc)),
        // no doc index built: the metadata-scan lookup
        "readTokensForDocId" -> (() => Pipeline.readTokensForDocId(spark, dir, doc).collect()))
      reads.foreach { case (name, read) =>
        val e = intercept[AnalysisException](read())
        assert(e.getCondition.startsWith("UNRESOLVED_COLUMN"),
          s"$name without ${drop.mkString(", ")}: ${e.getMessage}")
      }
      Verifier.rmTree(dir)
    }
    Verifier.rmTree(good)
  }

  test("every read path agrees on all-numeric sources") {
    import spark.implicits._
    val rows = Seq(
      TokenRow("a", Array(1, 2, 3), 3, "007"),
      TokenRow("b", Array(4, 5), 2, "007"),
      TokenRow("c", Array(6), 1, "2024"))
    val dir = tmpDir()
    Pipeline.run(spark, spark.createDataset(rows), dir, tokensPerChunk = 1024, waves = 1)
    assert(Pipeline.readChunks(spark, dir).collect().map(_.part_source).toSet == Set("007", "2024"))
    assert(Pipeline.readLineage(spark, dir).get.collect()
      .map(_.getAs[String]("part_source")).toSet == Set("007", "2024"))
    assert(Pipeline.readTokens(spark, dir, sources = Seq("7")).collect().isEmpty)
    assert(Pipeline.readTokens(spark, dir, sources = Seq("007")).collect().map(_.doc_id).sorted
      .sameElements(Seq("a", "b")))
    assert(Pipeline.readDocIndex(spark, dir).collect().map(r => r.doc_id -> r.source).sorted
      .sameElements(Seq("a" -> "007", "b" -> "007", "c" -> "2024")))
    Verifier.rmTree(dir)
  }

  test("EncodeJob reads an input partitioned by all-numeric sources as written") {
    import spark.implicits._
    val in = tmpDir() + "/tokens"
    spark.createDataset(Seq(
      TokenRow("a", Array(1, 2), 2, "007"),
      TokenRow("b", Array(3), 1, "2024")))
      .write.partitionBy("source").parquet(in)
    val got = graft.EncodeJob.readInput(spark, in).collect().map(r => r.doc_id -> r.source).sorted
    assert(got.sameElements(Seq("a" -> "007", "b" -> "2024")), got.mkString(", "))
    Verifier.rmTree(in)
  }

  test("an encode of an empty table reads as 0 rows on every path") {
    import spark.implicits._
    val dir = tmpDir()
    val empty = spark.emptyDataset[TokenRow]
    Pipeline.run(spark, empty, dir, tokensPerChunk = 1024, waves = 1)
    def allEmpty(): Unit = {
      assert(Pipeline.readChunks(spark, dir).collect().isEmpty)
      assert(Pipeline.readTokens(spark, dir).collect().isEmpty)
      assert(Pipeline.readLineage(spark, dir).get.collect().isEmpty)
      assert(Pipeline.readDocIndex(spark, dir).collect().isEmpty)
      assert(Pipeline.pointLookupChunkIds(spark, dir, "x").isEmpty)
      assert(Pipeline.readTokensForDocId(spark, dir, "x").collect().isEmpty)
    }
    allEmpty()
    val again = Pipeline.run(spark, empty, dir, tokensPerChunk = 1024, waves = 2)
    assert(again.chunksEncoded == 0 && again.chunksSkipped == 0)
    allEmpty()
    // and a table that starts empty takes real chunks afterwards
    val ds = Fixtures.tokenTable(spark, 50, seed = 37, medianLen = 32, maxLen = 128, partitions = 1)
    Pipeline.run(spark, ds, dir, tokensPerChunk = 16 * 1024, waves = 1)
    assert(Pipeline.readTokens(spark, dir).count() == 50)
    Verifier.rmTree(dir)
  }

  test("a partial compaction target tagged without input versions refuses")(uncoalesced {
    val ds = Fixtures.tokenTable(spark, 100, seed = 41, medianLen = 64, maxLen = 512, partitions = 2)
    val in = tmpDir()
    Pipeline.run(spark, ds, in, tokensPerChunk = 16 * 1024, waves = 1)
    val out = tmpDir() + "/out"
    // a killed compaction of the earlier format: its input split names
    // the input dir without the version of its chunks table
    val (_, killed) = lastWave(Pipeline.readTokens(spark, in), 512, 3, inputSplit = s"compact:$in")
    intercept[Exception](Pipeline.run(spark, Pipeline.readTokens(spark, in), out,
      tokensPerChunk = 512, waves = 3, inputSplit = s"compact:$in",
      failOnChunk = killed.contains))
    val partial = Pipeline.readTokens(spark, out).count()
    assert(partial > 0 && partial < 100, s"the killed run left $partial rows")
    val e = intercept[IllegalArgumentException](
      Pipeline.compact(spark, Seq(in), out, tokensPerChunk = 512, waves = 3))
    assert(e.getMessage.contains("inputs changed"), e.getMessage)
    assert(Pipeline.readTokens(spark, out).count() == partial, "a refused resume writes nothing")
    Verifier.rmTree(in); Verifier.rmTree(out)
  })

  /** A copy of `src`'s chunks table without the token payload column. */
  private def writeWithoutTokens(src: String, dst: String): Unit =
    writeWithout(src, dst, Seq("tokens_enc"))

  private def assertPayloadMissing(dir: String): Unit = {
    import org.apache.spark.sql.AnalysisException
    intercept[AnalysisException](Pipeline.readChunks(spark, dir))
    intercept[AnalysisException](Pipeline.readTokens(spark, dir).collect())
  }

  test("chunks written without the token payload fail loudly, never read as null") {
    val ds = Fixtures.tokenTable(spark, 100, seed = 23, medianLen = 64, maxLen = 512, partitions = 2)
    val good = tmpDir()
    Pipeline.run(spark, ds, good, tokensPerChunk = 16 * 1024, waves = 1)
    val bad = tmpDir()
    writeWithoutTokens(good, bad)
    assertPayloadMissing(bad)
    Verifier.rmTree(good); Verifier.rmTree(bad)
  }

  test("a rewritten chunks table drops its memoized schema") {
    val ds = Fixtures.tokenTable(spark, 100, seed = 29, medianLen = 64, maxLen = 512, partitions = 2)
    val good = tmpDir()
    Pipeline.run(spark, ds, good, tokensPerChunk = 16 * 1024, waves = 1)
    val dir = tmpDir()
    Pipeline.run(spark, ds, dir, tokensPerChunk = 16 * 1024, waves = 1)
    // read once with the full layout: its schema (with tokens_enc) is memoized
    assert(Pipeline.readTokens(spark, dir).count() == 100)
    writeWithoutTokens(good, dir)
    assertPayloadMissing(dir)
    Verifier.rmTree(good); Verifier.rmTree(dir)
  }

  test("compact: overlapping dirs merge deduplicated, independent of input order") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 300, seed = 5, medianLen = 64, maxLen = 512, partitions = 2)
    val a = ds.filter(_.doc_id < "doc_000000000200")   // docs 0-199
    val b = ds.filter(_.doc_id >= "doc_000000000100")  // docs 100-299 (100 overlap)
    val dirA = tmpDir(); val dirB = tmpDir()
    Pipeline.run(spark, a, dirA, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.run(spark, b, dirB, tokensPerChunk = 16 * 1024, waves = 1)

    val out = tmpDir()
    val rpt = Pipeline.compact(spark, Seq(dirA, dirB), out,
      tokensPerChunk = 16 * 1024, waves = 1, verify = true)
    assert(rpt.rowsDropped == 100, s"the 100 overlap duplicates must be SURFACED, got ${rpt.rowsDropped}")
    assert(rpt.rows == 300)
    val dec = Pipeline.readTokens(spark, out).collect()
    assert(dec.length == 300, s"dedup-union must have every doc once, got ${dec.length}")
    // guards: in-place compaction and targets holding a DIFFERENT input
    // set's table refuse loudly (run()'s resume semantics append — they
    // would silently duplicate)
    intercept[IllegalArgumentException](
      Pipeline.compact(spark, Seq(out), out, tokensPerChunk = 16 * 1024))
    intercept[IllegalArgumentException](
      Pipeline.compact(spark, Seq(dirA), out, tokensPerChunk = 16 * 1024))
    // resuming the SAME compaction is the designed wave-checkpoint path:
    // idempotent, nothing re-encoded, accounting unchanged
    val again = Pipeline.compact(spark, Seq(dirA, dirB), out, tokensPerChunk = 16 * 1024, waves = 1)
    assert(again.chunksEncoded == 0, "resume must skip every completed chunk")
    assert(again.rowsDropped == 100, s"metadata accounting must survive resume, got ${again.rowsDropped}")
    assert(Pipeline.readTokens(spark, out).count() == 300)
    val orig = ds.collect().map(r => r.doc_id -> r).toMap
    dec.foreach { r =>
      assert(r.tokens.sameElements(orig(r.doc_id).tokens), s"content mismatch at ${r.doc_id}")
    }
    // pure function of the input SET: reversed dir order yields the
    // identical chunk table (ids, checksums, bounds)
    val out2 = tmpDir()
    Pipeline.compact(spark, Seq(dirB, dirA), out2, tokensPerChunk = 16 * 1024, waves = 1)
    def sig(d: String) = Pipeline.readChunks(spark, d).collect()
      .map(c => (c.chunk_id, c.checksum, c.min_doc_id, c.max_doc_id)).sortBy(_._1).toSeq
    assert(sig(out) == sig(out2), "compaction must not depend on input dir order")
  }

  test("verify is exact under duplicate doc_ids") {
    import spark.implicits._
    // same doc_id twice with identical tokens: a naive doc_id join
    // would cross-multiply and report phantom rows
    val rows = Seq(
      TokenRow("dup", Array(1, 2, 3), 3, "web"),
      TokenRow("dup", Array(1, 2, 3), 3, "web"),
      TokenRow("solo", Array(9, 8), 2, "web"))
    val ds = spark.createDataset(rows)
    val v = Verifier.verify(ds, Encoder.encodeTable(ds, 1 << 20))
    assert(v.ok, s"duplicate doc_ids broke verify: $v")
    assert(v.sourceRows == 3 && v.decodedRows == 3)
    // and a real mismatch is still caught
    val bad = spark.createDataset(Seq(
      TokenRow("dup", Array(1, 2, 3), 3, "web"),
      TokenRow("dup", Array(7, 7, 7), 3, "web"),
      TokenRow("solo", Array(9, 8), 2, "web")))
    val v2 = Verifier.verify(bad, Encoder.encodeTable(ds, 1 << 20))
    assert(!v2.ok && v2.mismatchedRows > 0, s"mismatch not caught: $v2")
  }

  test("decoder detects corrupted payload via checksum") {
    val ds = Fixtures.tokenTable(spark, 50, seed = 6, medianLen = 64, maxLen = 256, partitions = 1)
    import spark.implicits._
    val chunks = Encoder.encodeTable(ds, tokensPerChunk = 1 << 24).collect()
    assert(chunks.nonEmpty)
    val c = chunks.head
    val corrupted = c.copy(checksum = c.checksum ^ 0xdeadbeefL)
    intercept[Decoder.ChecksumMismatch] {
      Decoder.decodeChunk(corrupted).foreach(_ => ())
    }
  }

  test("lineage carries codec choices and exact byte accounting") {
    import spark.implicits._
    val ds = Fixtures.tokenTable(spark, 500, seed = 7, medianLen = 128, maxLen = 1024, partitions = 2)
    val out = tmpDir()
    Pipeline.run(spark, ds, out, tokensPerChunk = 256 * 1024, waves = 1)
    val lin = Pipeline.readLineage(spark, out).get
    val rows = lin.collect()
    assert(rows.forall(_.getAs[String]("status") == "completed"))
    assert(rows.forall(_.getAs[Long]("encoded_bytes") > 0))
    // encoded_bytes in lineage equals the actual payload lengths
    val chunks = Pipeline.readChunks(spark, out).collect()
    val byId = chunks.map(c => c.chunk_id -> c).toMap
    rows.foreach { r =>
      val c = byId(r.getAs[Long]("chunk_id"))
      val actual = c.tokens_enc.length.toLong + c.lengths_enc.length +
        c.doc_ids_enc.length + c.sources_enc.length
      assert(r.getAs[Long]("encoded_bytes") == actual)
      assert(r.getAs[Long]("token_count") == c.n_tokens)
    }
  }
}
