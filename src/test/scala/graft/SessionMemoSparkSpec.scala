package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.engine.{Fixtures, Pipeline, SessionMemo, Verifier}

/** The session memos against a live Spark session: what a release frees,
  * and what a hit costs.
  */
class SessionMemoSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-session-memo-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  override def afterAll(): Unit = spark.stop()

  private def checkpointRddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  private def jobsOf(body: => Unit): Int = SparkJobs.jobsOf(spark)(body)

  test("q64: regenerating the corpus releases the evicted components checkpoint") {
    val dir = Files.createTempDirectory("graft-memo-q64").toString
    def regenerate(): Unit = spark.read.parquet(s"$sf/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q64 = SparkEntry.queries("q64_neardup_clusters")
    regenerate()
    val first = q64(spark, dir)
    val ids = checkpointRddIds(first)
    assert(ids.nonEmpty, "q64 reads the localCheckpoint-backed labeling")
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    val rows = first.collect().toSeq
    regenerate()
    val second = q64(spark, dir)
    val persistent = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.forall(id => !persistent.contains(id)),
      s"evicted checkpoint RDDs still persisted: ${ids.filter(persistent.contains)}")
    assert(second.collect().toSeq == rows, "same corpus, same clusters")
    Verifier.rmTree(dir)
  }

  test("a second docIndexIsFresh on an unchanged directory submits no job") {
    val local = Files.createTempDirectory("graft-memo-fp").toString
    Pipeline.run(spark, Fixtures.tokenTable(spark, 400, seed = 3, partitions = 2),
      local, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.buildDocIndex(spark, local)
    // the same directory by plain path and by qualified URI
    Seq(local, s"file:$local").foreach { dir =>
      assert(Pipeline.docIndexIsFresh(spark, dir))
      val jobs = jobsOf(assert(Pipeline.docIndexIsFresh(spark, dir)))
      assert(jobs == 0, s"$dir: repeat freshness check submitted $jobs job(s)")
    }
    Verifier.rmTree(local)
  }

  test("building the doc index of a newly encoded table submits at most 6 jobs") {
    val dir = Files.createTempDirectory("graft-memo-build").toString
    Pipeline.run(spark, Fixtures.tokenTable(spark, 400, seed = 4, partitions = 2),
      dir, tokensPerChunk = 16 * 1024, waves = 1)
    val jobs = jobsOf(Pipeline.buildDocIndex(spark, dir))
    assert(jobs <= 6, s"buildDocIndex on $dir submitted $jobs job(s)")
    assert(Pipeline.docIndexIsFresh(spark, dir))
    Verifier.rmTree(dir)
  }

  /** An encoded, doc-indexed table of 400 docs in a fresh directory. */
  private def indexedTable(): String = {
    val dir = Files.createTempDirectory("graft-memo-jobs").toString
    Pipeline.run(spark, Fixtures.tokenTable(spark, 400, seed = 5, partitions = 2),
      dir, tokensPerChunk = 16 * 1024, waves = 1)
    Pipeline.buildDocIndex(spark, dir)
    dir
  }

  /** Asserts `body` submits `expected` jobs once warmed by a first run. */
  private def assertWarmJobs(what: String, expected: Int)(body: => Unit): Unit = {
    body
    val jobs = jobsOf(body)
    assert(jobs == expected, s"$what: submitted $jobs job(s), expected $expected")
  }

  test("an indexed point lookup submits no job: the driver fetches it") {
    val dir = indexedTable()
    val docId = Pipeline.readTokens(spark, dir).first().doc_id
    assertWarmJobs(s"readTokensForDocId on $dir", 0)(
      assert(Pipeline.readTokensForDocId(spark, dir, docId).collect().length == 1))
    Verifier.rmTree(dir)
  }

  test("an indexed miss submits no job") {
    val dir = indexedTable()
    val docId = Pipeline.readTokens(spark, dir).first().doc_id + "x"
    assertWarmJobs(s"readTokensForDocId($docId) on $dir", 0)(
      assert(Pipeline.readTokensForDocId(spark, dir, docId).collect().isEmpty))
    Verifier.rmTree(dir)
  }

  /** The most candidate chunks a lookup fetches on the driver. */
  private val driverChunks = 8

  /** Each ten-doc id family of the table (the ids less their last
    * digit) with its candidate chunk count.
    */
  private def prefixes(dir: String): Seq[(String, Int)] =
    Pipeline.readTokens(spark, dir).collect().map(_.doc_id.dropRight(1)).distinct.sorted.toSeq
      .map(p => p -> Pipeline.lookupChunkIdsForRange(spark, dir, p, Pipeline.prefixSuccessor(p)).length)

  test("a narrow indexed prefix lookup submits no job: the driver fetches it") {
    val dir = indexedTable()
    val docIds = Pipeline.readTokens(spark, dir).collect().map(_.doc_id)
    val (prefix, _) = prefixes(dir).find(_._2 <= driverChunks).get
    assertWarmJobs(s"readTokensForDocIdPrefix($prefix) on $dir", 0)(
      assert(Pipeline.readTokensForDocIdPrefix(spark, dir, prefix).collect().length ==
        docIds.count(_.startsWith(prefix))))
    Verifier.rmTree(dir)
  }

  test("an indexed lookup over the driver's chunk cap submits 1 job: the Spark fetch") {
    val dir = indexedTable()
    val docIds = Pipeline.readTokens(spark, dir).collect().map(_.doc_id)
    val (prefix, n) = prefixes(dir).find(_._2 > driverChunks).get
    info(s"$prefix: $n candidate chunks")
    assertWarmJobs(s"readTokensForDocIdPrefix($prefix) on $dir", 1)(
      assert(Pipeline.readTokensForDocIdPrefix(spark, dir, prefix).collect().length ==
        docIds.count(_.startsWith(prefix))))
    val keys = docIds.filter(_.startsWith(prefix)).toSeq
    assertWarmJobs(s"readTokensForDocIds(${keys.length} keys) on $dir", 1)(
      assert(Pipeline.readTokensForDocIds(spark, dir, keys).collect().length == keys.length))
    Verifier.rmTree(dir)
  }

  test("a full-scan count submits 2 jobs: no schema inference") {
    val dir = indexedTable()
    assertWarmJobs(s"readTokens count on $dir", 2)(
      assert(Pipeline.readTokens(spark, dir).count() == 400))
    Verifier.rmTree(dir)
  }

  test("Chunker.chunked submits 2 jobs: one per sizing pre-pass") {
    val ds = Fixtures.tokenTable(spark, 400, seed = 8, partitions = 2)
    val jobs = jobsOf(graft.engine.Chunker.chunked(ds, tokensPerChunk = 4 * 1024))
    assert(jobs == 2, s"planning a chunk assignment submitted $jobs job(s)")
  }

  /** Spark jobs of one `Pipeline.run` of `ds` into `dir`, with its report. */
  private def runJobs(ds: org.apache.spark.sql.Dataset[graft.engine.TokenRow], dir: String,
      split: String): (Int, Pipeline.EncodeReport) = {
    var report: Pipeline.EncodeReport = null
    val jobs = jobsOf {
      report = Pipeline.run(spark, ds, dir, tokensPerChunk = 16 * 1024, waves = 1, inputSplit = split)
    }
    (jobs, report)
  }

  test("a resume with nothing to encode reads its split's ids once: 5 jobs") {
    val dir = Files.createTempDirectory("graft-memo-resume").toString
    val ds = Fixtures.tokenTable(spark, 400, seed = 6, partitions = 2)
    Pipeline.run(spark, ds, dir, tokensPerChunk = 16 * 1024, waves = 1)
    val written = Pipeline.readChunks(spark, dir).count()
    val (jobs, report) = runJobs(ds, dir, "")
    assert(report.chunksEncoded == 0 && report.chunksSkipped == written, report)
    // the two Chunker pre-passes (1 job each), the ledger read (1) and
    // the empty wave write (2)
    assert(jobs == 5, s"a resume with nothing to encode submitted $jobs job(s)")
    Verifier.rmTree(dir)
  }

  test("a new split into a table holding other splits submits 6 jobs") {
    val dir = Files.createTempDirectory("graft-memo-split").toString
    Seq("a", "b").zipWithIndex.foreach { case (split, i) =>
      Pipeline.run(spark, Fixtures.tokenTable(spark, 200, seed = 10 + i, partitions = 2), dir,
        tokensPerChunk = 16 * 1024, waves = 1, inputSplit = split)
    }
    val (jobs, report) = runJobs(Fixtures.tokenTable(spark, 200, seed = 12, partitions = 2), dir, "c")
    assert(report.chunksSkipped == 0 && report.rows == 200, report)
    // as a resume, plus one schema inference of the new table version;
    // the wave write plans no ledger filter
    assert(jobs == 6, s"a new split submitted $jobs job(s)")
    Verifier.rmTree(dir)
  }

  test("a fresh 4-wave encode submits 7 jobs: one encode shuffle for every wave") {
    val dir = Files.createTempDirectory("graft-memo-waves").toString
    var report: Pipeline.EncodeReport = null
    val jobs = jobsOf {
      report = Pipeline.run(spark, Fixtures.tokenTable(spark, 400, seed = 7, partitions = 2), dir,
        tokensPerChunk = 16 * 1024, waves = 4)
    }
    assert(report.wavesRun == 4 && report.rows == 400, report)
    // the two Chunker pre-passes (1 job each), the encode shuffle's map
    // stage (1) and one write per wave (4), an empty wave's too
    assert(jobs == 7, s"a fresh 4-wave encode submitted $jobs job(s)")
    Verifier.rmTree(dir)
  }

  test("a compaction of two overlapping inputs submits 10 jobs, its resume 10") {
    val ds = Fixtures.tokenTable(spark, 300, seed = 5, medianLen = 64, maxLen = 512, partitions = 2)
    val inputs = Seq(
      ds.filter(_.doc_id < "doc_000000000200"),   // docs 0-199
      ds.filter(_.doc_id >= "doc_000000000100")   // docs 100-299 (100 shared)
    ).map { part =>
      val dir = Files.createTempDirectory("graft-memo-compact-in").toString
      Pipeline.run(spark, part, dir, tokensPerChunk = 16 * 1024, waves = 1)
      dir
    }
    val out = Files.createTempDirectory("graft-memo-compact").toString + "/out"
    def compact(): (Int, Pipeline.EncodeReport) = {
      var report: Pipeline.EncodeReport = null
      val jobs = jobsOf {
        report = Pipeline.compact(spark, inputs, out, tokensPerChunk = 16 * 1024, waves = 1)
      }
      (jobs, report)
    }
    val (fresh, first) = compact()
    assert(first.rows == 300 && first.rowsDropped == 100, first)
    val (resumed, again) = compact()
    assert(again.chunksEncoded == 0 && again.rowsDropped == 100, again)
    // fresh: the inputs' schema checks (2), the doc table's grouping
    // shuffle, its cache and its counts (3), the Chunker pre-passes (1
    // job each), the dedup and encode shuffles and the wave write (3).
    // A resume finds the inputs' schemas memoized, checks the target's
    // (1), and adds one read of the target's (chunk_id, input_split),
    // which serves both the target check and the ledger (1)
    assert(fresh == 10, s"a fresh compaction submitted $fresh job(s)")
    assert(resumed == 10, s"a resumed compaction submitted $resumed job(s)")
    (inputs :+ out).foreach(Verifier.rmTree)
  }

  test("defining a fixture table again on an unchanged file submits no job") {
    assertWarmJobs(s"SparkEntry.t documents on $sf", 0)(
      SparkEntry.t(spark, sf, "documents"))
  }

  // runs last: it stops the suite's session. A raw unpersist of a
  // stopped session's persisted Dataset or checkpoint RDD throws (its
  // block manager endpoint is gone), which would fail the next lookup
  // of whichever memo holds it.
  test("releasing a stopped session's Dataset does nothing") {
    val ds = spark.range(10).toDF().localCheckpoint().persist()
    ds.count()
    spark.stop()
    SessionMemo.unpersist(ds)
  }
}
