package graft.engine

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, max, min}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.codec.PropCheck.forAll

/** The driver-side doc-index probe against a Spark filter over the same
  * index ([[Pipeline.readIndexTable]]): for exact keys, ranges and
  * prefixes, both must name the same chunk-id set. And the driver fetch
  * of the chunks it names against the Spark fetch of the same chunks:
  * both must return the same rows.
  */
class IndexProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-index-probe-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft-index-probe").toString
    dirs += d
    d
  }

  override def afterAll(): Unit = {
    dirs.foreach(Verifier.rmTree)
    spark.stop()
  }

  private def cp(c: Int) = new String(Character.toChars(c))

  /** Doc-id characters around every UTF-8/UTF-16 order boundary: ASCII,
    * the last code point before the surrogate block and the first after
    * it, the BMP maximum, supplementary characters and U+10FFFF.
    */
  private val alphabet =
    Seq("0", "5", "a", "z", "\u007f", "\u00e9", "\ud7ff", "\ue000", "\uffff") ++
      Seq(0x10000, 0x1F600, 0x10FFFF).map(cp)

  private val genId: Gen[String] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet))).map(_.mkString)

  /** 600 distinct doc ids over [[alphabet]], encoded into many small
    * chunks.
    */
  private lazy val (dir, docIds) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val ids = Iterator.continually(Seq.fill(1 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      .distinct.take(600).toVector
    val rows = ids.zipWithIndex.map { case (id, i) => TokenRow(id, Array(i, i + 1, i + 2), 3, s"s${i % 2}") }
    val d = tmpDir()
    Pipeline.run(spark, rows.toDS().repartition(2), d, tokensPerChunk = 128, waves = 1)
    (d, ids)
  }

  private def index = Pipeline.readIndexTable(spark, dir)

  /** Each index file's [min, max] doc_id, as Spark sees them. */
  private def fenceKeys: Seq[String] =
    index.groupBy(input_file_name()).agg(min("doc_id"), max("doc_id")).collect()
      .toSeq.flatMap(r => Seq(r.getString(1), r.getString(2)))

  private def viaSpark(filter: Column): Set[Long] =
    index.filter(filter).select("chunk_id").distinct().collect().map(_.getLong(0)).toSet

  /** Every key shape the probe must get right: a doc id, a fence end, an
    * id that may not exist, and keys below or above every fence.
    */
  private def genKey(fences: Seq[String]): Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(docIds), 2 -> Gen.oneOf(fences), 3 -> genId,
    1 -> Gen.oneOf("", "\u0000", cp(0x10FFFF) * 5))

  /** The first `n` code points of `s`: never half a surrogate pair. */
  private def codePoints(s: String, n: Int): String = {
    val cps = s.codePoints().toArray.take(n)
    new String(cps, 0, cps.length)
  }

  /** The probe and the Spark filter agree on `n` key sets of each kind. */
  private def agree(n: Int): Unit = {
    assert(Pipeline.docIndexIsFresh(spark, dir))
    val fences = fenceKeys
    val key = genKey(fences)
    forAll(Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, key)), n) { keys =>
      val probed = Pipeline.lookupChunkIdsViaIndex(spark, dir, keys).get.toSet
      assert(probed == viaSpark(col("doc_id").isin(keys: _*)), s"Ids($keys)")
    }
    forAll(Gen.zip(key, Gen.option(key)), n) { case (lo, hi) =>
      val probed = Pipeline.lookupChunkIdsForRange(spark, dir, lo, hi).toSet
      val range = hi.foldLeft(col("doc_id") >= lo)((p, h) => p && col("doc_id") < h)
      assert(probed == viaSpark(range), s"Range($lo, $hi)")
    }
    forAll(Gen.zip(key, Gen.choose(1, 2)).map { case (k, n) => codePoints(k, n) }, n) { p =>
      val probed = Pipeline.lookupChunkIdsForRange(spark, dir, p, Pipeline.prefixSuccessor(p)).toSet
      assert(probed == viaSpark(col("doc_id").startsWith(p)), s"prefix $p")
    }
  }

  private def dataFiles: Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(Pipeline.docIndexPath(dir))
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
  }

  test("the driver probe names the same chunks as a Spark filter over the index") {
    Pipeline.buildDocIndex(spark, dir, indexFiles = 4)
    agree(40)
  }

  test("an index rebuilt with another file count in the same session") {
    Pipeline.buildDocIndex(spark, dir, indexFiles = 4)
    agree(5)
    val before = dataFiles.length
    Pipeline.buildDocIndex(spark, dir, indexFiles = 7)
    assert(dataFiles.length != before, s"rebuild kept $before files")
    agree(30)
  }

  test("an index file without doc_id statistics is always read") {
    Pipeline.buildDocIndex(spark, dir, indexFiles = 4)
    val pivot = docIds.sorted(Utf8Order).apply(300)
    val stagingRoot = Files.createTempDirectory("graft-index-nostats").toString
    val staging = s"$stagingRoot/doc_index"
    // the upper half, where UTF-8 and UTF-16 order disagree, is one
    // file of many row groups, so its fence is the least and greatest
    // of several row-group bounds; the lower half has no doc_id stats
    index.filter(col("doc_id") >= pivot).repartition(1)
      .sortWithinPartitions("doc_id").write.option("parquet.block.size", "1")
      .option("parquet.page.size.row.check.min", "10")
      .option("parquet.page.size.row.check.max", "10").parquet(staging)
    index.filter(col("doc_id") < pivot).repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions("doc_id").write.mode("append")
      .option("parquet.column.statistics.enabled#doc_id", "false").parquet(staging)
    val target = Pipeline.docIndexPath(dir)
    // the hand-built index keeps the built-from marker of the one it
    // replaces: it holds the same rows, built from the same chunks
    Files.move(java.nio.file.Paths.get(target, IndexProbe.BuiltFrom),
      java.nio.file.Paths.get(staging, IndexProbe.BuiltFrom))
    Verifier.rmTree(target)
    Files.move(java.nio.file.Paths.get(staging), java.nio.file.Paths.get(target))
    Verifier.rmTree(stagingRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = dataFiles.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    }
    val withStats = footers.map(_.forall(_.getColumns.asScala
      .find(_.getPath.toDotString == "doc_id").flatMap(c => Option(c.getStatistics))
      .exists(_.hasNonNullValue)))
    assert(withStats.contains(true) && withStats.contains(false), s"files with stats: $withStats")
    assert(footers.exists(_.length > 1), s"row groups per file: ${footers.map(_.length)}")
    agree(30)
  }

  private def bag(rows: Seq[TokenRow]): Map[(String, String, Int, Seq[Int]), Int] =
    rows.groupMapReduce(r => (r.doc_id, r.source, r.n_tok, r.tokens.toSeq))(_ => 1)(_ + _)

  /** [[docIds]] in three sources, where every tenth id comes back once
    * more as the identical row (the chunk that holds it holds both
    * copies) and every tenth, shifted by five, in the next source with
    * other tokens (another chunk holds it).
    */
  private lazy val repeatedRows: Seq[TokenRow] = {
    val base = docIds.zipWithIndex.map { case (id, i) =>
      TokenRow(id, Array.tabulate(1 + i % 5)(j => i * 5 + j), 1 + i % 5, s"w${i % 3}")
    }
    base ++ base.indices.collect {
      case i if i % 10 == 0 => base(i)
      case i if i % 10 == 5 => base(i).copy(source = s"w${(i + 1) % 3}", tokens = base(i).tokens.map(_ + 1))
    }
  }

  /** `rows` encoded over three waves into many small chunks, indexed. */
  private def indexedTable(rows: Seq[TokenRow]): String = {
    import spark.implicits._
    val d = tmpDir()
    Pipeline.run(spark, rows.toDS().repartition(3), d, tokensPerChunk = 96, waves = 3)
    Pipeline.buildDocIndex(spark, d, indexFiles = 3)
    d
  }

  private lazy val multiWave = indexedTable(repeatedRows)

  /** Key sets of each shape over the ids of [[repeatedRows]]: 1-5 ids
    * (a repeated, absent or edge-code-point id among them), a range and
    * a prefix of one or two code points.
    */
  private def keyShapes: Seq[(String, Gen[Pipeline.DocKeys])] = {
    val key = Gen.frequency(3 -> Gen.oneOf(docIds), 1 -> genId)
    Seq(
      "Ids" -> Gen.choose(1, 5).flatMap(k => Gen.listOfN(k, key)).map(Pipeline.DocKeys.Ids(_)),
      "Range" -> Gen.zip(key, Gen.option(key)).map { case (lo, hi) => Pipeline.DocKeys.Range(lo, hi) },
      "prefix" -> Gen.zip(key, Gen.choose(1, 2)).map { case (k, n) =>
        val p = codePoints(k, n)
        Pipeline.DocKeys.Range(p, Pipeline.prefixSuccessor(p))
      })
  }

  test("the driver fetch returns the rows the Spark fetch returns, for any chunks it may fetch") {
    val index = IndexProbe.at(spark, Pipeline.docIndexPath(multiWave)).get
    assert(Pipeline.docIndexIsFresh(spark, multiWave))
    var fetched = 0
    keyShapes.foreach { case (shape, gen) =>
      forAll(Gen.zip(gen, Gen.long), 25) { case (keys, seed) =>
        val all = IndexProbe.candidates(spark, index, keys.fenceAdmits, keys.indexRows)
        // any few of the candidates: a fetch returns their chunks' rows
        // and no other chunk's, whatever else their row groups hold
        val rnd = new scala.util.Random(seed)
        val some = rnd.shuffle(all).take(1 + rnd.nextInt(IndexProbe.MaxChunks))
        val driver = IndexProbe.fetch(spark, some, keys.matches)
        assert(driver.isDefined, s"$shape $keys: ${some.length} chunks over a cap")
        val viaSpark = Pipeline.fetchAndDecode(spark, multiWave, some.map(_.chunkId), keys).collect()
        assert(bag(driver.get) == bag(viaSpark.toSeq), s"$shape $keys over ${some.map(_.chunkId)}")
        if (driver.get.nonEmpty) fetched += 1
        if (all.length > IndexProbe.MaxChunks)
          assert(IndexProbe.fetch(spark, all, keys.matches).isEmpty, s"$shape $keys: ${all.length} chunks")
      }
    }
    assert(fetched > 20, s"only $fetched key sets fetched a row")
  }

  test("every doc-id read shape returns the rows a full scan holds, driver-fetched or not") {
    val rows = repeatedRows
    keyShapes.foreach { case (shape, gen) =>
      forAll(gen, 15) { keys =>
        val got = keys match {
          case Pipeline.DocKeys.Ids(ids) => Pipeline.readTokensForDocIds(spark, multiWave, ids)
          case Pipeline.DocKeys.Range(lo, hi) => Pipeline.readTokensForDocIdRange(spark, multiWave, lo, hi)
        }
        assert(bag(got.collect().toSeq) == bag(rows.filter(r => keys.matches(r.doc_id))), s"$shape $keys")
      }
    }
  }

  test("a compacted table under a stale index falls back and returns the compacted rows") {
    val table = indexedTable(repeatedRows)
    val compacted = tmpDir()
    Pipeline.compact(spark, Seq(table), s"$compacted/out")
    // the compacted chunks replace the indexed ones: the index, and
    // every locator in it, is now stale
    Verifier.rmTree(Pipeline.chunksPath(table))
    Files.move(java.nio.file.Paths.get(Pipeline.chunksPath(s"$compacted/out")),
      java.nio.file.Paths.get(Pipeline.chunksPath(table)))
    assert(!Pipeline.docIndexIsFresh(spark, table))
    val rows = Pipeline.readTokens(spark, table).collect().toSeq
    assert(rows.length < repeatedRows.length, "compaction keeps one copy of a repeated doc id")
    keyShapes.foreach { case (shape, gen) =>
      forAll(gen, 10) { keys =>
        val got = keys match {
          case Pipeline.DocKeys.Ids(ids) => Pipeline.readTokensForDocIds(spark, table, ids)
          case Pipeline.DocKeys.Range(lo, hi) => Pipeline.readTokensForDocIdRange(spark, table, lo, hi)
        }
        assert(bag(got.collect().toSeq) == bag(rows.filter(r => keys.matches(r.doc_id))), s"$shape $keys")
      }
    }
  }

  test("chunk locators survive partition values that need escaping in a path or a URI") {
    import spark.implicits._
    def rowsOf(sources: Seq[String]) = for ((src, s) <- sources.zipWithIndex; i <- 0 until 12)
      yield TokenRow(s"d$s-$i", Array.tabulate(2 + i % 3)(j => s * 100 + i * 3 + j), 2 + i % 3, src)
    val escaped = Seq("a b", "50%", "k=v", "#1", "say \"hi\"", "007")
    // "café" names a partition directory only in a JVM whose file-name
    // charset can encode it; any other JVM (an ASCII locale) refuses
    // the source before a wave writes
    val cafe = "caf\u00e9"
    val fileNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val nameable = fileNames.newEncoder().canEncode(cafe)
    if (!nameable) {
      val refused = tmpDir()
      val e = intercept[IllegalArgumentException](Pipeline.run(spark,
        rowsOf(escaped :+ cafe).toDS().repartition(2), refused, tokensPerChunk = 16, waves = 3))
      assert(e.getMessage.contains(cafe) && e.getMessage.contains(fileNames.name), e.getMessage)
      assert(!Files.exists(java.nio.file.Paths.get(Pipeline.chunksPath(refused))), "a refused encode writes nothing")
    }
    val sources = if (nameable) escaped :+ cafe else escaped
    val rows = rowsOf(sources)
    val d = tmpDir()
    Pipeline.run(spark, rows.toDS().repartition(2), d, tokensPerChunk = 16, waves = 3)
    Pipeline.buildDocIndex(spark, d)
    assert(Pipeline.readChunks(spark, d).map(_.part_source).distinct().collect().toSet == sources.toSet)
    val ids = rows.map(_.doc_id)
    val scan = bag(Pipeline.readTokens(spark, d).collect().toSeq)
    assert(scan == bag(rows))
    val viaSpark = Pipeline.readTokensForChunkIds(spark, d, Pipeline.lookupChunkIdsViaIndex(spark, d, ids).get, ids)
    assert(bag(viaSpark.collect().toSeq) == scan)
    var driver = Seq.empty[TokenRow]
    val jobs = graft.SparkJobs.jobsOf(spark)(
      ids.foreach(id => driver ++= Pipeline.readTokensForDocId(spark, d, id).collect()))
    assert(jobs == 0, s"driver fetches submitted $jobs job(s)")
    assert(bag(driver) == scan)
  }
}
