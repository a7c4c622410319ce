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
  * prefixes, both must name the same chunk-id set.
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

  override def afterAll(): Unit = {
    Verifier.rmTree(dir)
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
    val d = Files.createTempDirectory("graft-index-probe").toString
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
}
