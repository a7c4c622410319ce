package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every parquet read in the program passes a schema, so no
  * read starts a schema-inference job. A read whose schema the caller
  * does not spell out goes through `graft.engine.Tables.read`, which
  * infers once per table version per session. The one read outside
  * Spark, parquet-mr's readers on the driver, is the doc-index probe.
  */
class ReadSchemaLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** The helper itself, and the harness instruments that time their own
    * reads.
    */
  private val exempt = Set("engine/Tables.scala", "Bench.scala", "BenchExtra.scala", "Verify.scala")

  /** A `.read` call chain ending in `.parquet(`: group 1 holds the calls
    * between the two (each with arguments nested at most one level).
    */
  private val readChain =
    """\.read((?:\s*\.(?!parquet\()\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\(""".r

  /** Line numbers of the inferring reads in `src`. */
  private def bareReads(src: String): Seq[Int] =
    readChain.findAllMatchIn(src).filterNot(_.group(1).contains(".schema(")).map { m =>
      src.substring(0, m.start).count(_ == '\n') + 1
    }.toSeq

  /** A read of the chunks table: a `.read` call chain, or a
    * `Tables.read`, whose path argument calls `chunksPath(`.
    */
  private val chunksRead =
    """(?:\.read\b(?:\s*\.(?!parquet\()\w+\((?:[^()]|\([^()]*\))*\))*\s*\.parquet|Tables\.read)\((?:[^()]|\([^()]*\))*?chunksPath\(""".r

  /** The enclosing `def` of each chunks-table read in `src`. */
  private def chunksReads(src: String): Seq[String] =
    chunksRead.findAllMatchIn(src).map { m =>
      val d = src.lastIndexOf("def ", m.start)
      if (d < 0) "" else src.substring(d + 4).takeWhile(c => c.isLetterOrDigit || c == '_')
    }.toSeq

  /** A parquet-mr reader: `ParquetFileReader` or `ParquetReader`. */
  private val parquetMrReader = """\bParquet(?:File)?Reader\b""".r

  private def sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"sources not found at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
  }

  test("the lint flags a read without a schema and passes one with it") {
    assert(bareReads("""val a = spark.read.parquet(p)""") == Seq(1))
    assert(bareReads("x\nspark.read\n  .option(\"k\", f(1))\n  .parquet(p)") == Seq(2))
    assert(bareReads("""spark.read.schema(s).parquet(p)""").isEmpty)
    assert(bareReads("spark.read\n  .schema(Encoders.product[T].schema)\n  .parquet(p)").isEmpty)
    assert(bareReads("""in.read(buf, 0, n); df.write.parquet(p)""").isEmpty)
  }

  test("no parquet read under src/main/scala/graft infers its schema") {
    val hits = for {
      (rel, src) <- sources
      if !exempt(rel)
      line <- bareReads(src)
    } yield s"$rel:$line"
    assert(hits.isEmpty,
      s"spark.read.parquet without a schema (read through graft.engine.Tables.read): ${hits.mkString(", ")}")
  }

  test("the chunks lint finds every read of chunksPath and no write") {
    assert(chunksReads("def a = spark.read.schema(s).parquet(chunksPath(d))") == Seq("a"))
    assert(chunksReads("def b = spark.read\n  .schema(s)\n  .parquet(Pipeline.chunksPath(d))") == Seq("b"))
    assert(chunksReads("def c = Tables.read(spark, chunksPath(outDir))") == Seq("c"))
    assert(chunksReads("def d = Tables.read(spark, chunksPath(o), layout)") == Seq("d"))
    assert(chunksReads("df.write.partitionBy(\"w\").parquet(chunksPath(d))").isEmpty)
    assert(chunksReads("Tables.read(spark, docIndexPath(o), l); x.readChunks(s, chunksPath(o))").isEmpty)
  }

  test("the chunks table is read in one place: Pipeline.chunksTable") {
    val hits = for {
      (rel, src) <- sources
      d <- chunksReads(src)
    } yield s"$rel:$d"
    assert(hits == Seq("engine/Pipeline.scala:chunksTable"),
      s"chunks-table reads outside Pipeline.chunksTable (build on it instead): ${hits.mkString(", ")}")
  }

  test("the parquet-mr lint finds both readers and no Spark reader") {
    assert(parquetMrReader.findFirstIn("ParquetFileReader.open(f)").nonEmpty)
    assert(parquetMrReader.findFirstIn("val r = ParquetReader.builder(s, p)").nonEmpty)
    assert(parquetMrReader.findFirstIn("VectorizedParquetRecordReader; ParquetReadSupport").isEmpty)
  }

  test("parquet-mr readers appear only in engine/IndexProbe.scala") {
    val hits = sources.collect { case (rel, src) if parquetMrReader.findFirstIn(src).nonEmpty => rel }
    assert(hits == Seq("engine/IndexProbe.scala"),
      s"parquet-mr readers outside the doc-index probe (read through Tables.read): ${hits.mkString(", ")}")
  }
}
