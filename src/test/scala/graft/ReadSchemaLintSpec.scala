package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every parquet read in the program passes a schema, so no
  * read starts a schema-inference job. A read whose schema the caller
  * does not spell out goes through `graft.engine.Tables.read`, which
  * infers once per table version per session.
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

  test("the lint flags a read without a schema and passes one with it") {
    assert(bareReads("""val a = spark.read.parquet(p)""") == Seq(1))
    assert(bareReads("x\nspark.read\n  .option(\"k\", f(1))\n  .parquet(p)") == Seq(2))
    assert(bareReads("""spark.read.schema(s).parquet(p)""").isEmpty)
    assert(bareReads("spark.read\n  .schema(Encoders.product[T].schema)\n  .parquet(p)").isEmpty)
    assert(bareReads("""in.read(buf, 0, n); df.write.parquet(p)""").isEmpty)
  }

  test("no parquet read under src/main/scala/graft infers its schema") {
    assert(Files.isDirectory(root), s"sources not found at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      f <- files
      rel = root.relativize(f).toString
      if !exempt(rel)
      line <- bareReads(new String(Files.readAllBytes(f), "UTF-8"))
    } yield s"$rel:$line"
    assert(hits.isEmpty,
      s"spark.read.parquet without a schema (read through graft.engine.Tables.read): ${hits.mkString(", ")}")
  }
}
