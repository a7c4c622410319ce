package graft

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import graft.engine.{Admission, Chunker, Pipeline, Quota, ResourceExhausted, Tables, TokenRow, Verifier}
import graft.BenchEmit.{jstr, num}

/** spark-submit entry point for the production encode job.
  *
  * {{{
  * spark-submit --class graft.EncodeJob graft.jar \
  *   input=<token-table-path> out=<output-dir> \
  *   [tokensPerChunk=4194304] [waves=16] [verify=true] [inputSplit=<tag>]
  *
  * // consumer read paths over an existing encoded table:
  * spark-submit ... mode=lookup out=<output-dir> doc=<id[,id2,...]>
  *   // point decode, one or many keys; uses the doc-sorted index when
  *   // fresh (mode=buildindex), else the stat+bloom metadata ladder
  * spark-submit ... mode=index  out=<output-dir>               // token-payload-free doc index
  * spark-submit ... mode=buildindex out=<output-dir>           // build the doc-sorted lookup index
  * spark-submit ... mode=compact in=<dir1,dir2,...> out=<NEW-dir> \
  *   [tokensPerChunk=4194304] [waves=16] [verify=true]
  *   // fold several encoded tables (streaming micro-batch
  *   // accumulations, backfills) into one deduplicated table —
  *   // re-running it resumes its own partial output; it refuses an
  *   // in-place target, a target holding any other table, and a
  *   // resume whose inputs changed since the partial run
  * spark-submit ... mode=read   out=<output-dir> \
  *   [sources=src1,src2] [maxRows=N] [maxTokens=N] [maxBytes=N] [sink=<path>]
  *   // admission-controlled bulk decode: cost pre-flighted from chunk
  *   // metadata; an over-budget read is REFUSED (exit 3, refusal JSON)
  *   // before any payload is decoded. 0 = unlimited. With sink= the
  *   // admitted rows are decoded and written there; without it the
  *   // metadata-grade admission report is the output (no payload I/O).
  * }}}
  *
  * Reads the token table (doc_id, tokens, n_tok, source), runs the
  * resumable chunk-encode pipeline ([[graft.engine.Pipeline.run]]),
  * optionally round-trip-verifies, and prints one JSON report line.
  * Re-running the same command after a failure resumes: the chunk ids
  * its input split already wrote are read from the chunks table and
  * filtered out of the plan (the table is the only ledger; each wave
  * commits atomically, so nothing is re-encoded or duplicated).
  *
  * No master/parallelism is set here — spark-submit owns cluster
  * sizing (the north rule's N vs 4N executors); the job's explicit
  * chunk partitioning + AQE do the rest.
  */
object EncodeJob {
  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    opts.getOrElse("mode", "encode") match {
      case "lookup" => return readMode(opts, lookup = true)
      case "index" => return readMode(opts, lookup = false)
      case "buildindex" => return buildIndexMode(opts)
      case "read" => return readBulkMode(opts)
      case "compact" => return compactMode(opts)
      case "encode" => ()
      case m => throw new IllegalArgumentException(s"unknown mode=$m")
    }
    val input = opts("input")
    val out = opts("out")
    val tokensPerChunk = opts.getOrElse("tokensPerChunk",
      Chunker.DefaultTokensPerChunk.toString).toLong
    val waves = opts.getOrElse("waves", "16").toInt
    val doVerify = opts.getOrElse("verify", "true").toBoolean
    val inputSplit = opts.getOrElse("inputSplit", input)

    val spark = SparkSession.builder()
      .appName("graft-encode")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ds = readInput(spark, input)
    val t0 = System.nanoTime()
    val report = Pipeline.run(spark, ds, out, tokensPerChunk, waves, inputSplit)
    val encodeSecs = (System.nanoTime() - t0) / 1e9

    val verifyJson = if (doVerify) {
      val v = Verifier.verify(ds, Pipeline.readChunks(spark, out))
      require(v.ok, s"round-trip verification FAILED: $v")
      s""","verify":{"ok":true,"rows":${v.sourceRows},"tokens":${v.sourceTokens}}"""
    } else ""

    println(
      s"""{"job":"graft-encode","input":${jstr(input)},"out":${jstr(out)},""" +
        s""""chunksEncoded":${report.chunksEncoded},"chunksSkipped":${report.chunksSkipped},""" +
        s""""rows":${report.rows},"tokens":${report.tokens},""" +
        s""""rawBytes":${report.rawBytes},"encodedBytes":${report.encodedBytes},""" +
        s""""encodeSecs":${num(encodeSecs, 2)}$verifyJson}""")
    spark.stop()
  }

  /** The input token table, read with the [[TokenRow]] layout: a
    * missing column fails loudly, and a table partitioned by `source`
    * keeps each source string as written (`source=007` stays "007").
    */
  def readInput(spark: SparkSession, input: String): Dataset[TokenRow] =
    Tables.read(spark, input, Encoders.product[TokenRow])

  /** Admission-controlled bulk decode (mode=read): the decode's cost is
    * pre-flighted from chunk metadata and reserved against the given
    * budgets; an over-budget read prints a refusal JSON and exits 3
    * WITHOUT decoding (or even reading) any payload — the analog of the
    * reference's quota refusal before page materialization
    * (reference: search/materialize.go:939-957). 0 = unlimited.
    *
    * With sink=<path> an admitted read decodes (checksums verified) and
    * writes the token rows there; without a sink the report alone is the
    * product — admitted cost from the metadata pre-flight, no payload
    * decoded to re-derive numbers the pre-flight already had.
    */
  private def readBulkMode(opts: Map[String, String]): Unit = {
    val out = opts("out")
    val sources = opts.get("sources")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val budgets = Admission.Budgets(
      rows = Quota(opts.getOrElse("maxRows", "0").toLong),
      tokens = Quota(opts.getOrElse("maxTokens", "0").toLong),
      encodedBytes = Quota(opts.getOrElse("maxBytes", "0").toLong))
    val spark = SparkSession.builder()
      .appName("graft-read")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // one pre-flight: the reserve's own aggregate comes back as the
      // admitted cost — no second metadata job, no duplicated pruning
      val (admitted, cost) =
        Pipeline.readTokensAdmittedWithCost(spark, out, budgets, sources)
      opts.get("sink").foreach { sink =>
        admitted.write.mode("overwrite").parquet(sink)
      }
      println(s"""{"admitted":true,"rows":${cost.rows},""" +
        s""""tokens":${cost.tokens},"encoded_bytes":${cost.encodedBytes},""" +
        s""""sink":${opts.get("sink").map(jstr).getOrElse("null")},"out":${jstr(out)}}""")
      spark.stop()
    } catch {
      case e: ResourceExhausted =>
        println(s"""{"admitted":false,"resource":${jstr(e.resource)},""" +
          s""""limit":${e.limit},"requested":${e.requested},"out":${jstr(out)}}""")
        spark.stop()
        sys.exit(3)
    }
  }

  /** Maintenance: fold several encoded tables into one deduplicated
    * table ([[Pipeline.compact]]); rowsDropped surfaces the duplicate
    * rows the dedup discarded.
    */
  private def compactMode(opts: Map[String, String]): Unit = {
    val inDirs = opts("in").split(",").toSeq.filter(_.nonEmpty)
    val out = opts("out")
    val tokensPerChunk = opts.getOrElse("tokensPerChunk",
      Chunker.DefaultTokensPerChunk.toString).toLong
    val waves = opts.getOrElse("waves", "16").toInt
    // verify defaults ON, like mode=encode — compaction is the path
    // whose documented purpose is retiring the input directories, so a
    // corrupted re-encode must fail HERE, while the sources still exist
    val doVerify = opts.getOrElse("verify", "true").toBoolean
    val spark = SparkSession.builder()
      .appName("graft-compact")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val r = Pipeline.compact(spark, inDirs, out, tokensPerChunk, waves, verify = doVerify)
    val secs = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"job":"graft-compact","in":[${inDirs.map(jstr).mkString(",")}],""" +
        s""""out":${jstr(out)},"chunksEncoded":${r.chunksEncoded},""" +
        s""""rows":${r.rows},"rowsDropped":${r.rowsDropped},"tokens":${r.tokens},""" +
        s""""encodedBytes":${r.encodedBytes},"verified":$doVerify,""" +
        s""""compactSecs":${num(secs, 2)}}""")
    spark.stop()
  }

  /** Consumer read paths: stat-pruned point lookup / doc index. */
  private def readMode(opts: Map[String, String], lookup: Boolean): Unit = {
    val out = opts("out")
    val spark = SparkSession.builder()
      .appName(if (lookup) "graft-lookup" else "graft-index")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (lookup) {
      val docs = opts("doc").split(',').toSeq.filter(_.nonEmpty)
      val rows = Pipeline.readTokensForDocIds(spark, out, docs).collect()
      rows.foreach { r =>
        println(s"""{"doc_id":${jstr(r.doc_id)},"source":${jstr(r.source)},"n_tok":${r.n_tok}}""")
      }
      val found = rows.map(_.doc_id).toSet
      docs.filterNot(found).foreach(d => println(s"""{"doc_id":${jstr(d)},"found":false}"""))
    } else {
      val n = Pipeline.readDocIndex(spark, out).count()
      println(s"""{"index_rows":$n,"out":${jstr(out)}}""")
    }
    spark.stop()
  }

  /** mode=buildindex: (re)build the doc-sorted lookup index for an
    * encoded directory ([[Pipeline.buildDocIndex]] — payload-free, one
    * range shuffle of (doc_id, chunk_id) pairs).
    */
  private def buildIndexMode(opts: Map[String, String]): Unit = {
    val out = opts("out")
    val spark = SparkSession.builder()
      .appName("graft-buildindex")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Pipeline.buildDocIndex(spark, out,
      indexFiles = opts.getOrElse("indexFiles", "0").toInt)
    val n = Pipeline.readIndexTable(spark, out).count()
    println(s"""{"index_rows":$n,"index":${jstr(Pipeline.docIndexPath(out))}}""")
    spark.stop()
  }
}
