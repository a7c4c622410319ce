package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.engine.Decoder

/** Physical-plan assertions: the optimizations the engine relies on at
  * 100 TB must actually appear in the plans — filter pushdown reaching
  * the parquet scan, column pruning in ReadSchema, broadcast for small
  * dims, whole-stage codegen on the hot path (SURVEY.md §4.1-4.3).
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  override def afterAll(): Unit = spark.stop()

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString()

  test("q01 scan: filters pushed to parquet, columns pruned") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.contains("GreaterThan(l_quantity") || p.contains("LessThan(l_shipdate"),
      "expected quantity/shipdate predicates in PushedFilters")
    // projection pruning: ReadSchema carries only the needed columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_extendedprice"),
      s"scan reads too many columns: $read")
  }

  test("q30 ANN: probe side broadcast, no shuffle of the big side") {
    val p = plan("q30_ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected the 3-probe side to broadcast")
  }

  test("q06 join+agg: whole-stage codegen covers the aggregate") {
    val df = SparkEntry.queries("q06_join_agg")(spark, sf)
    df.collect() // finalize the adaptive plan — codegen spans appear post-execution
    val p = df.queryExecution.executedPlan.toString()
    // "*(n)" is the compact WholeStageCodegen marker in plan toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("), "hot path fell out of codegen")
    assert(p.contains("HashAggregate"), "expected hash aggregation")
  }

  test("partial aggregation (map-side combine) present in groupBy") {
    val df = SparkEntry.queries("q02_agg_groupby")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // two HashAggregate nodes: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side partial aggregation")
  }

  test("q44 event-time windows: partial aggregation, events scan pruned") {
    val df = SparkEntry.queries("q44_event_time_windows")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // one shuffle on (window, event_type) with map-side combine — at
    // 100 TB the partial aggregate is what keeps the shuffle small
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side partial aggregation")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("event_id") && !read.contains("user_id") && !read.contains("props"),
      s"events scan reads columns the windowing never uses: $read")
  }

  test("q55 vocab top-k: partial agg before the word shuffle, top-k not global sort") {
    val df = SparkEntry.queries("q55_vocab_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // the explode emits one row per corpus WORD; the map-side combine
    // must collapse that to (word, partial count) per partition before
    // the exchange, and the final top-50 must be a TakeOrderedAndProject
    // (heap per partition + merge), never a full sort of the vocabulary
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side partial aggregation")
    assert(p.contains("TakeOrderedAndProject"), s"top-k is not TakeOrderedAndProject:\n$p")
    // only `text` is read — doc_id/lang/source/n_chars never touched
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("n_chars") && !read.contains("source"),
      s"vocab scan reads columns it never uses: $read")
  }

  test("q48/q49 mix sampling: map-only predicate, single partial-agg shuffle") {
    for (q <- Seq("q48_source_mix_sample", "q49_split_assign")) {
      val p = plan(q)
      // the sampling predicate is a per-row hash compare — no join, no
      // extra exchange: exactly the groupBy shuffle (+AQE read) appears
      assert(!p.contains("Join"), s"$q: sampling must not join: ${p.take(600)}")
      // one hash shuffle (the groupBy); the only other exchange is the
      // final presentation orderBy's range partitioning
      assert("hashpartitioning".r.findAllIn(p).size <= 1, s"$q: extra hash shuffle")
      assert("Exchange".r.findAllIn(p).size <= 2, s"$q: more than agg+sort shuffles")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: no map-side partial agg")
      // text is never read — the scan carries only id/source/n_chars
      val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!read.contains("text"), s"$q scan reads text: $read")
    }
  }

  test("q50 decontamination: benchmark shingle index broadcasts") {
    val p = plan("q50_decontaminate")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast: ${p.take(800)}")
    assert(!p.contains("SortMergeJoin"),
      "the training corpus must never sort-merge against the benchmark index")
  }

  test("decode-pruned query: part_source filter applies before decode") {
    // on the written chunks table the filter becomes partition pruning;
    // in-flight it must at least precede the deserialize/decode stage
    val df = SparkEntry.queries("q23_decode_pruned")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString()
    assert(p.contains("part_source"), "part_source filter missing from plan")
  }

  private lazy val chunksDir: String = {
    import graft.engine.{Encoder, Pipeline}
    val tmp = java.nio.file.Files.createTempDirectory("graft-planspec").toString
    Encoder.encodeTable(SparkEntry.tokenTable(spark, sf), tokensPerChunk = 16384)
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#chunk_id", "true")
      .option("parquet.bloom.filter.expected.ndv#chunk_id", "4096")
      .partitionBy("part_source")
      .parquet(Pipeline.chunksPath(tmp))
    tmp
  }

  test("readDocIndex: parquet scan never reads the token payload") {
    val p = graft.engine.Pipeline.readDocIndex(spark, chunksDir)
      .queryExecution.executedPlan.toString()
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_ids_enc"), s"expected encoded id column in scan: $read")
    assert(!read.contains("tokens_enc"),
      s"metadata read pays token payload I/O: $read")
  }

  test("admission pre-flight: parquet scan reads only cost metadata") {
    // the property admission control rests on at 100 TB: refusing an
    // over-budget decode must cost a metadata-column aggregate, never
    // payload I/O — the pre-flight's ReadSchema excludes every _enc col
    val p = graft.engine.Admission
      .preflightStats(graft.engine.Pipeline.readChunks(spark, chunksDir))
      .queryExecution.executedPlan.toString()
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("n_tokens"), s"expected metadata cols in scan: $read")
    assert(!read.contains("tokens_enc") && !read.contains("doc_ids_enc"),
      s"admission pre-flight pays payload I/O: $read")
  }

  test("doc-index probe: a range probe reads the index on the driver, no Spark job") {
    import graft.engine.Pipeline
    Pipeline.buildDocIndex(spark, chunksDir)
    assert(Pipeline.docIndexIsFresh(spark, chunksDir))
    // a range probe matches many docs per chunk; it reads the index
    // files itself and submits no job
    var ids = Seq.empty[Long]
    val jobs = SparkJobs.jobsOf(spark) { ids = Pipeline.lookupChunkIdsForRange(spark, chunksDir, "1", None) }
    assert(jobs == 0, s"doc-index probe submitted $jobs job(s)")
    val expected = Pipeline.readIndexTable(spark, chunksDir).filter(col("doc_id") >= "1")
      .select("chunk_id").distinct().collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.sorted == expected.toSeq.sorted)
  }

  test("point-lookup doc_id bounds are pushed to the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(graft.engine.Pipeline.chunksPath(chunksDir))
      .filter(col("min_doc_id") <= "42" && col("max_doc_id") >= "42")
    val p = df.queryExecution.executedPlan.toString()
    // row-group stats on the bound columns prune the scan before any
    // chunk reaches the decode kernel
    // the plan's PushedFilters list is elided past ~100 chars, so assert
    // on the first bound only
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(min_doc_id"),
      s"doc_id bounds not pushed: ${p.linesIterator.find(_.contains("PushedFilters")).getOrElse(p.take(500))}")
  }

  test("token-search value bounds are pushed to the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(graft.engine.Pipeline.chunksPath(chunksDir))
      .filter(col("min_token") <= 113 && col("max_token") >= 113)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(min_token"),
      s"token bounds not pushed: ${p.linesIterator.find(_.contains("PushedFilters")).getOrElse(p.take(500))}")
  }

  test("chunks table write carries a bloom filter on chunk_id") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(graft.engine.Pipeline.chunksPath(chunksDir))
    val fs = root.getFileSystem(conf)
    val part = fs.listFiles(root, true)
    var found = false
    while (part.hasNext && !found) {
      val f = part.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val cols = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          found = cols.exists(c =>
            c.getPath.toDotString == "chunk_id" && c.getBloomFilterOffset >= 0)
        } finally reader.close()
      }
    }
    assert(found, "no parquet bloom filter found on chunk_id")
  }

  /** The executed plan of every query `body` runs. The listener bus
    * delivers in order, so once a marker query run after `body` is
    * seen, every query of `body` is too.
    */
  private def executedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"plans-marker-${System.nanoTime()}"
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.toSeq
    assert(plans.exists(_.contains(marker)), "the marker query was never seen")
    plans.filterNot(_.contains(marker))
  }

  test("a new split's wave write plans no join against the chunks table") {
    import graft.engine.{Fixtures, Pipeline}
    val dir = java.nio.file.Files.createTempDirectory("graft-planspec-split").toString
    def input(seed: Long) = Fixtures.tokenTable(spark, 200, seed = seed, partitions = 2)
    Pipeline.run(spark, input(1), dir, tokensPerChunk = 16 * 1024, waves = 1, inputSplit = "a")
    // what `run` does for split b, keeping the frame the encode kernel
    // read: the wave write's own plan is an RDD scan, so the encode plan
    // (Chunker plan, ledger filter, shuffle) is seen only here
    var sorted: org.apache.spark.sql.DataFrame = null
    val plans = executedPlans {
      sorted = Pipeline.encodeRun(spark, input(2), dir, 16 * 1024, 1, "b", _ => false, None,
        Pipeline.ledger(spark, dir, "b"))._2
    }
    val chunks = Pipeline.chunksPath(dir)
    def scansChunks(p: String) = p.linesIterator.exists(l => l.contains("FileScan") && l.contains(s"$chunks]"))
    val encodePlan = sorted.queryExecution.executedPlan.toString
    assert(encodePlan.contains("isFinalPlan=true") && encodePlan.contains("hashpartitioning(chunk_id"),
      s"not the executed encode plan:\n$encodePlan")
    assert(!encodePlan.contains("Join") && !scansChunks(encodePlan),
      s"the encode reads the chunks table:\n$encodePlan")
    val writes = plans.filter(_.contains(s"InsertIntoHadoopFsRelationCommand file:$chunks,"))
    assert(writes.length == 1, s"expected one wave write:\n${plans.mkString("\n\n")}")
    assert(!writes.head.contains("Join") && !scansChunks(writes.head),
      s"the wave write reads the chunks table:\n${writes.head}")
    // the one ledger read: this split's ids, the split filter pushed
    val ledger = plans.filter(scansChunks)
    assert(ledger.length == 1 && ledger.head.contains("PushedFilters: [IsNotNull(input_split), EqualTo(input_split,b)]"),
      s"ledger reads:\n${ledger.mkString("\n\n")}")
    graft.engine.Verifier.rmTree(dir)
  }

  test("the encode kernel reads its sorted input's rows with no deserializer over tokens") {
    import graft.engine.{Chunker, Encoder, Fixtures, Tables, TokenRow}
    // a parquet read types tokens as array<int> with nullable elements,
    // which a typed view of the rows would box element by element
    val tmp = java.nio.file.Files.createTempDirectory("graft-planspec-kernel").toString + "/tokens"
    Fixtures.tokenTable(spark, 200, seed = 3, partitions = 2).write.parquet(tmp)
    val tokens = Tables.read(spark, tmp, org.apache.spark.sql.Encoders.product[TokenRow])
    val sorted = Encoder.sortedChunks(Chunker.chunked(tokens, 16 * 1024).toDF())
    val kernel = Encoder.encodeSorted(sorted, "")
    // the kernel iterates the sorted plan's own rows, not a typed view's
    assert(kernel.dependencies.map(_.rdd) == Seq(sorted.queryExecution.toRdd),
      s"the kernel reads another plan than its input's:\n${kernel.toDebugString}")
    val qe = sorted.queryExecution
    for ((stage, p) <- Seq("analyzed" -> qe.analyzed.toString, "optimized" -> qe.optimizedPlan.toString,
                           "executed" -> qe.executedPlan.toString))
      assert(!p.contains("DeserializeToObject") && !p.contains("MapObjects"),
        s"the $stage encode input deserializes rows:\n$p")
    assert(kernel.count() > 0)
    graft.engine.Verifier.rmTree(new java.io.File(tmp).getParent)
  }

  test("q37: embedding vectors do not ride the LSH band self-join") {
    // candidate generation must shuffle only (vec_id, band, sig); the
    // wide embedding column is re-attached by id AFTER the candidate
    // distinct — at 10^9 vectors a band join carrying vectors shuffles
    // every embedding once per band for nothing
    val lp = SparkEntry.queries("q37_embed_neardup")(spark, sf)
      .queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, "expected an equi self-join on (band, sig)")
    bandJoins.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(_.name)
      val vectors = cols.filter(Set("embedding", "ea", "eb", "qe"))
      assert(vectors.isEmpty, s"band join shuffles vector columns: $cols")
    }
  }

  test("q20 jaccard probe: 1-row probe side broadcasts, never shuffles") {
    val p = plan("q20_ngram_jaccard")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the 1-row probe side to broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "probe attach must broadcast, not shuffle or cartesian")
  }

  test("q40 exact-ANN: probe side broadcast, integer-only output") {
    val df = SparkEntry.queries("q40_ann_dot_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected the 3-probe side to broadcast")
    // every output column is LongType — the property the oracle hash
    // match depends on (no float drift anywhere in the result)
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType), df.schema.treeString)
  }

  test("q60 quantized ANN: probe side broadcast, integer-only output") {
    val df = SparkEntry.queries("q60_quantized_ann")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "expected the 3-probe side to broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "quantized-probe join must broadcast, not shuffle or cartesian")
    // the whole asymmetric score path (dot_q * scale_i) is int64 —
    // the property the oracle hash match depends on
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType), df.schema.treeString)
  }

  test("q63 IVF-SQ8: broadcast joins only, long-only output") {
    val df = SparkEntry.queries("q63_ivf_sq8")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "centroid + probe-cell joins must broadcast, not shuffle or cartesian")
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType), df.schema.treeString)
  }

  test("q61 bloom decontamination: verify join broadcasts, probe side never sort-merges") {
    val df = SparkEntry.queries("q61_bloom_decontaminate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "exact-verify join against the benchmark shingle set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join anywhere in the two-stage pipeline: ${p.take(600)}")
  }

  test("q62 epoch upsample: no join, map-only explode feeding one real agg") {
    val df = SparkEntry.queries("q62_epoch_upsample")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "upsampling is a per-row rule — no join may appear")
    // shuffles: exactly the final agg exchange + the presentation sort
    val shuffles = "Exchange (hashpartitioning|rangepartitioning)".r
      .findAllIn(p).size
    assert(shuffles <= 2, s"expected agg + sort exchanges only, got $shuffles:\n${p.take(600)}")
  }

  test("q42 IVF: map-only assignment, broadcast joins, long-only output") {
    val df = SparkEntry.queries("q42_ann_ivf")(spark, sf)
    val phys = df.queryExecution.executedPlan.toString()
    assert(!phys.contains("SortMergeJoin") && !phys.contains("CartesianProduct"),
      "IVF probe-cell join must broadcast, not shuffle or cartesian")
    // nearest-centroid assignment runs INSIDE each corpus row
    // (array_sort over the broadcast centroid array): no Generate
    // (explode) may feed off the full corpus — the only Generate is
    // the nProbe expansion of the <3-probe side
    val gens = df.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.nonEmpty, "expected the probe-side nProbe explode")
    gens.foreach { g =>
      val probeOnly = g.child.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("< 3") => f
      }
      assert(probeOnly.nonEmpty, s"Generate feeds off the corpus:\n$g")
    }
    assert(df.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType), df.schema.treeString)
  }

  test("q41 exact near-dup: quantized vectors do not ride the band join") {
    val lp = SparkEntry.queries("q41_embed_neardup_exact")(spark, sf)
      .queryExecution.optimizedPlan
    val bandJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    assert(bandJoins.nonEmpty, "expected an equi self-join on (band, sig)")
    bandJoins.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(_.name)
      val vectors = cols.filter(Set("embedding", "ce", "cea", "ceb"))
      assert(vectors.isEmpty, s"band join shuffles vector columns: $cols")
    }
  }

  test("chunksFor: one encode per (session, dir, tokensPerChunk)") {
    // identity on repeat calls — the chunk-reading queries must share a
    // single persisted encode, not re-run the encoder per query
    val a = SparkEntry.chunksFor(spark, sf, 16384)
    val b = SparkEntry.chunksFor(spark, sf, 16384)
    assert(a eq b, "repeat call must return the cached dataset")
    // distinct params get distinct cache entries (2^30 is the largest
    // accepted target — chunk token streams are Int-indexed arrays)
    val c = SparkEntry.chunksFor(spark, sf, 1L << 30)
    assert(!(a eq c), "different tokensPerChunk must not share an entry")
    assert(a.storageLevel.useDisk || a.storageLevel.useMemory,
      "cached chunks must be persisted")
    // the at-rest dir is written once and reused
    val d1 = SparkEntry.chunksDirFor(spark, sf, 16384)
    val d2 = SparkEntry.chunksDirFor(spark, sf, 16384)
    assert(d1 == d2, "at-rest chunks dir must be reused")
    assert(new java.io.File(graft.engine.Pipeline.chunksPath(d1)).exists())
  }

  test("q39 admission report: broadcast global aggregate, no window") {
    val p = plan("q39_admission_report")
    assert(!p.contains("Window"), "q39 must not move data through a window")
    assert(p.contains("Broadcast"), "q39's global aggregate must broadcast")
  }

  test("q56 sessionize: exactly one hash shuffle (windows + aggs share user_id clustering)") {
    val p = plan("q56_sessionize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    // lag window, cumsum window, groupBy(user_id,sid), groupBy(user_id):
    // all satisfied by the single hashpartitioning(user_id) — a second
    // hash exchange means a window/agg stopped reusing the clustering
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(1500)}")
  }

  test("q57 as-of join: union+window, one hash shuffle, no join operator") {
    val p = plan("q57_asof_join")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n${p.take(1500)}")
    // the whole point: the as-of is carried by a running last() over the
    // merged order, not a join (a SortMergeJoin/BNLJ here would be the
    // O(n*m) range-join shape this operator exists to avoid)
    assert(!p.contains("Join"), s"as-of must not plan a join:\n${p.take(1500)}")
    assert(p.contains("Window"), "expected the running-last window")
  }

  test("q58 range join: binned equi-join, never nested-loop/cartesian") {
    val p = plan("q58_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"interval predicate leaked into a quadratic join:\n${p.take(1500)}")
    // the bin key makes it an equi join (broadcast or shuffled-hash both fine)
    assert(p.contains("Join"), "expected the binned equi-join")
  }

  test("q65 dedup apply: loser set broadcast-anti-joins, corpus never shuffled pre-agg") {
    val df = SparkEntry.queries("q65_dedup_apply")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected a broadcast LEFT ANTI join dropping cluster losers:\n${p.take(1500)}")
    // the documents scan must feed the anti join directly — any exchange
    // between the corpus scan and the anti join would reshuffle the
    // corpus at 10^9 docs. The only exchanges are the final groupBy's
    // and the broadcast build side's.
    assert(!p.contains("SortMergeJoin"),
      "corpus side must not sort-merge against the tiny loser set")
  }

  test("q67/q69 gram joins: equi on fingerprint, never nested-loop/cartesian") {
    for (q <- Seq("q67_dup_passages", "q69_source_overlap")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString()
      assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
        s"$q: gram join fell out of the equi-join shape:\n${p.take(1200)}")
      // the dup/self join keys on the 64-bit fingerprint — both sides
      // arrive fp-clustered from the upstream distinct/groupBy
      assert(p.contains("HashAggregate"), s"$q: expected hash aggregation")
    }
  }

  test("q70 inverted index: one partial-agg shuffle keyed on token, no join") {
    val df = SparkEntry.queries("q70_inverted_index")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Join"), s"index build must be join-free:\n${p.take(1200)}")
    // partial aggregation must combine map-side: a HashAggregate below
    // the token exchange, another above it
    assert(p.contains("HashAggregate"), "expected hash aggregation")
    assert(p.contains("hashpartitioning(token"),
      s"the single data shuffle must key on token:\n${p.take(1200)}")
  }

  test("q71 conjunctive search: chunk-grain stats rungs precede any decode") {
    val df = SparkEntry.queries("q71_conjunctive_search")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // scope to the search itself: everything below InMemoryTableScan is
    // the cached chunk-build pipeline (salting joins live there by design)
    val search = p.substring(0, math.max(0, p.indexOf("InMemoryRelation")))
    assert(search.nonEmpty, s"expected the cached chunk relation:\n${p.take(1200)}")
    assert(!search.contains("Join"), s"conjunctive search must be join-free:\n${search.take(1200)}")
    // all three probes' min/max rungs sit in one Filter over the chunk
    // metadata, upstream of the deserialize/flatMap that decodes
    assert(search.contains("min_token") && search.contains("max_token"),
      s"expected the min/max stats rung in the plan:\n${search.take(1200)}")
  }

  test("conjunctive ladder short-circuits: an absent probe prunes every chunk pre-decode") {
    // 'z' (122) never occurs at sf0.001 — every chunk must die on the
    // stats/dict rungs, so the AND-search decodes nothing and returns
    // empty even though the other probes match most docs
    val probes = Array('q'.toInt, 'z'.toInt)
    val chunks = SparkEntry.chunksFor(spark, sf, tokensPerChunk = 16384)
      .filter(col("min_token") <= 122 && col("max_token") >= 122)
      .collect()
    val survivors = chunks.filter(c => probes.forall(p => Decoder.chunkMayContainToken(c, p)))
    assert(survivors.isEmpty,
      s"${survivors.length} chunks passed the dict rung for an absent token")
  }

  test("q72 snapshot diff: co-partitioned full-outer join on doc_id, fingerprints not payloads") {
    val df = SparkEntry.queries("q72_snapshot_diff")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("FullOuter"), s"expected a full-outer diff join:\n${p.take(1200)}")
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"),
      "diff join must stay an equi join")
    // both sides reduce to (doc_id, source, fp) before the join: the md5
    // projection must sit below the doc_id exchange, so no 'text'
    // attribute appears at or above the join
    val joinIdx = p.indexOf("FullOuter")
    assert(!p.substring(0, joinIdx).contains("text#"),
      s"payload column crossed the shuffle into the diff join:\n${p.take(1500)}")
  }

  test("q66 exact quantiles: window runs over the value histogram, not raw rows") {
    val df = SparkEntry.queries("q66_exact_quantiles")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // histogram-first: a partial+final HashAggregate pair must appear
    // BELOW the window (the corpus compresses to |distinct values|
    // rows before any per-source sort)
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected HashAggregate below the Window (histogram-first):\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("partial"),
      "histogram groupBy lost its map-side partial aggregation")
  }

  test("q73 vocab remap: broadcast-map remap, no join anywhere in the plan") {
    val df = SparkEntry.queries("q73_vocab_remap")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // the vocabulary travels as a driver broadcast into the typed remap
    // kernel — the naive explode+join would put one row per token
    // occurrence (10^15 at scale) through a shuffle join
    assert(!p.contains("Join"), s"remap must be join-free:\n${p.take(1200)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-source aggregate lost its map-side partial")
  }

  test("q74 length buckets: map-only kernel, single partial-agg shuffle") {
    val p = plan("q74_length_buckets")
    assert(!p.contains("Join"), s"bucketing must not join:\n${p.take(800)}")
    assert("hashpartitioning".r.findAllIn(p).size <= 1, "extra hash shuffle")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side partial agg")
  }

  test("q75 stratified sample: window input is the bounded candidate set, not the corpus") {
    val df = SparkEntry.queries("q75_stratified_sample")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    // the per-source window must consume the mapPartitions survivor set
    // (<= partitions*sources*k rows): the typed kernel (Deserialize/
    // MapPartitions) sits BELOW the window's sort+exchange, and the
    // corpus itself is never shuffled by source
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"expected a window over the candidates:\n${p.take(800)}")
    val below = p.substring(winIdx)
    assert(below.contains("MapPartitions") || below.contains("SerializeFromObject"),
      s"window does not sit above the bounded top-k kernel:\n${p.take(1500)}")
    // only the two id columns reach the scan — text never leaves parquet
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("text"), s"sample scan reads text: $read")
  }

  test("q76 BPE pairs: per-doc pre-count, partial agg, top-k not global sort") {
    val df = SparkEntry.queries("q76_bpe_pair_counts")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Join"), s"pair counting must be join-free:\n${p.take(800)}")
    // the shuffle carries (pair, per-doc count) with map-side combine —
    // partial + final HashAggregate around one pair-keyed exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side partial agg")
    assert(p.contains("hashpartitioning(pair"),
      s"the single data shuffle must key on the packed pair:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k is not TakeOrderedAndProject:\n${p.take(1200)}")
  }

  test("q77 concat-chunk: one shard shuffle, no join, payload crosses once") {
    val df = SparkEntry.queries("q77_concat_chunk_pack")(spark, sf)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Join"), s"packing must be join-free:\n${p.take(800)}")
    // exactly one data shuffle — the repartition(shard); the only other
    // exchange is the presentation orderBy's range partitioning
    assert(p.contains("hashpartitioning(shard"),
      s"the data shuffle must key on shard:\n${p.take(1200)}")
    assert("hashpartitioning".r.findAllIn(p).size == 1, "extra hash shuffle")
    // the cut kernel consumes the shard-sorted stream directly: a Sort
    // on (shard, h, doc_id) sits between the exchange and the kernel
    assert(p.contains("Sort [shard"), s"missing within-partition shard sort:\n${p.take(1500)}")
  }
}
