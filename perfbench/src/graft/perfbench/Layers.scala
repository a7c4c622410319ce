package graft.perfbench

import graft.codec.IntCodec
import graft.engine.{Chunker, Decoder, Encoder, Pipeline}
import org.apache.spark.sql.functions._

/** The traced run's per-layer pass over the workload's own input and
  * encoded table. Each section times the benchmark's calls into one
  * layer; the ladder times cumulative rungs and reports each rung minus
  * the one below it.
  */
object Layers {
  /** Spans whose Spark counters are reported as per-layer metrics. */
  final val CountedSpans = Seq("pipeline.run", "chunker.plan", "encoder.kernel",
    "encoder.write", "scan", "lookup.point", "lookup.prefix")

  def run(r: Run, corpus: Corpus, in: Input, dir: String): Unit = {
    CodecBench.run(r, corpus)
    r.phase("codec microbench done")
    selector(r, dir)
    r.phase("selector done")
    ladder(r, in)
    r.phase("ladder done")
    decoder(r, in, dir)
    r.phase("decoder done")
    lookups(r, corpus, dir)
    r.phase("lookups done")
    r.put("lookup.p90_ms", Run.percentile(r.lookupMs.toSeq, 0.9), "ms")
    r.put("prefix.p50_ms", Run.median(r.prefixMs.toSeq), "ms")
    spanCounters(r)
  }

  /** Regret of the chosen token codec against the best codec in
    * hindsight, both after zstd, over sampled chunks of each regime;
    * the codec mix and chunk skew come from the lineage table.
    */
  private def selector(r: Run, dir: String): Unit = {
    val spark = r.spark
    val lin = Pipeline.readLineage(spark, dir).get
    val mix = lin.groupBy("codec_tokens").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    IntCodec.all.foreach(c => r.put(s"selector.codec_mix.${c.name}", mix.getOrElse(c.name, 0L).toDouble, "count"))

    val perChunk = lin.select("token_count").collect().map(_.getLong(0).toDouble).toSeq
    r.put("chunker.chunk_skew", perChunk.max / Run.median(perChunk), "ratio")

    val dictChunk = col("part_source").startsWith(Corpus.DictSourcePrefix)
    val sample = Seq(not(dictChunk), dictChunk).flatMap { regime =>
      lin.filter(regime).select("chunk_id").orderBy("chunk_id").limit(2).collect().map(_.getLong(0))
    }
    val chunks = Pipeline.readChunks(spark, dir).filter(col("chunk_id").isin(sample: _*)).collect()
    var chosen = 0L
    var best = 0L
    chunks.foreach { c =>
      val tokens = IntCodec.decode(c.tokens_enc)
      chosen += CodecBench.zstd(c.tokens_enc)
      best += IntCodec.all.map(codec => CodecBench.zstd(codec.encode(tokens))).min
    }
    r.put("selector.regret", chosen.toDouble / best, "ratio")
  }

  /** Cumulative rungs over the same input, each the median of two runs:
    * chunk plan only, + encode kernel, + parquet/zstd write, the full
    * [[Pipeline.run]].
    */
  private def ladder(r: Run, in: Input): Unit = {
    val spark = r.spark
    def planned = Chunker.chunked(in.ds, Table.TokensPerChunk)
    val out = s"${r.work}/ladder"
    def rung(name: String)(body: => Unit): Double =
      Run.median((0 until 2).map { _ =>
        r.rmTree(out)
        r.timed(name)(body)._2
      })
    val plan = rung("chunker.plan")(planned.write.format("noop").mode("overwrite").save())
    val kernel = rung("encoder.kernel")(
      Encoder.encode(planned).write.format("noop").mode("overwrite").save())
    val write = rung("encoder.write")(
      Encoder.encode(planned).write.mode("overwrite").option("compression", "zstd")
        .partitionBy("part_source").parquet(out))
    val full = rung("pipeline.run")(
      Pipeline.run(spark, in.ds, out, Table.TokensPerChunk, Table.Waves))
    r.rmTree(out)
    r.put("chunker.plan_s", plan, "s")
    r.put("encoder.kernel_s", kernel - plan, "s")
    r.put("encoder.write_s", write - kernel, "s")
    r.put("pipeline.overhead_s", full - write, "s")
  }

  /** Full scans with and without checksum verification. */
  private def decoder(r: Run, in: Input, dir: String): Unit = {
    val spark = r.spark
    def scans(verify: Boolean) = (0 until 3).flatMap { i =>
      r.op(if (verify) "scan" else "scan.unverified", i)(
        Table.digest(Decoder.decode(Pipeline.readChunks(spark, dir), verify)))(_ == in.digest)
        .map(_._2)
    }
    val on = Run.median(scans(verify = true))
    val off = Run.median(scans(verify = false))
    r.put("decoder.scan_s", on, "s")
    r.put("decoder.checksum_share", (on - off) / on, "ratio")
  }

  /** The two phases of a lookup, timed apart: candidate chunks (doc
    * index probe, and the bloom path it falls back to), then the
    * payload decode of those candidates. Useful ratio: candidates that
    * hold a requested id over all candidates.
    */
  private def lookups(r: Run, corpus: Corpus, dir: String): Unit = {
    val spark = r.spark
    import spark.implicits._
    if (!Pipeline.docIndexIsFresh(spark, dir)) Pipeline.buildDocIndex(spark, dir)
    val keys = new Keys(corpus, r.seed + 1)
    val points = Seq.fill(6)(keys.hit()) ++ Seq.fill(2)(keys.miss())
    val prefixes = Seq.fill(3)(keys.prefix())

    val wanted = points.map(_.id).toSet
    val wantedPrefixes = prefixes.map(_.id)
    val holders = Pipeline.readDocIndex(spark, dir)
      .filter(d => wanted(d.doc_id) || wantedPrefixes.exists(d.doc_id.startsWith))
      .map(d => (d.doc_id, d.chunk_id)).collect()
    def holding(pred: String => Boolean) = holders.filter(h => pred(h._1)).map(_._2).toSet

    val probe, bloom, decode, cands, bloomCands = collection.mutable.ArrayBuffer.empty[Double]
    var useful = 0L
    points.zipWithIndex.foreach { case (k, i) =>
      val (ids, tp) = r.timed("lookup.probe")(Pipeline.lookupChunkIdsViaIndex(spark, dir, Seq(k.id)).get)
      val (bids, tb) = r.timed("lookup.bloom_probe")(Pipeline.pointLookupChunkIds(spark, dir, k.id))
      val td = r.op("lookup.decode", i)(
        Pipeline.readTokensForChunkIds(spark, dir, ids, Seq(k.id)).collect())(Lookups.matches(_, k.expected))
      probe += tp * 1000; bloom += tb * 1000; td.foreach(decode += _._2 * 1000)
      cands += ids.size; bloomCands += bids.size
      useful += ids.count(holding(_ == k.id))
      Lookups.point(r, dir, k, i)
    }
    r.put("lookup.probe_ms", Run.median(probe.toSeq), "ms")
    r.put("lookup.bloom_probe_ms", Run.median(bloom.toSeq), "ms")
    r.put("lookup.decode_ms", Run.median(decode.toSeq), "ms")
    r.put("lookup.candidates_per_op", cands.sum / cands.size, "count")
    r.put("lookup.bloom_candidates_per_op", bloomCands.sum / bloomCands.size, "count")
    r.put("lookup.useful_ratio", useful / cands.sum, "ratio")

    val pProbe, pDecode, pCands = collection.mutable.ArrayBuffer.empty[Double]
    var pUseful = 0L
    prefixes.zipWithIndex.foreach { case (k, i) =>
      val (ids, tp) = r.timed("prefix.probe")(
        Pipeline.lookupChunkIdsForRange(spark, dir, k.id, Pipeline.prefixSuccessor(k.id)))
      val td = r.op("prefix.decode", i)(
        Pipeline.readTokensForChunkIds(spark, dir, ids, k.expected.map(_.doc_id)).collect())(
        Lookups.matches(_, k.expected))
      pProbe += tp * 1000; td.foreach(pDecode += _._2 * 1000)
      pCands += ids.size
      pUseful += ids.count(holding(_.startsWith(k.id)))
      Lookups.prefix(r, dir, k, i)
    }
    r.put("prefix.probe_ms", Run.median(pProbe.toSeq), "ms")
    r.put("prefix.decode_ms", Run.median(pDecode.toSeq), "ms")
    r.put("prefix.candidates_per_op", pCands.sum / pCands.size, "count")
    r.put("prefix.useful_ratio", pUseful / pCands.sum, "ratio")
  }

  private def spanCounters(r: Run): Unit = {
    r.tracer.drain()
    val summary = r.tracer.summary
    CountedSpans.foreach { name =>
      val sum = summary.getOrElse(name, SpanSummary(0, 0.0, 0.0, new SparkCounters))
      val c = sum.spark
      val p = s"span.$name"
      r.put(s"$p.jobs", c.jobs.toDouble, "count")
      r.put(s"$p.stages", c.stages.toDouble, "count")
      r.put(s"$p.tasks", c.tasks.toDouble, "count")
      r.put(s"$p.shuffle_write_bytes", c.shuffleWriteBytes.toDouble, "bytes")
      r.put(s"$p.spill_bytes", c.spillBytes.toDouble, "bytes")
      r.put(s"$p.gc_ms", c.gcMs.toDouble, "ms")
      r.put(s"$p.executor_cpu_s", c.cpuNs / 1e9, "s")
      r.put(s"$p.cpu_over_wall", if (sum.inclusiveS > 0) c.cpuNs / 1e9 / sum.inclusiveS else 0.0, "ratio")
    }
  }
}
