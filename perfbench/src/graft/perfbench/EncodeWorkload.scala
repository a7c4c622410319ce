package graft.perfbench

import graft.engine.{Pipeline, Verifier}
import scala.collection.mutable.ArrayBuffer

/** `encode`: repeated [[Pipeline.run]] passes over one generated table,
  * the function `EncodeJob` calls. No lookups, no queries.
  *
  * Set-up: persist the table, then [[SetupReps]] encode passes;
  * `setup_s` is the median pass. The last set-up output is round-trip
  * checked with [[Verifier.verify]] and its lineage fingerprint is the
  * reference every measured pass must reproduce.
  */
object EncodeWorkload {
  /** Set-up repetitions; `setup_s` is their median. They double as the
    * JIT warm-up: passes keep getting faster through about the sixth.
    */
  final val SetupReps = 6

  def run(r: Run): Unit = {
    val spark = r.spark
    val corpus = Table.corpus(r.seed)
    val in = Table.prepare(spark, corpus, r.work)
    r.phase("input prepared")
    def pass(dir: String) = Pipeline.run(spark, in.ds, dir, Table.TokensPerChunk, Table.Waves)
    def verified(dir: String) =
      r.op("verifier.verify")(Verifier.verify(in.ds, Pipeline.readChunks(spark, dir))) { v =>
        v.ok && v.decodedTokens == in.digest.tokens
      }

    val setup = (1 to SetupReps).map { i =>
      if (i > 1) r.rmTree(s"${r.work}/setup-${i - 1}")
      r.timed("pipeline.run")(pass(s"${r.work}/setup-$i"))._2
    }
    var last = s"${r.work}/setup-${SetupReps}"
    r.phase("set-up passes done")
    verified(last)
    val reference = Table.fingerprint(spark, last)
    r.put("setup_s", Run.median(setup), "s")
    Table.putSizes(r, in, last)
    r.sampleHeap()
    r.phase("reference verified")

    val passes = ArrayBuffer.empty[(Double, Boolean)]
    r.openWindow()
    var k = 0L
    while (r.inWindow) {
      val dir = s"${r.work}/pass-$k"
      val traced = r.tracer.alternate(k)
      r.op("pipeline.run", k)(pass(dir)) { rep =>
        rep.rows == in.digest.rows && rep.tokens == in.digest.tokens &&
          Table.fingerprint(spark, dir) == reference
      }.foreach(p => passes += ((p._2, traced)))
      r.rmTree(last)
      last = dir
      k += 1
    }
    r.tracer.resumeAll()
    r.phase(s"window closed after $k passes")
    r.sampleHeap()

    val secs = passes.toSeq.map(_._1)
    r.put("tokens_per_s", Run.median(secs.map(in.digest.tokens / _)), "tokens/s")
    r.put("op_p50_ms", Run.median(secs) * 1000, "ms")
    r.putPeakHeap()
    if (r.traced) {
      r.putTraceOverhead(passes.toSeq)
      Layers.run(r, corpus, in, last)
    }
  }
}
