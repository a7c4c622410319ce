package graft.perfbench

import graft.engine.{Pipeline, TokenRow}
import org.apache.spark.sql.Dataset
import scala.collection.mutable.ArrayBuffer

/** `read`: one table, encoded and doc-indexed during set-up; the client
  * interleaves checksum-verified full scans, point lookups (hits and
  * in-range misses) and prefix lookups. Decode kernels and
  * metadata-first pruning do all the work; encode does none.
  *
  * Every scan must reproduce the input's digest, every hit must equal
  * the row regenerated from (seed, index), every miss must return
  * nothing, and every prefix must return exactly its regenerated rows.
  */
object ReadWorkload {
  /** One cycle of the closed loop: 6 scans, 5 point lookups (1 of them
    * a miss), 1 prefix lookup. Each takes about the same time, so a 15 s
    * window holds about 20 scans, 16 point lookups and 3 prefixes.
    */
  private val Cycle = "SLSLSMSLSLSP"
  /** Set-up repetitions; `setup_s` is their median. */
  final val SetupReps = 3

  def run(r: Run): Unit = {
    val spark = r.spark
    val corpus = Table.corpus(r.seed)
    val in = Table.prepare(spark, corpus, r.work)
    r.phase("input prepared")

    val setup = (1 to SetupReps).map { i =>
      if (i > 1) r.rmTree(s"${r.work}/setup-${i - 1}")
      val dir = s"${r.work}/setup-$i"
      r.timed("setup") {
        r.tracer.span("pipeline.run")(
          Pipeline.run(spark, in.ds, dir, Table.TokensPerChunk, Table.Waves))
        r.tracer.span("pipeline.buildDocIndex")(Pipeline.buildDocIndex(spark, dir))
      }._2
    }
    val dir = s"${r.work}/setup-${SetupReps}"
    r.put("setup_s", Run.median(setup), "s")
    Table.putSizes(r, in, dir)
    r.sampleHeap()
    r.phase("set-up done")

    val keys = new Keys(corpus, r.seed)
    def step(kind: Char, k: Long): Option[Double] = kind match {
      case 'S' => r.op("scan", k)(Table.scan(spark, dir))(_ == in.digest).map(_._2)
      case 'L' => Lookups.point(r, dir, keys.hit(), k)
      case 'M' => Lookups.point(r, dir, keys.miss(), k)
      case 'P' => Lookups.prefix(r, dir, keys.prefix(), k)
    }
    // one untimed cycle warms the read paths before the window opens
    Cycle.zipWithIndex.foreach { case (kind, i) => step(kind, -1 - i) }
    r.lookupMs.clear()
    r.prefixMs.clear()

    val scanSecs = ArrayBuffer.empty[Double]
    val lookups = ArrayBuffer.empty[(Double, Boolean)]
    r.openWindow()
    var k = 0L
    while (r.inWindow) {
      val kind = Cycle((k % Cycle.length).toInt)
      val traced = r.tracer.alternate(k / Cycle.length)
      step(kind, k).foreach { v =>
        if (kind == 'S') scanSecs += v
        if (kind == 'L' || kind == 'M') lookups += ((v, traced))
      }
      if (k % Cycle.length == Cycle.length - 1) r.sampleHeap()
      k += 1
    }
    r.tracer.resumeAll()
    r.phase(s"window closed after $k operations")

    r.put("tokens_per_s", Run.median(scanSecs.toSeq.map(in.digest.tokens / _)), "tokens/s")
    r.put("op_p50_ms", Run.median(lookups.toSeq.map(_._1)), "ms")
    r.sampleHeap()
    r.putPeakHeap()
    if (r.traced) {
      r.putTraceOverhead(lookups.toSeq)
      Layers.run(r, corpus, in, dir)
    }
  }
}

/** Seeded lookup keys. A hit names a row of the table; a miss is an id
  * that sorts between two real ids, so chunk bounds cover it and only
  * the doc index or the bloom filter can rule it out.
  */
final class Keys(corpus: Corpus, seed: Long) {
  private val rnd = new scala.util.Random(seed * 1000003L + 17L)
  private def idx(): Long = (rnd.nextDouble() * corpus.rows).toLong

  def hit(): Lookups.Key = {
    val i = idx()
    Lookups.Key(corpus.docId(i), Seq(corpus.row(i)))
  }
  def miss(): Lookups.Key = Lookups.Key(corpus.docId(idx()) + "x", Nil)

  /** A 100-id prefix: an id with its last two digits dropped. */
  def prefix(): Lookups.Key = {
    val base = idx() / 100 * 100
    Lookups.Key(corpus.docId(base).dropRight(2),
      (base until math.min(base + 100, corpus.rows)).map(corpus.row))
  }
}

/** The public lookup entry points as closed-loop operations, each
  * checked against the rows regenerated from (seed, index).
  */
object Lookups {
  /** A point id or a prefix, and the rows it must return in doc_id order. */
  final case class Key(id: String, expected: Seq[TokenRow])

  def matches(got: Array[TokenRow], expected: Seq[TokenRow]): Boolean = {
    val sorted = got.sortBy(_.doc_id)
    sorted.length == expected.length && sorted.zip(expected).forall { case (a, b) =>
      a.doc_id == b.doc_id && a.n_tok == b.n_tok && a.source == b.source &&
        java.util.Arrays.equals(a.tokens, b.tokens)
    }
  }

  /** Point lookup; its milliseconds when it succeeded. */
  def point(r: Run, dir: String, key: Key, opId: Long): Option[Double] =
    checked(r, "lookup.point", r.lookupMs, key, opId)(
      Pipeline.readTokensForDocId(r.spark, dir, key.id))

  /** Prefix lookup; its milliseconds when it succeeded. */
  def prefix(r: Run, dir: String, key: Key, opId: Long): Option[Double] =
    checked(r, "lookup.prefix", r.prefixMs, key, opId)(
      Pipeline.readTokensForDocIdPrefix(r.spark, dir, key.id))

  private def checked(r: Run, name: String, sink: ArrayBuffer[Double], key: Key, opId: Long)(
      read: => Dataset[TokenRow]): Option[Double] = {
    val ms = r.op(name, opId)(read.collect())(matches(_, key.expected)).map(_._2 * 1000)
    ms.foreach(sink += _)
    ms
  }
}
