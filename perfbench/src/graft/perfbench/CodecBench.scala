package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.codec.{BitIO, ByteSink, Fsst, IntCodec, Selector, StrCodec}

/** Pure-JVM kernel microbench: no Spark, no dependency beyond the
  * engine's own. Arrays come from the workload's corpus: one chunk's
  * worth of tokens, split between the two regimes in the corpus' own
  * proportion, plus the doc_id and source columns of 2,048 rows.
  *
  * Times are the median of [[Reps]] calls after [[Warmup]] untimed
  * ones. Sizes are bytes after zstd at the level the parquet write
  * uses, since that is what reaches disk.
  */
object CodecBench {
  final val Warmup = 3
  final val Reps = 7

  /** Median nanoseconds of one call of `f`. */
  def ns(f: => Any): Double = {
    var i = 0
    while (i < Warmup) { f; i += 1 }
    Run.median((0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0).toDouble
    })
  }

  /** Size after the zstd level the parquet write uses. */
  def zstd(b: Array[Byte]): Long =
    com.github.luben.zstd.Zstd.compress(b, Selector.ZstdTrialLevel).length.toLong

  /** Concatenated tokens of consecutive rows from `from`, cut at `n`. */
  private def tokens(corpus: Corpus, from: Long, n: Int): Array[Int] = {
    val a = new Array[Int](n)
    var len = 0
    var idx = from
    while (len < n) {
      val t = corpus.row(idx).tokens
      val k = math.min(t.length, n - len)
      System.arraycopy(t, 0, a, len, k)
      len += k
      idx += 1
    }
    a
  }

  def run(r: Run, corpus: Corpus): Unit = r.tracer.span("codec") {
    val chunk = Table.TokensPerChunk.toInt
    val dictInts = (chunk * corpus.dictRows / corpus.rows).toInt
    val arrays = Seq(tokens(corpus, 0, chunk - dictInts), tokens(corpus, corpus.zipfRows, dictInts))
    val total = arrays.map(_.length).sum.toDouble
    val sink = new ByteSink(8 * chunk)

    IntCodec.all.foreach { c =>
      val p = s"codec.${c.name}"
      val enc = arrays.map(a => c.encode(a))
      r.op(s"$p.roundtrip")(enc.map(IntCodec.decode))(_.zip(arrays).forall {
        case (d, a) => java.util.Arrays.equals(d, a)
      })
      r.put(s"$p.encode_ns_per_int",
        arrays.map(a => ns { sink.reset(); c.encode(a, 0, a.length, sink) }).sum / total, "ns/int")
      r.put(s"$p.decode_ns_per_int", enc.map(b => ns(IntCodec.decode(b))).sum / total, "ns/int")
      r.put(s"$p.bytes_per_int", enc.map(zstd).sum / total, "B/int")
    }

    // doc-sized slices out of each regime's selector-chosen encoding
    val rnd = new scala.util.Random(r.seed)
    val sliceLen = Corpus.MedianLen
    val ranged = arrays.map { a =>
      val buf = Selector.encodeAutoZstdAware(a)._2
      val starts = Array.fill(64)(rnd.nextInt(a.length - sliceLen))
      ns(starts.foreach(s => IntCodec.decodeRange(buf, s, sliceLen))) / (starts.length * sliceLen)
    }
    r.put("codec.decode_range_ns_per_int", Run.median(ranged), "ns/int")

    // selector: the stats pass, and what the zstd trials add on top of
    // the stats pass and the winner's own encode
    r.put("selector.stats_ns_per_int",
      arrays.map(a => ns(Selector.stats(a, 0, a.length))).sum / total, "ns/int")
    r.put("selector.zstd_trial_ns_per_int", arrays.map { a =>
      val winner = Selector.encodeAutoZstdAware(a)._1
      ns(Selector.encodeAutoZstdAware(a)) - ns(Selector.stats(a, 0, a.length)) -
        ns { sink.reset(); winner.encode(a, 0, a.length, sink) }
    }.sum / total, "ns/int")

    strings(r, corpus, rnd)
  }

  /** String codecs on 2,048 random rows: the sorted doc_id column,
    * which the auto-selector stores plain, FSST (trained on that
    * column, the FSST paper's target) and the source column, which it
    * stores as a dictionary.
    */
  private def strings(r: Run, corpus: Corpus, rnd: scala.util.Random): Unit = {
    val idxs = Array.fill(2048)((rnd.nextDouble() * corpus.rows).toLong).distinct.sorted
    val docIds = idxs.map(corpus.docId)
    val sources = idxs.map(i => corpus.row(i).source)

    def auto(name: String, values: Array[String], want: Byte): Unit = {
      val raw = values.map(_.getBytes(UTF_8).length).sum.toDouble
      val (id, enc) = StrCodec.encodeAuto(values)
      if (id != want)
        System.err.println(s"[perfbench] codec.str.$name measures ${StrCodec.name(id)}: the selector chose it")
      r.op(s"codec.str.$name.roundtrip")(StrCodec.decode(enc))(_.sameElements(values))
      r.put(s"codec.str.$name.encode_ns_per_byte", ns(StrCodec.encodeAuto(values)) / raw, "ns/B")
      r.put(s"codec.str.$name.decode_ns_per_byte", ns(StrCodec.decode(enc)) / raw, "ns/B")
      r.put(s"codec.str.$name.bytes_per_byte", zstd(enc) / raw, "ratio")
    }
    auto("plain", docIds, StrCodec.PlainId)
    auto("dict", sources, StrCodec.DictId)

    val bytes = docIds.mkString.getBytes(UTF_8)
    val sink = new ByteSink(bytes.length)
    Fsst.compress(bytes, 0, bytes.length, sink)
    val enc = sink.result()
    r.op("codec.str.fsst.roundtrip")(Fsst.decompress(new BitIO.Reader(enc, 0)))(
      java.util.Arrays.equals(_, bytes))
    r.put("codec.str.fsst.encode_ns_per_byte",
      ns { sink.reset(); Fsst.compress(bytes, 0, bytes.length, sink) } / bytes.length, "ns/B")
    r.put("codec.str.fsst.decode_ns_per_byte",
      ns(Fsst.decompress(new BitIO.Reader(enc, 0))) / bytes.length, "ns/B")
    r.put("codec.str.fsst.bytes_per_byte", zstd(enc).toDouble / bytes.length, "ratio")
  }
}
