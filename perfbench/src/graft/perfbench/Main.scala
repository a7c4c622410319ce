package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point: one JVM, `local[4]`, one closed-loop client.
  *
  * {{{
  * Main --workload encode|read --seed N --seconds S --trace 0|1 \
  *      --work <scratch dir> --out <trace dir>
  * }}}
  *
  * Prints every metric it measured as `METRIC <name> <value> <unit>`
  * and then one `RESULT <correct> <attempted> <failed>` line; the
  * Python runner picks the metrics BENCHMARK.json names for the mode.
  * With `--trace 1` the spans and every per-layer number are also
  * written to `<out>/trace-<workload>-seed<N>.json`.
  */
object Main {
  final val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val out = a("out")
    require(Set("encode", "read")(workload), s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (8 * Cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // scaled down with the table, like the chunk size: the 64 MB
      // default would coalesce this table's shuffles into two tasks
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // long-tail rows reach 32k tokens: keep vectorized batches small
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark, new Tracer(traced, spark.sparkContext), seed, seconds, work)
    try {
      workload match {
        case "encode" => EncodeWorkload.run(run)
        case "read" => ReadWorkload.run(run)
      }
      if (traced) Trace.write(run, s"$out/trace-$workload-seed$seed.json", workload)
    } catch {
      case e: Throwable =>
        // a crash is a failed run, never a partial result
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    run.metrics.foreach { case (name, (v, unit)) =>
      println(s"METRIC $name ${Run.num(v)} $unit")
    }
    println(s"RESULT ${run.failed == 0} ${run.attempted} ${run.failed}")
    Console.flush()
    sys.exit(0)
  }
}

/** Run-wide state: metrics, operation counts, live-heap peak. */
final class Run(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Int,
    val work: String
) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  private var peakLiveBytes = 0L
  /** Wall milliseconds of every successful point and prefix lookup. */
  val lookupMs = mutable.ArrayBuffer.empty[Double]
  val prefixMs = mutable.ArrayBuffer.empty[Double]

  def traced: Boolean = tracer.traced

  private val started = System.nanoTime()
  /** Progress line in the JVM log: seconds since the run started. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%8.2fs $name")

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One checked operation. Counts as attempted; counts as failed when
    * it throws or `check` rejects its output. Returns the result and the
    * wall seconds of `body` (the check is not timed), or None on failure.
    */
  def op[T](name: String, opId: Long = 0L)(body: => T)(check: T => Boolean): Option[(T, Double)] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tracer.span(name, opId)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      phase(f"$name (op $opId) took $secs%.3fs")
      if (check(r)) Some((r, secs))
      else {
        System.err.println(s"[perfbench] check failed: $name (op $opId)")
        failed += 1
        None
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name (op $opId) threw: $e")
        failed += 1
        None
    }
  }

  /** Record the live heap: full GC, a pause so Spark's ContextCleaner
    * can drop the broadcasts and shuffles the first GC found dead, then
    * a second full GC. Called between operations, never inside a timed
    * one.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    peakLiveBytes = math.max(peakLiveBytes, rt.totalMemory - rt.freeMemory)
  }

  def putPeakHeap(): Unit = put("peak_heap_mb", peakLiveBytes / 1048576.0, "MB")

  /** Median latency of the traced operations over that of the untraced
    * ones they alternate with ([[Tracer.alternate]]).
    */
  def putTraceOverhead(samples: Seq[(Double, Boolean)]): Unit =
    put("trace.overhead_ratio",
      Run.median(samples.filter(_._2).map(_._1)) / Run.median(samples.filterNot(_._2).map(_._1)), "ratio")

  /** Time `body` once (seconds). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    val secs = (System.nanoTime() - t0) / 1e9
    phase(f"$name took $secs%.3fs")
    (r, secs)
  }

  /** The measured window: `inWindow` is true until `seconds` have
    * passed since `openWindow`. The operation running when it closes
    * finishes.
    */
  private var windowEnd = 0L
  def openWindow(): Unit = windowEnd = System.nanoTime() + seconds * 1000000000L
  def inWindow: Boolean = System.nanoTime() < windowEnd

  def rmTree(p: String): Unit = graft.engine.Verifier.rmTree(p)
}

object Run {
  /** Locale-free number with every digit the double holds. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "nan" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
