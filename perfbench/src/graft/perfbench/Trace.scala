package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed region of the benchmark's own code around a call into a
  * layer. Times are nanoseconds since the tracer started; parent 0 is
  * the root; `op` groups the spans of one closed-loop operation.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** All spans of one name: how many, their inclusive and self seconds,
  * and the Spark work they submitted.
  */
final case class SpanSummary(count: Int, inclusiveS: Double, selfS: Double, spark: SparkCounters)

/** Spark work attributed to one span: the jobs it submitted itself
  * (jobs of child spans are the child's).
  */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; cpuNs += o.cpuNs
  }
}

/** Counts jobs, stages, tasks, shuffle, spill, GC and executor CPU per
  * job group. The tracer sets the job group to the innermost open span
  * id, so every counter lands on the span whose code submitted the job.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, SparkCounters]()
  @volatile var lastJobEnded = -1

  private def counters(group: String): SparkCounters =
    byGroup.computeIfAbsent(group, _ => new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.JobGroupKey)))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val c = counters(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1; c.tasks += e.stageInfo.numTasks }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrDefault(e.stageId, ""))
      c.synchronized {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.cpuNs += m.executorCpuTime
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lastJobEnded = math.max(lastJobEnded, e.jobId)
}

object SpanListener {
  /** The job property `SparkContext.setJobGroup` sets. */
  final val JobGroupKey = "spark.jobGroup.id"
}

/** In-memory span recorder for the traced run. Disabled, `span` only
  * runs its body: no listener is attached and no job group is set, so
  * the untraced runs measure the program alone.
  */
final class Tracer(val traced: Boolean, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  private val listener = new SpanListener
  private var on = false

  if (traced) resume()

  private def pause(): Unit = if (on) { sc.removeSparkListener(listener); on = false }
  private def resume(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  /** In a traced run, only the even-numbered groups of closed-loop
    * operations are traced: the odd ones run with the listener detached
    * and are the control sample for the tracing overhead. Returns
    * whether `group` is traced; `resumeAll` ends the alternation.
    */
  def alternate(group: Long): Boolean =
    traced && {
      if (group % 2 == 0) resume() else pause()
      group % 2 == 0
    }
  def resumeAll(): Unit = if (traced) resume()

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setJobGroup(id.toString, name)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "")
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, op, start - t0, end - t0)
      }
    }

  /** Wait until the listener has seen every job submitted so far: the
    * listener bus delivers events in order, so once the end of a marker
    * job arrives, every earlier task and stage event has arrived too.
    */
  def drain(): Unit = if (on) {
    sc.setJobGroup("drain", "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val id = sc.statusTracker.getJobIdsForGroup("drain").max
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (listener.lastJobEnded < id && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def all: Seq[Span] = spans.toSeq

  /** Per span name. Self time is the span's duration minus the time its
    * children cover.
    */
  def summary: Map[String, SpanSummary] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (name, ss) =>
      val c = new SparkCounters
      ss.foreach(s => Option(listener.byGroup.get(s.id.toString)).foreach(c.add))
      name -> SpanSummary(ss.size, ss.map(_.durNs).sum / 1e9,
        ss.map(s => s.durNs - childNs(s.id)).sum / 1e9, c)
    }
  }
}

object Trace {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The traced run's record: every span, the per-name summary (count,
    * inclusive and self seconds, Spark counters) and every metric the
    * run measured.
    */
  def write(r: Run, path: String, workload: String): Unit = {
    r.tracer.drain()
    val spans = r.tracer.all.map { s =>
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val summary = r.tracer.summary.toSeq.sortBy(_._1).map { case (name, sum) =>
      val c = sum.spark
      s"""${str(name)}:{"count":${sum.count},"inclusive_s":${Run.num(sum.inclusiveS)},""" +
        s""""self_s":${Run.num(sum.selfS)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
        s""""gc_ms":${c.gcMs},"executor_cpu_ns":${c.cpuNs}}"""
    }
    val metrics = r.metrics.toSeq.map { case (name, (v, unit)) =>
      s"""${str(name)}:{"value":${Run.num(v)},"unit":${str(unit)}}"""
    }
    val json = s"""{"workload":${str(workload)},"seed":${r.seed},"seconds":${r.seconds},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${metrics.mkString(",")}},""" +
      s""""spans_by_name":{${summary.mkString(",")}},""" +
      s""""spans":[${spans.mkString(",\n")}]}""" + "\n"
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
  }
}
