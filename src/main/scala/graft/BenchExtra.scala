package graft

import org.apache.spark.sql.SparkSession

/** Extra (non-official) benchmark harness for optimization work —
  * guide §1.4/§1.5: time each declared query against the noop sink
  * under the SAME session geometry as graft.Bench part 1, with
  * optional repeats and .explain("formatted") capture. The official
  * harness (graft.Bench) is frozen; this main exists so optimization
  * rounds can isolate and re-measure queries without touching it.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR        corpus dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS          local[N] (default 32)
  *   SPARK_GRAFT_EXTRA_SWEEPS  full alphabetical sweeps (default 1;
  *                             sweep 1 reproduces Bench's
  *                             first-consumer-pays accounting, later
  *                             sweeps measure warm plans)
  *   SPARK_GRAFT_EXTRA_PLANS   when set, a directory to write
  *                             <query>.txt explain("formatted") files
  *   SPARK_GRAFT_EXTRA_ONLY    comma-separated query-name prefixes to
  *                             restrict the run (e.g. "q38,q64")
  *
  * Prints one JSON line: {"sweeps":[{"qNN":secs,...},...]}.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_SWEEPS", "1").toInt
    val plansDir = sys.env.get("SPARK_GRAFT_EXTRA_PLANS").filter(_.nonEmpty)
    val only = sys.env.getOrElse("SPARK_GRAFT_EXTRA_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty)

    // same session geometry as Bench.session(cpus, max(8, cpus))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", math.max(8, cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", Bench.fastScratch(s"extra-$cpus"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same warm-up as Bench part 1
    spark.range(0, 1000000).selectExpr("sum(id * 3)").collect()
    spark.read.parquet(s"$sfDir/documents.parquet").limit(10).collect()
    try SparkEntry.q52InputsFor(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[extra] q52 fixture prep failed: $e") }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.startsWith))

    // per-query job/stage/task attribution (dev diagnostics on stderr)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        if (sys.env.contains("SPARK_GRAFT_EXTRA_STAGES")) {
          val i = s.stageInfo
          val wall = (for { a <- i.submissionTime; b <- i.completionTime }
            yield (b - a) / 1e3).getOrElse(-1.0)
          System.err.println(f"[stage ${i.stageId}%4d] tasks=${i.numTasks}%3d wall=$wall%6.2fs ${i.name.take(90)}")
        }
      }
    })

    val results = (1 to sweeps).map { sw =>
      names.map { name =>
        val fn = SparkEntry.queries(name)
        spark.sparkContext.setJobDescription(s"extra[$sw] $name")
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          if (sw == 1) plansDir.foreach { d =>
            val p = java.nio.file.Paths.get(d)
            java.nio.file.Files.createDirectories(p)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(p.resolve(s"$name.txt"),
              plan.getBytes("UTF-8"))
          }
          // listener events race the timer slightly — counts are
          // diagnostics, not measurements
          Thread.sleep(50)
          System.err.println(f"[extra] sweep$sw $name: $secs%.3fs jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
          name -> secs
        } catch {
          case e: Throwable =>
            System.err.println(s"[extra] sweep$sw $name FAILED: $e")
            name -> -1.0
        }
      }
    }

    val json = results.map { sweep =>
      sweep.map { case (n, s) => s""""$n":${BenchEmit.num(s, 3)}""" }.mkString("{", ",", "}")
    }.mkString("""{"sweeps":[""", ",", "]}")
    println(json)
    spark.stop()
  }
}
