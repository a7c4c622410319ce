package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code submits. */
object SparkJobs {

  /** Spark jobs `body` submits. The status store fills from the listener
    * bus in event order, so once a marker job submitted after `body` is
    * visible, every job of `body` is too.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
