package graft.tools

import graft.{Fixtures, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Diagnostic main: run named gate queries and report Spark job counts and
  * per-job wall times — the fixed per-query driver-action floor is the
  * sf0.1 bottleneck (VERDICT r2), so job count is the metric to shrink.
  * Usage: runMain graft.tools.JobCount <sfDir> <queryRegex>
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val (sfDir, pat) = (args(0), args(1).r)
    val spark = GraftSession.local(GraftSession.envCpus)
    Fixtures.store(spark, sfDir)
    val starts = scala.collection.concurrent.TrieMap[Int, Long]()
    val jobs = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = System.nanoTime()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach(t0 =>
          jobs.synchronized { jobs += ((je.jobId, (System.nanoTime() - t0) / 1e9)) })
    }
    SparkEntry.queries.filter(q => pat.findFirstIn(q._1).isDefined).foreach {
      case (name, fn) =>
        (1 to 2).foreach { it =>
          jobs.synchronized(jobs.clear())
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.removeSparkListener(listener)
          Thread.sleep(100) // let listener drain
          val js = jobs.synchronized(jobs.toSeq.sortBy(_._1))
          println(f"[jobs] $name%-20s iter$it total=$dt%6.2fs jobs=${js.size}: " +
            js.map { case (id, d) => f"#$id=$d%.2fs" }.mkString(" "))
        }
    }
    spark.stop()
  }
}
