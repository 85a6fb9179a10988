package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Deterministic cost-shape profile: for every declared query, the number of
  * Spark JOBS (driver actions — each is a full scheduling round trip and, at
  * scale, usually a separate pass over some input), STAGES (shuffle
  * boundaries actually executed, AQE-final) and TASKS its end-to-end
  * execution launches, plus wall time. Complements the wall-clock bench: job
  * and stage counts are invariant under machine noise, so a query whose time
  * is floor-bound shows up here as jobs × per-job floor rather than as real
  * compute (round-12 measurement: this box suffers CPU-steal waves that make
  * wall-clock-only comparisons unreliable).
  *
  * `sbt "runMain graft.JobProfile [sfDir] [outFile] [nameSubstring...]"`
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/jobprofile.tsv")
    val filters = args.drop(2)
    val spark = GraftSession.local(GraftSession.envCpus)
    // one-time store/index builds happen OUTSIDE the per-query counters,
    // mirroring the bench's fixtures_sec accounting
    Fixtures.warmAll(spark, sfDir)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
      }
    })
    val selected =
      if (filters.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => filters.exists(n.contains) }
    val sb = new StringBuilder("query\tjobs\tstages\ttasks\twall_s\n")
    selected.foreach { case (name, fn) =>
      // settle the async listener bus between queries; counts are exact as
      // long as the bus drains within the pause (it is idle by then)
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      CacheScope.release()
      Thread.sleep(300)
      sb.append(f"$name\t${jobs.get}\t${stages.get}\t${tasks.get}\t$dt%.3f\n")
      System.err.println(f"[profile] $name%-28s jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d $dt%7.2f s")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    spark.stop()
  }
}
