package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * A single client thread drives the public API in a closed loop on a
  * `GraftSession.local` session. The last stdout line is the result:
  * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  /** Times the store is built (each into a fresh root); setup_s reports
    * session start plus the median build.
    */
  val SetupReps = 3

  /** Least time spent warming up: the first round pays first-call costs,
    * later ones let the JIT finish compiling the hot paths.
    */
  val WarmUpSeconds = 10.0

  private val opIds = new java.util.concurrent.atomic.AtomicLong()

  /** One finished operation. Times are wall-clock ms with sub-ms precision
    * (anchored once, advanced by the monotonic clock).
    */
  final case class Done(id: String, kind: String, startMs: Double,
      endMs: Double, out: Outcome, filesAdded: Long, bytesAdded: Long) {
    def ms: Double = endMs - startMs
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(m.keySet == known, s"need exactly ${known.map("--" + _).mkString(" ")}")
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    })
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workload.Names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val work = new File(sys.props.getOrElse("perfbench.work",
      sys.error("perfbench.work is not set; run through perfbench/run.py")))
    val code = try run(args, work) finally deleteTree(work)
    sys.exit(code)
  }

  private def run(args: Args, work: File): Int = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    val steal0 = cpuSteal()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cores)
    val trace = if (args.trace) Some(new SparkTrace(spark)) else None
    try {
      val sessionS = (System.currentTimeMillis() - procStartMs) / 1000.0
      val w = Workload(args.workload, spark, args.seed)
      val builds = (0 until SetupReps).map { rep =>
        if (rep > 0) deleteTree(new File(work, s"store${rep - 1}"))
        val t0 = System.nanoTime()
        w.setup(new File(work, s"store$rep").getPath)
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionS + Stats.median(builds)
      val warmT0 = System.nanoTime()
      def warmedS = (System.nanoTime() - warmT0) / 1e9
      var rounds = 0
      while (rounds == 0 || warmedS < WarmUpSeconds) { w.warmUp(rounds); rounds += 1 }
      val warmS = warmedS

      // a traced run first measures untraced, then with tracing on, so the
      // difference between its two phases is the tracing overhead
      val units = w.units
      val cpu0 = cpuNs()
      val untraced = measure(spark, units, args.seconds, traced = false)
      val cpuMsPerOp = (cpuNs() - cpu0) / 1e6 / untraced.size
      val steal1 = cpuSteal()
      val traced = trace.map { t =>
        t.start()
        val (gc0, c0) = (gcMs(), cpuNs())
        val d = measure(spark, units, args.seconds, traced = true)
        (d, gcMs() - gc0, (cpuNs() - c0) / 1e6 / d.size)
      }
      trace.foreach(_.drain())
      val checks = w.verify()
      val storedBytes = treeBytes(new File(w.storeRoot))
      val partitionFiles = filesPerDataDir(new File(w.storeRoot))
      trace.foreach(_.stop())

      val all = untraced ++ traced.map(_._1).getOrElse(Nil)
      val attempted = all.size + checks.size
      val failed = all.count(!_.out.ok) + checks.count(!_.ok)
      (all.map(_.out) ++ checks).filterNot(_.ok).take(20)
        .foreach(o => System.err.println(s"perfbench: FAILED ${o.detail}"))
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS(untraced), "1/s"),
        ("op_p50_ms", Stats.median(untraced.map(_.ms)), "ms"),
        ("rows_per_s", untraced.map(_.out.rows).sum / elapsedS(untraced), "rows/s"),
        ("stored_bytes_per_user_byte", Stats.ratio(storedBytes.toDouble, w.userBytes.toDouble),
          "ratio"))
      val extra = Seq(("failed_ratio", failed.toDouble / attempted, "ratio"),
        ("peak_rss_mb", peakRssMb(), "MB"), ("cpu_ms_per_op", cpuMsPerOp, "ms")) ++
        (if (untraced.size >= 100) Seq(("op_p90_ms", Stats.percentile(untraced.map(_.ms), 90), "ms"))
         else Nil)
      val layers = for (t <- trace; (d, gc, cpu) <- traced) yield
        Layers(d, t, gc, cpu, partitionFiles, peakRssMb()) ++ Seq(
          ("trace.overhead_op_p50_pct", 100 * (Stats.ratio(Stats.median(d.map(_.ms)),
            Stats.median(untraced.map(_.ms))) - 1), "%"),
          ("trace.overhead_ops_per_s_pct", 100 * (1 - Stats.ratio(opsPerS(d),
            opsPerS(untraced))), "%"))

      val info = Seq(
        "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
        "trace" -> (if (args.trace) "1" else "0"),
        "git_sha" -> Json.str(sys.props.getOrElse("perfbench.git_sha", "unknown")),
        "source_sha256" -> Json.str(sys.props.getOrElse("perfbench.source_sha256", "unknown")),
        "cores" -> cores.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
        "load_avg_start" -> Json.num(loadStart), "load_avg_end" -> Json.num(loadAvg()),
        "cpu_steal_pct" -> Json.num(stealPct(steal0, steal1)),
        "session_s" -> Json.num(sessionS),
        "setup_builds_s" -> builds.map(Json.num).mkString("[", ", ", "]"),
        "warm_up_s" -> Json.num(warmS), "warm_up_rounds" -> rounds.toString,
        "ops" -> untraced.size.toString, "measured_s" -> Json.num(elapsedS(untraced))) ++
        (endToEnd ++ extra).map { case (n, v, _) => n -> Json.num(v) }
      println("perfbench run " + Json.obj(info))

      for (t <- trace; (d, _, _) <- traced) {
        val dir = new File(sys.props.getOrElse("perfbench.traces", work.getPath))
        dir.mkdirs()
        val file = new File(dir, s"${args.workload}-seed${args.seed}.json")
        Files.writeString(file.toPath, Spans.toJson(Layers.spans(d, t)))
        println(s"perfbench spans ${file.getPath}")
      }

      val metrics = layers.getOrElse(endToEnd).map { case (n, v, unit) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }
      println(Json.obj(Seq("correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString, "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics))))
      0
    } finally spark.stop()
  }

  private def elapsedS(done: Seq[Done]): Double =
    (done.last.endMs - done.head.startMs) / 1000.0

  private def opsPerS(done: Seq[Done]): Double = done.size / elapsedS(done)

  /** The closed loop: draw units until `seconds` have passed, and end at
    * the last operation's return so no partial operation is counted. A
    * traced operation runs under its own job group, and a traced run
    * snapshots each operation's footprint directory around it.
    */
  private def measure(spark: SparkSession, units: Iterator[Seq[Op]], seconds: Int,
      traced: Boolean): Vector[Done] = {
    val sc = spark.sparkContext
    val anchorMs = System.currentTimeMillis().toDouble
    val anchorNs = System.nanoTime()
    def nowMs = anchorMs + (System.nanoTime() - anchorNs) / 1e6
    val deadline = nowMs + seconds * 1000.0
    val out = Vector.newBuilder[Done]
    while (nowMs < deadline && units.hasNext) {
      units.next().foreach { op =>
        val id = s"op${Main.opIds.getAndIncrement()}"
        val before = if (traced) op.footprint.map(p => treeStats(new File(p))) else None
        if (traced) sc.setJobGroup(id, op.kind, interruptOnCancel = false)
        val t0 = nowMs
        val res = try op.run() finally if (traced) sc.clearJobGroup()
        val t1 = nowMs
        val (files, bytes) = before.fold((0L, 0L)) { case (f0, b0) =>
          val (f1, b1) = treeStats(new File(op.footprint.get))
          (f1 - f0, b1 - b0)
        }
        out += Done(id, op.kind, t0, t1, res, files, bytes)
      }
    }
    out.result()
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time of every thread of this process: driver, executors, GC, JIT. */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Host-wide (steal, total) CPU ticks from /proc/stat, where available:
    * time a virtual machine's CPUs were runnable but not run, which slows
    * every wall-clock figure of a run without changing its work.
    */
  private def cpuSteal(): Option[(Long, Long)] = scala.util.Try {
    val t = firstLine("/proc/stat", _.startsWith("cpu ")).trim.split("\\s+").drop(1).map(_.toLong)
    (t(7), t.take(8).sum)
  }.toOption

  private def firstLine(path: String, p: String => Boolean): String = {
    val f = scala.io.Source.fromFile(path)
    try f.getLines().find(p).getOrElse("") finally f.close()
  }

  private def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b) yield 100 * Stats.ratio(s1 - s0, t1 - t0))
      .getOrElse(0.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** VmHWM: the process's peak resident set. */
  private def peakRssMb(): Double = scala.util.Try(
    firstLine("/proc/self/status", _.startsWith("VmHWM:")).split("\\s+")(1).toDouble / 1024.0
  ).getOrElse(0.0)

  private def walk(dir: File): Vector[File] =
    if (!dir.exists()) Vector.empty
    else scala.util.Using.resource(Files.walk(dir.toPath))(
      _.iterator().asScala.map(_.toFile).filter(_.isFile).toVector)

  /** Parquet data files, and bytes of all files, under `dir`. */
  def treeStats(dir: File): (Long, Long) =
    walk(dir).foldLeft((0L, 0L)) { case ((n, b), f) =>
      (n + (if (f.getName.endsWith(".parquet")) 1 else 0), b + f.length)
    }

  def treeBytes(dir: File): Long = treeStats(dir)._2

  /** Parquet files per directory that holds any: the fragmentation
    * compaction works against.
    */
  def filesPerDataDir(dir: File): Double = {
    val files = walk(dir).filter(_.getName.endsWith(".parquet"))
    Stats.ratio(files.size.toDouble, files.map(_.getParentFile).distinct.size.toDouble)
  }

  def deleteTree(f: File): Unit =
    if (f.exists()) scala.util.Using.resource(Files.walk(f.toPath))(
      _.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p)))
}
