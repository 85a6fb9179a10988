package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)
    // measurement context: a contended machine (concurrent Spark jobs,
    // driver-side builds) silently inflates wall times 3-4x — record the
    // 1-min load average around the run so a contaminated artifact is
    // distinguishable from a regression (round-2 lesson: the driver's
    // 96.8 s BENCH vs 25.6 s uncontended was pure contention)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    // warm up: fixture construction (store ingestion, persisted dedup/ANN
    // stores and indexes, streamed materializations, trained models) is
    // one-time setup, not query time — but it IS real engine work, so it
    // is timed and reported separately as "fixtures_sec" instead of
    // leaking into the first iteration of whichever gate touches a store
    // first (the round-8/9 "in-gate rebuild" accounting problem).
    // Selective triage runs (`runMain graft.Bench <filter>`) skip the full
    // warm — they build only what their gates lazily touch, keeping the
    // outlier-triage loop fast (and exercising the lazy path).
    val tFix0 = System.nanoTime()
    if (args.isEmpty) Fixtures.warmAll(spark, sfDir)
    else Fixtures.store(spark, sfDir)
    val fixturesSec = (System.nanoTime() - tFix0) / 1e9
    System.err.println(f"[bench] fixtures (one-time builds) ${fixturesSec}%.2f s")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    // a crashing query must not bench as "fast": record the failure per
    // query instead of timing a swallowed exception (CORRECTNESS catches
    // breakage independently, but the bench artifact should carry its own
    // error flag so a -1-ish timing is never mistaken for a result)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // optional name-substring filters: `runMain graft.Bench simhash` times
    // only the matching queries — a standalone rerun on a quiet machine is
    // the triage step for any full-run outlier before calling it a
    // regression (the full run's neighbors contribute memory pressure the
    // query under test didn't cause)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.exists(n.contains) }
    val results = selected.map { case (name, fn) =>
      val times = (1 to iters).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            errors(name) = (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
              .take(200)
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // drop the iteration's tracked operator persists OUTSIDE the timed
        // window: per-call persists are never reused across calls, so
        // leftovers are pure memory pressure on later queries (the
        // ScaleSmoke cross-entry contamination lesson)
        CacheScope.release()
        System.err.println(f"[bench] $name%-24s $dt%8.2f s" + (if (ok) "" else "  FAILED"))
        if (ok) Some(dt) else None
      }
      name -> times
    }.filter(_._2.nonEmpty)
    val loadEnd = os.getSystemLoadAverage
    def f3(d: Double) = f"$d%.3f"
    // "queries" stays min-per-query (steady state: first iteration absorbs
    // JIT/codegen); "iterations" carries every raw timing for auditability
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v.min) }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, v) =>
      s"\"" + k + "\":[" + v.map(f3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_.min).sum else 0.0
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""iterations":$raw,"errors":$errs,"fixtures_sec":${f3(fixturesSec)},""" +
      s""""nq":${results.size},""" +
      s""""load_avg_start":${f3(loadStart)},"load_avg_end":${f3(loadEnd)},""" +
      s""""cpus":$cpus,"sf":"$sfDir"}"""
    println(json)
    // stdout goes through sbt's logger ("[info] " prefix) when run via
    // `sbt runMain` — ALSO drop the line in a file the driver can read raw
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")), json + "\n")
    // BENCH.json is clobbered by every run, and the driver's own capture has
    // truncated four rounds running — so every FULL run also self-preserves
    // to a round-stamped path (round inferred from the highest committed
    // BENCH_r{NN}.json + 1). A stamped file is only replaced by a quieter
    // capture, so a later contended run can't shadow a clean one.
    if (args.isEmpty && results.size == SparkEntry.queries.size) {
      import java.nio.file.{Files, Paths}
      // the round is passed explicitly when known (SPARK_GRAFT_BENCH_ROUND)
      // — inference from directory contents depends on the convention that
      // the driver's plain capture lags the current round by exactly one,
      // which breaks if a same-round re-run follows the driver's capture.
      // Inference fallback counts the DRIVER's plain captures only; self-
      // stamped _clean files must NOT count (every round stamps before its
      // driver capture lands).
      val round = sys.env.get("SPARK_GRAFT_BENCH_ROUND").map(_.toInt).getOrElse {
        val rx = "BENCH_r(\\d+)\\.json".r
        val prior = Option(Paths.get(".").toFile.list()).getOrElse(Array.empty)
          .collect { case rx(n) => n.toInt }
        if (prior.isEmpty) 1 else prior.max + 1
      }
      val stamped = Paths.get(f"BENCH_r$round%02d_clean.json")
      // Replacement rules for an existing stamp:
      //  - a run covering MORE queries supersedes (same round, the stamp
      //    predates queries added later in the round — the FINAL query
      //    count is the capture that matters); fewer queries never does
      //    (that would shadow the final set with a partial one);
      //  - at the SAME query count, only a measurably quieter run
      //    replaces: an UNKNOWN load (getSystemLoadAverage = -1 on some
      //    platforms) never overwrites a measured capture, and a measured
      //    run replaces an unknown one.
      val replaceable = !Files.exists(stamped) || {
        val prev = Files.readString(stamped)
        val prevNq = "\"nq\":(\\d+)".r.findFirstMatchIn(prev).map(_.group(1).toInt)
        val prevLoad = "\"load_avg_start\":(-?[0-9.]+)".r
          .findFirstMatchIn(prev).map(_.group(1).toDouble)
        prevNq.forall(p => p < results.size || (p == results.size &&
          loadStart >= 0 && prevLoad.forall(pl => pl < 0 || pl > loadStart)))
      }
      if (replaceable) Files.writeString(stamped, json + "\n")
    }
    spark.stop()
  }
}
