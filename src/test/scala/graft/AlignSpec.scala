package graft

import graft.ts.{Align, TimeUtil}
import org.apache.spark.sql.functions._

/** ffill / resample / align operators (SURVEY §2 R1/R2). The two-pass bucketed
  * ffill must agree with the obvious single-window LOCF on every input.
  */
class AlignSpec extends SparkTestBase {

  test("ffill fills gaps with last non-null, leading nulls stay null") {
    val df = seriesDf(Seq(
      "2021-01-01" -> null, "2021-01-02" -> 1.0, "2021-01-03" -> null,
      "2021-01-04" -> null, "2021-01-05" -> 2.0, "2021-01-06" -> null))
    val out = collectMap(Align.ffill(df, "time", Seq("value"), buckets = 3))
    assert(out(ts("2021-01-01")) == null)
    assert(out(ts("2021-01-03")) == 1.0)
    assert(out(ts("2021-01-04")) == 1.0)
    assert(out(ts("2021-01-06")) == 2.0)
  }

  test("ffill fails loudly on null time rows instead of NPE") {
    val df = seriesDf(Seq("2021-01-01" -> 1.0))
      .unionByName(spark.sql("SELECT CAST(NULL AS TIMESTAMP) time, 2.0 value"))
    // the guard is plan-side now (raise_error in the bucket projection —
    // no driver materialization exists to check on), so it surfaces as a
    // Spark execution failure carrying the message
    val e = intercept[Exception](
      Align.ffill(df, "time", Seq("value"), buckets = 2).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null 'time'")),
      s"expected the null-time message, got: ${msgs(e).mkString(" | ")}")
  }

  test("bucketed ffill == global-window ffill on random data") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { i =>
      val day = 1 + i % 28
      val month = 1 + (i / 28) % 12
      (f"2021-$month%02d-$day%02d ${i % 24}%02d:00:00",
        if (rnd.nextBoolean()) rnd.nextDouble() else null)
    }
    val df = seriesDf(rows.distinct.map { case (t, v) => (t, v: Any) })
    val fast = Align.ffill(df, "time", Seq("value"), buckets = 7)
    val w = org.apache.spark.sql.expressions.Window.orderBy("time")
      .rowsBetween(Long.MinValue, 0)
    val slow = df.withColumn("value", last(col("value"), ignoreNulls = true).over(w))
    assert(collectMap(fast) == collectMap(slow))
  }

  test("resampleFfill: grid-only rows, as-of value, observation at grid instant wins") {
    val df = seriesDf(Seq(
      "2021-01-01 00:05:00" -> 1.0,
      "2021-01-02 00:00:00" -> 2.0, // exactly at a grid point
      "2021-01-04 12:00:00" -> 3.0))
    val out = Align.pointInTime(Align.grid(spark, ts("2021-01-01"), ts("2021-01-06"),
      TimeUtil.parseMicros("1d"), "time"), df, Nil, "time", Seq("value"))
    val m = collectMap(out)
    assert(m.size == 6)
    assert(m(ts("2021-01-01")) == null) // grid point before first observation
    assert(m(ts("2021-01-02")) == 2.0)  // at-instant observation seen
    assert(m(ts("2021-01-03")) == 2.0)
    assert(m(ts("2021-01-05")) == 3.0)
    assert(m(ts("2021-01-06")) == 3.0)
  }

  test("alignOuter: full outer join on time + per-column ffill") {
    val a = seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-03" -> 3.0))
    val b = seriesDf(Seq("2021-01-02" -> 20.0, "2021-01-04" -> 40.0))
    val out = Align.alignOuter("time", Seq("x" -> a, "y" -> b)).collect()
    assert(out.length == 4)
    val at3 = out.find(_.getAs[java.sql.Timestamp]("time") == ts("2021-01-03")).get
    assert(at3.getAs[Double]("x") == 3.0 && at3.getAs[Double]("y") == 20.0)
    val at4 = out.find(_.getAs[java.sql.Timestamp]("time") == ts("2021-01-04")).get
    assert(at4.getAs[Double]("x") == 3.0 && at4.getAs[Double]("y") == 40.0)
  }

  test("alignOuter wide stack-pivot path == full-outer join chain") {
    import spark.implicits._
    // 20 frames (> WideAlignThreshold) with interleaved, partially-shared
    // time grids and holes — the wide path must reproduce the join chain's
    // frame (including ffill) exactly
    val frames = (0 until 20).map { i =>
      val rows = (0 until 40).map { t =>
        (new java.sql.Timestamp(1609459200000L + (t.toLong * 20 + i * 3) * 60000L),
          (i * 1000 + t).toDouble)
      }
      s"f$i" -> rows.toDF("time", "value")
    }
    assert(frames.size > Align.WideAlignThreshold)
    val wide = Align.alignOuter("time", frames)
    // the chain spelling, inlined (what alignOuter runs below threshold)
    val renamed = frames.map { case (n, d) =>
      d.select(col("time"), col("value").as(n)) }
    val chained = Align.ffill(
      renamed.reduce((a, b) => a.join(b, Seq("time"), "full_outer")),
      "time", frames.map(_._1))
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      (0 until r.length).map(c => Option(r.get(c)).map(_.toString).orNull).mkString("|")
    }.sorted.toSeq
    assert(wide.columns.toSeq == chained.columns.toSeq)
    assert(canon(wide) == canon(chained))
    // mixed value dtypes cannot stack: the chain path must still be taken
    // (and produce a frame) even above the threshold
    val mixed = frames.take(10) ++ (10 until 20).map { i =>
      s"f$i" -> frames(i)._2.select(col("time"),
        col("value").cast("string").as("value"))
    }
    assert(Align.alignOuter("time", mixed).columns.length == 21)
  }

  test("asOfJoin: spine rows get last value at-or-before their time, payload preserved") {
    import spark.implicits._
    val data = seriesDf(Seq("2021-01-02" -> 2.0, "2021-01-05" -> 5.0))
    val spine = Seq((ts("2021-01-01"), "a"), (ts("2021-01-02"), "b"),
      (ts("2021-01-04"), "c"), (ts("2021-01-06"), "d")).toDF("time", "label")
    val out = Align.pointInTime(spine, Align.alignOuter("time", Seq("x" -> data),
        doFfill = false), Nil, "time", Seq("x"))
      .orderBy("time").collect()
    assert(out.map(r => (Option(r.getAs[Any]("x")), r.getAs[String]("label"))).toSeq ==
      Seq((None, "a"), (Some(2.0), "b"), (Some(2.0), "c"), (Some(5.0), "d")))
  }

  test("asOfJoinKeyed: values never cross entity boundaries") {
    import spark.implicits._
    val data = Seq((1L, ts("2021-01-01"), 10.0), (2L, ts("2021-01-01"), 20.0))
      .toDF("k", "time", "v")
    val spine = Seq((1L, ts("2021-01-02"), "a"), (2L, ts("2021-01-02"), "b"),
      (3L, ts("2021-01-02"), "c")).toDF("k", "time", "tag")
    val out = Align.pointInTime(spine, data, Seq("k"), "time", Seq("v"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), Option(r.getAs[Any]("v")), r.getAs[String]("tag"))).toSeq ==
      Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "b"), (3L, None, "c")))
  }

  test("resampleInterp: linear between neighbors, exact at hits, null past the ends") {
    import spark.implicits._
    // observations at day 2 (v=2) and day 6 (v=10); 1-day grid over [1, 7]
    val data = Seq((ts("2021-01-02"), 2.0), (ts("2021-01-06"), 10.0))
      .toDF("time", "value")
    val out = Align.pointInTime(Align.grid(spark, ts("2021-01-01"), ts("2021-01-07"),
        86400L * 1000000, "time"), data, Nil, "time", Seq("value"), Align.Interp)
      .orderBy("time").collect()
      .map(r => Option(r.getAs[Any]("value")).map(_.asInstanceOf[Double]))
    assert(out.toSeq == Seq(
      None,        // before first observation: no extrapolation
      Some(2.0),   // exact hit
      Some(4.0), Some(6.0), Some(8.0), // linear 2 → 10 over 4 days
      Some(10.0),  // exact hit
      None))       // past last observation
    // storage-level dispatch guard
    val ex = intercept[IllegalArgumentException] {
      Fixtures.store(spark, "/root/testdata/sf0.001").storage
        .load("events", "click", freq = Some("2h"), how = "cubic")
    }
    assert(ex.getMessage.contains("'cubic'"))
  }

  test("interpJoinKeyed: per-entity interpolation never crosses keys") {
    import spark.implicits._
    val data = Seq(
      (1L, ts("2021-01-02"), 2.0), (1L, ts("2021-01-06"), 10.0),
      (2L, ts("2021-01-04"), 100.0)).toDF("k", "time", "v")
    val spine = Seq(
      (1L, ts("2021-01-01")), (1L, ts("2021-01-04")), (1L, ts("2021-01-06")),
      (2L, ts("2021-01-04")), (2L, ts("2021-01-05"))).toDF("k", "time")
    val out = Align.pointInTime(spine, data, Seq("k"), "time", Seq("v"), Align.Interp)
      .orderBy("k", "time").collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("v"))))
    assert(out.toSeq == Seq(
      (1L, None),        // before key 1's first observation
      (1L, Some(6.0)),   // halfway 2 -> 10
      (1L, Some(10.0)),  // exact hit
      (2L, Some(100.0)), // key 2's exact hit — never sees key 1's points
      (2L, None)))       // past key 2's last observation
  }

  test("asOfJoinKeyedTolerance: stale carries null out, fresh ones serve") {
    import spark.implicits._
    val data = Seq(
      (1L, ts("2021-01-01"), 5.0), (1L, ts("2021-01-10"), 9.0),
      (2L, ts("2021-01-04"), 7.0)).toDF("k", "time", "v")
    val spine = Seq(
      (1L, ts("2021-01-02")),  // 1d after obs -> fresh
      (1L, ts("2021-01-08")),  // 7d after obs -> stale
      (1L, ts("2021-01-10")),  // exact hit, age 0
      (2L, ts("2021-01-09"))   // 5d after obs -> stale
    ).toDF("k", "time")
    val tol = 2L * 86400 * 1000000
    val out = Align.pointInTime(spine, data, Seq("k"), "time",
        Seq("v"), Align.Backward, Some(tol))
      .orderBy("k", "time").collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("v"))))
    assert(out.toSeq == Seq(
      (1L, Some(5.0)), (1L, None), (1L, Some(9.0)), (2L, None)))
    // tolerance 0 still serves an observation AT the spine instant
    val exact = Align.pointInTime(spine, data, Seq("k"), "time",
        Seq("v"), Align.Backward, Some(0L))
      .orderBy("k", "time").collect().map(r => Option(r.getAs[Any]("v")))
    assert(exact.toSeq == Seq(None, None, Some(9.0), None))
  }

  test("asOfJoinTolerance: unkeyed staleness bound, per-frame ages independent") {
    import spark.implicits._
    val a = Seq((ts("2021-01-01"), 1.0)).toDF("time", "value")
    val b = Seq((ts("2021-01-05"), 2.0)).toDF("time", "value")
    val spine = Seq(
      Tuple1(ts("2021-01-02")),  // a fresh (1d), b future
      Tuple1(ts("2021-01-06")),  // a stale (5d), b fresh (1d)
      Tuple1(ts("2021-01-09"))   // both stale
    ).toDF("time")
    val tol = 2L * 86400 * 1000000
    val out = Align.pointInTime(spine, Align.alignOuter("time", Seq("a" -> a, "b" -> b),
        doFfill = false), Nil, "time", Seq("a", "b"), Align.Backward, Some(tol))
      .orderBy("time").collect()
      .map(r => (Option(r.getAs[Any]("a")), Option(r.getAs[Any]("b"))))
    assert(out.toSeq == Seq(
      (Some(1.0), None), (None, Some(2.0)), (None, None)))
  }

  test("asOfJoinKeyedDirection: forward/nearest semantics, ties backward, tolerance") {
    import spark.implicits._
    val data = Seq(
      (1L, ts("2021-01-02"), 2.0), (1L, ts("2021-01-06"), 6.0)
    ).toDF("k", "time", "v")
    val spine = Seq(
      (1L, ts("2021-01-01")),  // before both: fwd=2, nearest=2 (1d vs none)
      (1L, ts("2021-01-03")),  // between: back 1d, fwd 3d -> nearest=2
      (1L, ts("2021-01-05")),  // between: back 3d, fwd 1d -> nearest=6
      (1L, ts("2021-01-04")),  // TIE (2d both ways) -> backward wins: 2
      (1L, ts("2021-01-06")),  // exact hit -> both directions serve 6
      (1L, ts("2021-01-08"))   // after both: fwd=null, nearest=6
    ).toDF("k", "time")
    def run(mode: Align.Mode, tol: Option[Long] = None) =
      Align.pointInTime(spine, data, Seq("k"), "time", Seq("v"), mode, tol)
        .orderBy("time").collect().map(r => Option(r.getAs[Any]("v"))).toSeq
    assert(run(Align.Forward) == Seq(Some(2.0), Some(6.0), Some(6.0), Some(6.0),
      Some(6.0), None))
    // time order: 01, 03, 04 (the tie), 05, 06, 08
    assert(run(Align.Nearest) == Seq(Some(2.0), Some(2.0), Some(2.0), Some(6.0),
      Some(6.0), Some(6.0)))
    // backward: the last observation at-or-before, ties included
    assert(run(Align.Backward) == Seq(None, Some(2.0), Some(2.0), Some(2.0),
      Some(6.0), Some(6.0)))
    // a 1-day lookahead bound voids forward matches farther than 1d
    val day = 86400L * 1000000
    assert(run(Align.Forward, Some(day)) == Seq(Some(2.0), None, None,
      Some(6.0), Some(6.0), None))
    // a bound has no meaning between two neighbors; negative bounds none at all
    intercept[IllegalArgumentException] { run(Align.Interp, Some(day)) }
    intercept[IllegalArgumentException] { run(Align.Forward, Some(-1L)) }
    // bucket cuts belong to the unkeyed scan; a keyed join has none to reuse
    intercept[IllegalArgumentException] {
      Align.pointInTime(spine, data, Seq("k"), "time", Seq("v"),
        memo = Some(new Align.CutsMemo))
    }
  }

  test("asOfJoinInterp: spine rows interpolate per frame, payload rides along") {
    import spark.implicits._
    val a = Seq((ts("2021-01-01"), 10.0), (ts("2021-01-05"), 50.0))
      .toDF("time", "value")
    val b = Seq((ts("2021-01-02"), 4.0), (ts("2021-01-04"), 8.0))
      .toDF("time", "value")
    val spine = Seq(
      (ts("2021-01-02"), 100L),  // a: quarter 10->50 = 20; b: exact hit 4
      (ts("2021-01-03"), 200L),  // a: halfway = 30; b: halfway 4->8 = 6
      (ts("2021-01-06"), 300L)   // past both ends -> nulls
    ).toDF("time", "spine_id")
    val out = Align.pointInTime(spine, Align.alignOuter("time", Seq("a" -> a, "b" -> b),
        doFfill = false), Nil, "time", Seq("a", "b"), Align.Interp)
      .orderBy("time").collect()
      .map(r => (r.getLong(1), Option(r.getAs[Any]("a")), Option(r.getAs[Any]("b"))))
    assert(out.toSeq == Seq(
      (100L, Some(20.0), Some(4.0)),
      (200L, Some(30.0), Some(6.0)),
      (300L, None, None)))
  }

  test("alignInterp: per-feature interpolation on the union axis") {
    import spark.implicits._
    val a = Seq((ts("2021-01-01"), 10.0), (ts("2021-01-05"), 50.0))
      .toDF("time", "value")
    val b = Seq((ts("2021-01-03"), 7.0), (ts("2021-01-07"), 3.0))
      .toDF("time", "value")
    val out = Align.alignInterp("time", Seq("a" -> a, "b" -> b))
      .orderBy("time").collect()
      .map(r => (r.getTimestamp(0), Option(r.getAs[Any]("a")),
        Option(r.getAs[Any]("b"))))
    assert(out.toSeq == Seq(
      (ts("2021-01-01"), Some(10.0), None),        // before b's first obs
      (ts("2021-01-03"), Some(30.0), Some(7.0)),   // a halfway 10 -> 50
      (ts("2021-01-05"), Some(50.0), Some(5.0)),   // b halfway 7 -> 3
      (ts("2021-01-07"), None, Some(3.0))))        // past a's last obs
  }

  test("pointInTime == brute-force scan over keys x mode x tolerance") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val hour = 3600L * 1000000
    val base = TimeUtil.micros(ts("2021-01-01"))
    def at(h: Int) = TimeUtil.timestamp(base + h * hour)
    // (key, hour, v, w): key 1 has an observation AT a probe instant (h2),
    // null values the fill must skip (v at h5, w at h6) and nearest ties
    // (v at h4: h2 vs h6, at h8: h6 vs h10); key 3 has no data at all
    val obs = Seq(
      (1L, 2, Some(2.0), Some(20L)), (1L, 5, None, Some(50L)),
      (1L, 6, Some(6.0), None), (1L, 10, Some(10.0), Some(100L)),
      (2L, 4, Some(40.0), Some(400L)), (2L, 8, None, None),
      (2L, 12, Some(120.0), Some(1200L)))
    val probes = Seq((1L, 0), (1L, 2), (1L, 3), (1L, 4), (1L, 5), (1L, 8),
      (1L, 11), (2L, 4), (2L, 6), (2L, 8), (2L, 13), (3L, 5))
    val cols = Seq("v", "w")
    val data = obs.map { case (k, h, v, w) => (k, at(h), v, w) }.toDF("k", "time", "v", "w")
    val spine = probes.map { case (k, h) => (k, at(h), s"$k@$h") }.toDF("k", "time", "tag")
    // the oracle: scan every observation of the probe's source directly
    def scan(src: Seq[(Long, Int, Option[Double], Option[Long])], h: Int, c: Int,
        mode: Align.Mode, tol: Option[Long]): Option[Double] = {
      val t = base + h * hour
      val seen = src.flatMap { o =>
        (if (c == 0) o._3 else o._4.map(_.toDouble)).map(v => (base + o._2 * hour, v))
      }
      val back = seen.filter(_._1 <= t).maxByOption(_._1)
      val ahead = seen.filter(_._1 >= t).minByOption(_._1)
      def bounded(o: Option[(Long, Double)]) =
        o.filter(x => math.abs(x._1 - t) <= tol.getOrElse(Long.MaxValue)).map(_._2)
      mode match {
        case Align.Backward => bounded(back)
        case Align.Forward => bounded(ahead)
        case Align.Nearest =>
          bounded(if (ahead.exists(a => back.forall(b => a._1 - t < t - b._1))) ahead else back)
        case Align.Interp =>
          for ((t0, v0) <- back; (t1, v1) <- ahead)
            yield if (t1 == t0) v0 else v0 + (v1 - v0) * ((t - t0).toDouble / (t1 - t0).toDouble)
      }
    }
    val modes = Seq(Align.Backward, Align.Forward, Align.Nearest, Align.Interp)
    for (keyed <- Seq(false, true); mode <- modes;
         tol <- Seq(None, Some(2 * hour)) if mode != Align.Interp || tol.isEmpty) {
      // unkeyed data must be time-unique (what alignOuter hands over): key 1's
      val (keys, d, sp) =
        if (keyed) (Seq("k"), data, spine)
        else (Nil, data.where($"k" === 1).drop("k"), spine.drop("k"))
      val out = Align.pointInTime(sp, d, keys, "time", cols, mode, tol)
      val what = s"keys=$keys mode=$mode tolerance=$tol"
      assert(out.columns.toSeq == keys ++ Seq("time", "tag") ++ cols, what)
      assert(out.schema("w").dataType == (if (mode == Align.Interp) DoubleType else LongType), what)
      val got = out.collect().map(r => r.getAs[String]("tag") -> cols.map(c =>
        Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue))).toMap
      val want = probes.map { case (k, h) =>
        val src = obs.filter(_._1 == (if (keyed) k else 1L))
        s"$k@$h" -> cols.indices.map(c => scan(src, h, c, mode, tol))
      }.toMap
      assert(got == want, what)
    }
    graft.CacheScope.release()
  }

  test("alignInterp adds the same plan depth at any width") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    // nested Projects along the deepest path: a per-column withColumn fold
    // grows this with the frame count until the analyzer overflows its stack
    def depth(p: LogicalPlan): Int =
      (if (p.isInstanceOf[Project]) 1 else 0) + (p.children.map(depth) :+ 0).max
    def added(width: Int): Int = {
      val frames = (0 until width).map { i =>
        s"f$i" -> Seq((ts("2021-01-01"), i.toDouble), (ts(f"2021-01-${i % 27 + 2}%02d"), 1.0))
          .toDF("time", "value")
      }
      depth(Align.alignInterp("time", frames).queryExecution.analyzed) -
        depth(Align.alignOuter("time", frames, doFfill = false).queryExecution.analyzed)
    }
    assert(added(4) == added(40))
    graft.CacheScope.release()
  }

  test("TimeUtil micros round-trip on both sides of the epoch") {
    val pre = ts("1969-12-31 23:59:59.5")
    assert(TimeUtil.micros(pre) == -500000L)
    assert(TimeUtil.timestamp(-500000L) == pre)
    val post = ts("2021-01-01 00:00:00.000001")
    assert(TimeUtil.timestamp(TimeUtil.micros(post)) == post)
  }

  test("duration parsing") {
    assert(TimeUtil.parseMicros("-15min") == -15L * 60 * 1000000)
    assert(TimeUtil.parseMicros("2d") == 2L * 86400 * 1000000)
    assert(TimeUtil.parseMicros("10min") == 600L * 1000000)
    intercept[IllegalArgumentException](TimeUtil.parseMicros("abc"))
  }

  test("alignOuterRaw: fused dedup+pivot equals dedup-then-align, exchanges flat") {
    import org.apache.spark.sql.DataFrame
    // 18 features (past WideAlignThreshold), each with REWRITTEN versions
    // (later created_time wins), a null-latest case (non-null preferred),
    // and disjoint time grids so ffill has real holes to fill
    val frames: Seq[(String, DataFrame)] = (0 until 18).map { i =>
      val rows = Seq(
        (ts(f"2021-01-${i % 3 + 1}%02d 00:00:00"), Some(i * 1.0), ts("2021-02-01 00:00:00")),
        (ts(f"2021-01-${i % 3 + 1}%02d 00:00:00"), Some(-99.0), ts("2021-01-15 00:00:00")),
        (ts(f"2021-01-${i % 3 + 10}%02d 00:00:00"), Some(i * 10.0), ts("2021-02-01 00:00:00")))
      val withNull =
        if (i % 5 == 0)
          rows :+ ((ts(f"2021-01-${i % 3 + 10}%02d 00:00:00"),
            Option.empty[Double], ts("2021-03-01 00:00:00")))
        else rows
      import spark.implicits._
      s"f$i" -> withNull.toDF("time", "value", "created_time")
        .select(col("time"), col("value").cast("double"), col("created_time"))
    }
    def dedup(d: DataFrame): DataFrame =
      d.groupBy(col("time"))
        .agg(max(struct(col("value").isNotNull.as("nn"), col("created_time"),
          col("value"))).as("s"))
        .select(col("time"), col("s.value").as("value"))
    // the point of the fuse: exchange count is a CONSTANT of the ffill
    // machinery (pivot + bucket scan + carries), INDEPENDENT of width —
    // the pre-fuse shape added one dedup exchange per feature. Counted on
    // UNEXECUTED plans (an AQE-finalized plan string renders materialized
    // stages with reused subtrees expanded, which would double-count)
    def nEx(d: DataFrame): Int = d.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    val fusedHalfEx = nEx(Align.alignOuterRaw("time", "value", "created_time",
      frames.take(9)))
    val fused = Align.alignOuterRaw("time", "value", "created_time", frames)
    assert(nEx(fused) == fusedHalfEx,
      s"fused wide align exchanges grow with width: 9 -> $fusedHalfEx, " +
        s"18 -> ${nEx(fused)}")
    val expected = Align.alignOuter("time", frames.map { case (n, d) => n -> dedup(d) })
    val f = fused.collect().map(_.toString).sorted.toSeq
    val e = expected.collect().map(_.toString).sorted.toSeq
    assert(f == e, s"fused path diverged\nfused: ${f.take(3)}\nexpect: ${e.take(3)}")
    graft.CacheScope.release()
  }
}
