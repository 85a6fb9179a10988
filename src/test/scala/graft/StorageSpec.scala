package graft

import graft.catalog.PartitionScheme
import graft.storage.TimeseriesStorage
import org.apache.spark.sql.functions._

/** Partitioned-parquet timeseries storage (SURVEY §2 S1-S6, F1/F2, A1-A3). */
class StorageSpec extends SparkTestBase {

  def freshStore(): TimeseriesStorage = new TimeseriesStorage(tmpDir("store"), spark)

  test("save/load round-trip with hive date partitions, dedup collapses rewrites") {
    val st = freshStore()
    st.save("ns", "f", seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-02" -> 2.0),
      created = Some("2021-01-02 00:00:00")))
    // second append rewrites 01-02 with a later created_time
    st.save("ns", "f", seriesDf(Seq("2021-01-02" -> 99.0),
      created = Some("2021-01-03 00:00:00")))
    val out = collectMap(st.load("ns", "f"))
    assert(out == Map(ts("2021-01-01") -> 1.0, ts("2021-01-02") -> 99.0))
    // physical layout is hive-partitioned by date
    assert(st.listPartitions("ns", "f") == Seq("2021-01-01", "2021-01-02"))
  }

  test("year partitioning scheme") {
    val st = freshStore()
    st.save("ns", "y", seriesDf(Seq("2020-06-01" -> 1.0, "2021-06-01" -> 2.0)),
      scheme = PartitionScheme.Year)
    assert(st.listPartitions("ns", "y") == Seq("2020", "2021"))
    assert(collectMap(st.load("ns", "y", scheme = PartitionScheme.Year)).size == 2)
  }

  test("time-range filter inclusive both ends; to<from clamps to from") {
    val st = freshStore()
    st.save("ns", "r", seriesDf((1 to 9).map(d => (f"2021-01-0$d%d", d.toDouble: Any))))
    val in = st.load("ns", "r", from = Some(ts("2021-01-03")), to = Some(ts("2021-01-05")))
    assert(collectMap(in).keySet == Set(ts("2021-01-03"), ts("2021-01-04"), ts("2021-01-05")))
    val clamped = st.load("ns", "r", from = Some(ts("2021-01-04")), to = Some(ts("2021-01-02")))
    assert(collectMap(clamped).keySet == Set(ts("2021-01-04")))
  }

  test("time range prunes hive partitions in the plan") {
    val st = freshStore()
    st.save("ns", "p", seriesDf((1 to 9).map(d => (f"2021-01-0$d%d", d.toDouble: Any))))
    val df = st.scan("ns", "p", from = Some(ts("2021-01-03")), to = Some(ts("2021-01-04")))
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    // FileScan should report pushed partition filters limiting the listing
    assert(scan.contains("PartitionFilters") && scan.contains("partition"))
    assert(df.select("time").distinct().count() == 2)
  }

  test("time-travel keeps rows already known at event-time + delta") {
    val st = freshStore()
    // reference fixture shape (tests:451-492): same keys saved 3x with
    // created_time = time - {10,30,60}min and values 1/2/3
    for ((mins, v) <- Seq(10 -> 1.0, 30 -> 2.0, 60 -> 3.0)) {
      val df = seriesDf((1 to 5).map(d => (f"2021-01-0$d%d 12:00:00", v: Any)))
        .withColumn("created_time", col("time") - expr(s"INTERVAL $mins MINUTES"))
      st.save("ns", "tt", df)
    }
    def vals(tt: String) = collectMap(st.load("ns", "tt", timeTravel = Some(tt))).values.toSet
    // no travel: latest created_time wins = the -10min save
    assert(collectMap(st.load("ns", "tt")).values.toSet == Set(1.0))
    assert(vals("-15min") == Set(2.0))  // only saves created <= t-15min: -30, -60 → max is -30
    assert(vals("-45min") == Set(3.0))
    assert(st.load("ns", "tt", timeTravel = Some("-120min")).isEmpty)
  }

  test("serialized feature JSON round-trips structs and survives drift") {
    val st = freshStore()
    import spark.implicits._
    val structDf = Seq((ts("2021-01-01"), (1, "a")), (ts("2021-01-02"), (2, "b")))
      .toDF("time", "value")
    st.save("ns", "s", structDf, serialized = true)
    // drift: later rows are plain ints
    st.save("ns", "s", seriesDf(Seq("2021-01-03" -> 7)), serialized = true)
    val out = collectMap(st.load("ns", "s"))
    assert(out(ts("2021-01-01")).toString.contains("\"a\""))
    assert(out(ts("2021-01-03")) == "7")
    // read-side decode: the struct schema parses generation 1, NULLs the
    // drifted long generation; the atomic schema does the reverse
    val loaded = st.load("ns", "s")
    val structs = graft.api.FeatureStore
      .decodeSerialized(loaded, "value", "_1 BIGINT, _2 STRING")
      .collect().map(r => r.getTimestamp(0) -> Option(r.getStruct(1))).toMap
    assert(structs(ts("2021-01-01")).map(s => (s.getLong(0), s.getString(1))) == Some((1L, "a")))
    assert(structs(ts("2021-01-03")).isEmpty)
    val longs = graft.api.FeatureStore
      .decodeSerialized(loaded, "value", "bigint")
      .collect().map(r => r.getTimestamp(0) -> Option(r.get(1))).toMap
    assert(longs(ts("2021-01-03")) == Some(7L))
    assert(longs(ts("2021-01-01")).isEmpty)
  }

  test("extraneous columns rejected on save") {
    val st = freshStore()
    val bad = seriesDf(Seq("2021-01-01" -> 1.0)).withColumn("junk", lit(1))
    intercept[graft.catalog.FeatureStoreException](st.save("ns", "x", bad))
  }

  test("first/last value via edge partitions; time bounds") {
    val st = freshStore()
    st.save("ns", "fl", seriesDf((1 to 9).map(d => (f"2021-01-0$d%d", d * 10.0: Any))))
    assert(st.firstValue("ns", "fl").contains((ts("2021-01-01"), 10.0)))
    assert(st.lastValue("ns", "fl").contains((ts("2021-01-09"), 90.0)))
    assert(st.timeBounds("ns", "fl").contains((ts("2021-01-01"), ts("2021-01-09"))))
    // date-bounded forms: first at-or-after / last at-or-before
    assert(st.firstValue("ns", "fl", from = Some(ts("2021-01-04"))) ==
      Some((ts("2021-01-04"), 40.0)))
    assert(st.lastValue("ns", "fl", to = Some(ts("2021-01-04"))) ==
      Some((ts("2021-01-04"), 40.0)))
    // bound between rows: advances to the nearest row inside the bound
    assert(st.firstValue("ns", "fl", from = Some(ts("2021-01-03 12:00:00"))) ==
      Some((ts("2021-01-04"), 40.0)))
    assert(st.lastValue("ns", "fl", to = Some(ts("2021-01-03 12:00:00"))) ==
      Some((ts("2021-01-03"), 30.0)))
    // bound outside the data: empty
    assert(st.firstValue("ns", "fl", from = Some(ts("2022-01-01"))).isEmpty)
    assert(st.lastValue("ns", "fl", to = Some(ts("2020-01-01"))).isEmpty)
  }

  test("firstLastValues: fused probe matches the four lazy walks") {
    val st = freshStore()
    st.save("ns", "flv", seriesDf((1 to 9).map(d => (f"2021-01-0$d%d", d * 10.0: Any))))
    def expect(from: Option[java.sql.Timestamp], to: Option[java.sql.Timestamp]) = {
      val fused = st.firstLastValues("ns", "flv", from, to)
      val lazily = (st.firstValue("ns", "flv"), st.lastValue("ns", "flv"),
        from.flatMap(b => st.firstValue("ns", "flv", from = Some(b))),
        to.flatMap(b => st.lastValue("ns", "flv", to = Some(b))))
      assert(fused == lazily, s"from=$from to=$to")
    }
    expect(None, None)
    expect(Some(ts("2021-01-04")), Some(ts("2021-01-04")))
    // mid-partition bounds: the bound's own dir holds no qualifying row for
    // `from` (all rows < b) — exercises the per-slot lazy fallback
    expect(Some(ts("2021-01-03 12:00:00")), Some(ts("2021-01-03 12:00:00")))
    // bounds outside the data: bounded slots empty, global slots intact
    expect(Some(ts("2022-01-01")), Some(ts("2020-01-01")))
    // different bounds per direction
    expect(Some(ts("2021-01-02")), Some(ts("2021-01-08")))
    // missing feature: all four empty
    assert(st.firstLastValues("ns", "absent") == (None, None, None, None))
  }

  test("resample load: freq grid with defaults from data bounds") {
    val st = freshStore()
    st.save("ns", "rs", seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-05" -> 5.0)))
    val out = collectMap(st.load("ns", "rs", freq = Some("2d")))
    assert(out == Map(ts("2021-01-01") -> 1.0, ts("2021-01-03") -> 1.0, ts("2021-01-05") -> 5.0))
  }

  test("feature group: wide save, subset load, latest-row dedup keeps signals consistent") {
    val st = freshStore()
    import spark.implicits._
    val v1 = Seq((ts("2021-01-01"), 1.0, 10.0, ts("2021-01-01 01:00:00")),
      (ts("2021-01-02"), 2.0, 20.0, ts("2021-01-02 01:00:00")))
      .toDF("time", "a", "b", "created_time")
    st.saveGroup("ns", "g", v1, Seq("a", "b"))
    // rewrite day 2 with a later created_time: BOTH columns must flip together
    val v2 = Seq((ts("2021-01-02"), 99.0, 990.0, ts("2021-01-03 01:00:00")))
      .toDF("time", "a", "b", "created_time")
    st.saveGroup("ns", "g", v2, Seq("a", "b"))
    val wide = st.loadGroup("ns", "g", Seq("a", "b")).collect()
      .map(r => r.getAs[java.sql.Timestamp]("time") ->
        (r.getAs[Double]("a"), r.getAs[Double]("b"))).toMap
    assert(wide == Map(ts("2021-01-01") -> (1.0, 10.0), ts("2021-01-02") -> (99.0, 990.0)))
    // subset load returns only the requested column
    val sub = st.loadGroup("ns", "g", Seq("b"))
    assert(sub.columns.toSeq == Seq("time", "b"))
    // extraneous column on save rejected
    intercept[graft.catalog.FeatureStoreException](
      st.saveGroup("ns", "g", v1.withColumn("junk", lit(1)), Seq("a", "b")))
    // missing group loads empty
    assert(st.loadGroup("ns", "ghost", Seq("x")).isEmpty)
    // so does a group directory with no partitions left (plain and keyed)
    new java.io.File(st.groupPath("ns", "hollow")).mkdirs()
    assert(st.loadGroup("ns", "hollow", Seq("x")).isEmpty)
    assert(st.loadKeyedGroup("ns", "hollow", Seq("uid"), Seq("x")).isEmpty)
  }

  test("feature group: time-range and time-travel compose") {
    val st = freshStore()
    import spark.implicits._
    // two versions of day 1: created at +1h (v=1.0) and +2h (v=9.0)
    val df = Seq(
      (ts("2021-01-01"), 1.0, ts("2021-01-01 01:00:00")),
      (ts("2021-01-01"), 9.0, ts("2021-01-01 02:00:00")),
      (ts("2021-01-02"), 2.0, ts("2021-01-02 01:00:00")))
      .toDF("time", "a", "created_time")
    st.saveGroup("ns", "tt", df, Seq("a"))
    // latest wins
    assert(collectMap(st.loadGroup("ns", "tt", Seq("a")), "a")(ts("2021-01-01")) == 9.0)
    // time-travel 90min: only the +1h version of day 1 qualifies
    assert(collectMap(st.loadGroup("ns", "tt", Seq("a"),
      timeTravel = Some("90min")), "a")(ts("2021-01-01")) == 1.0)
    // range excludes day 2
    assert(collectMap(st.loadGroup("ns", "tt", Seq("a"),
      to = Some(ts("2021-01-01"))), "a").keySet == Set(ts("2021-01-01")))
  }

  test("a never-written feature or group dir reads empty without a WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val st = freshStore()
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("ghost-read-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warned.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try {
      assert(st.load("ns", "ghost").isEmpty)
      assert(st.loadGroup("ns", "ghost", Seq("x")).isEmpty)
    } finally root.removeAppender(capture)
    assert(warned.isEmpty, s"a never-written read logged: ${warned.toArray.mkString("\n")}")
  }

  test("empty/missing feature loads as empty frame; delete removes dir; copy clones data") {
    val st = freshStore()
    assert(st.load("ns", "ghost").isEmpty)
    st.save("ns", "c1", seriesDf(Seq("2021-01-01" -> 1.0)))
    st.copy("ns", "c1", "ns", "c2")
    assert(collectMap(st.load("ns", "c2")) == Map(ts("2021-01-01") -> 1.0))
    st.delete("ns", "c1")
    assert(st.load("ns", "c1").isEmpty)
    assert(st.listStoredFeatures("ns") == Seq("c2"))
  }

  test("CacheScope.release returns operator caches to baseline") {
    val st = freshStore()
    st.save("ns", "c", seriesDf((1 to 9).map(d => (f"2021-01-0$d%d", d.toDouble: Any))))
    CacheScope.release() // start from a clean slate whatever ran before
    val baseline = spark.sparkContext.getPersistentRDDs.size
    // bounds-defaulted resample: persists the scan+dedup frame (storage)
    // AND the aligned ffill input (Align) — both must be tracked
    val out = st.load("ns", "c", freq = Some("1d"))
    assert(out.count() == 9)
    assert(CacheScope.trackedCount > 0)
    val released = CacheScope.release()
    assert(released >= 1 && CacheScope.trackedCount == 0)
    // cached blocks are gone (localCheckpoint RDDs from other suites are
    // not CacheScope's to release — compare against the baseline, not 0)
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline)
    // released caches are a perf hint, not state: the same read still works
    assert(st.load("ns", "c", freq = Some("1d")).count() == 9)
    CacheScope.release()
  }

  test("dedupLatest prefers non-null values like pandas groupby().last()") {
    val st = freshStore()
    st.save("ns", "nn", seriesDf(Seq("2021-01-01" -> 5.0),
      created = Some("2021-01-01 00:00:00")))
    st.save("ns", "nn", seriesDf(Seq("2021-01-01" -> (null: Any)),
      created = Some("2021-01-02 00:00:00")))
    // newer version is null → older non-null value wins
    assert(collectMap(st.load("ns", "nn")) == Map(ts("2021-01-01") -> 5.0))
  }

  test("partition pruning bounds are UTC-consistent on a non-UTC JVM") {
    // Regression: partitionValue derived bounds from the JVM default zone
    // while the stored partition column is date_format'ed under the
    // UTC-pinned session timezone — on e.g. an EST JVM a range query near
    // UTC midnight pruned the partition holding its own rows.
    val prev = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
      val st = freshStore()
      st.save("ns", "tz", seriesDf(Seq(
        "2021-03-01 20:00:00" -> 1.0, "2021-03-01 21:00:00" -> 2.0,
        "2021-03-02 02:00:00" -> 3.0)))
      // stored partitions follow the UTC calendar regardless of JVM zone
      assert(st.listPartitions("ns", "tz") == Seq("2021-03-01", "2021-03-02"))
      val out = st.load("ns", "tz",
        from = Some(ts("2021-03-01 19:00:00")), to = Some(ts("2021-03-01 21:30:00")))
      assert(collectMap(out) ==
        Map(ts("2021-03-01 20:00:00") -> 1.0, ts("2021-03-01 21:00:00") -> 2.0))
    } finally java.util.TimeZone.setDefault(prev)
  }

  test("dtype drift is rejected on overwrite too, not just append") {
    val st = freshStore()
    st.save("ns", "d", seriesDf(Seq(("2021-01-01", 1.0))))
    // an overwrite that changes the value dtype would leave any catalog
    // pin stale and hard-fail later pinned-schema reads — gate it
    intercept[graft.catalog.FeatureStoreException](
      st.save("ns", "d", seriesDf(Seq(("2021-01-01", "oops"))), append = false))
    // same-dtype overwrite stays allowed
    st.save("ns", "d", seriesDf(Seq(("2021-01-02", 2.0))), append = false)
    assert(collectMap(st.load("ns", "d")) == Map(ts("2021-01-02") -> 2.0))
  }

  test("partition schemes reject years whose rendering breaks lexicographic order") {
    val st = freshStore()
    val bad = seriesDf(Seq(("2021-01-01", 1.0)))
      .withColumn("time", expr("time + make_interval(8000)")) // year 10021
    val e = intercept[Exception](st.save("ns", "y", bad))
    assert(e.getMessage.contains("1-9999") ||
      Option(e.getCause).exists(_.getMessage.contains("1-9999")))
  }

  test("out-of-range scan bounds clamp: over-include partitions, never empty out") {
    val st = freshStore()
    st.save("ns", "c", seriesDf(Seq(("2021-01-01", 1.0), ("2021-06-01", 2.0))))
    // to-bound at year 10021 would render '+10021-...' (sorts before all
    // digits) and prune EVERYTHING without the clamp
    val farTo = java.sql.Timestamp.valueOf("2021-01-01 00:00:00").toInstant
      .atZone(java.time.ZoneOffset.UTC).plusYears(8000)
    assert(collectMap(st.load("ns", "c",
        to = Some(java.sql.Timestamp.from(farTo.toInstant)))) ==
      Map(ts("2021-01-01") -> 1.0, ts("2021-06-01") -> 2.0))
  }

  test("overwrite repairs a feature dir with unreadable footers") {
    val st = freshStore()
    st.save("ns", "r", seriesDf(Seq(("2021-01-01", 1.0))))
    // simulate a crashed write: wipe the dir down to a stray non-parquet file
    val dir = new java.io.File(st.featurePath("ns", "r"))
    dir.listFiles.foreach { f =>
      def del(x: java.io.File): Unit = {
        val cs = x.listFiles(); if (cs != null) cs.foreach(del); x.delete(); ()
      }
      del(f)
    }
    new java.io.File(dir, "_temporary").mkdir()
    // append into the wreck still fails loudly...
    intercept[Exception](st.save("ns", "r", seriesDf(Seq(("2021-01-02", 2.0)))))
    // ...but an overwrite is the recovery action and must go through
    st.save("ns", "r", seriesDf(Seq(("2021-01-02", 2.0))), append = false)
    assert(collectMap(st.load("ns", "r")) == Map(ts("2021-01-02") -> 2.0))
  }

  test("deleteBefore drops only strictly-older partitions, no data rewrite") {
    val st = freshStore()
    st.save("ns", "ttl", seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-02" -> 2.0,
      "2021-01-03" -> 3.0)))
    // cutoff mid-day: its own (partially expired) partition survives
    val dropped = st.deleteBefore("ns", "ttl",
      java.sql.Timestamp.valueOf("2021-01-02 12:00:00"))
    assert(dropped == Seq("2021-01-01"))
    assert(st.listPartitions("ns", "ttl") == Seq("2021-01-02", "2021-01-03"))
    assert(collectMap(st.load("ns", "ttl")) ==
      Map(ts("2021-01-02") -> 2.0, ts("2021-01-03") -> 3.0))
    // idempotent
    assert(st.deleteBefore("ns", "ttl",
      java.sql.Timestamp.valueOf("2021-01-02 12:00:00")).isEmpty)
    // everything expired -> feature reads empty but the dir shape survives
    assert(st.deleteBefore("ns", "ttl",
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00")) ==
      Seq("2021-01-02", "2021-01-03"))
    assert(st.load("ns", "ttl").count() == 0)
  }

  test("deleteKeyedBefore: keyed-layout TTL, cutoff partition survives, idempotent") {
    import spark.implicits._
    val st = freshStore()
    st.saveKeyed("ns", "kt", Seq(
      (1L, ts("2021-01-01"), 1.0), (1L, ts("2021-01-02"), 2.0),
      (2L, ts("2021-01-03"), 3.0)).toDF("uid", "time", "value"), Seq("uid"))
    val dropped = st.deleteKeyedBefore("ns", "kt",
      java.sql.Timestamp.valueOf("2021-01-02 12:00:00"))
    assert(dropped == Seq("2021-01-01"))
    val left = st.loadKeyed("ns", "kt", Seq("uid"))
      .collect().map(r => r.getTimestamp(1)).toSet
    assert(left == Set(ts("2021-01-02"), ts("2021-01-03")))
    assert(st.deleteKeyedBefore("ns", "kt",
      java.sql.Timestamp.valueOf("2021-01-02 12:00:00")).isEmpty)
    // everything expired -> keyed feature reads empty, like the plain layout
    assert(st.deleteKeyedBefore("ns", "kt",
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00")) ==
      Seq("2021-01-02", "2021-01-03"))
    assert(st.loadKeyed("ns", "kt", Seq("uid")).count() == 0)
    // a never-written keyed feature deletes to nothing, loudly not at all
    assert(st.deleteKeyedBefore("ns", "nope",
      java.sql.Timestamp.valueOf("2022-01-01 00:00:00")).isEmpty)
  }

  // ---- small-file compaction (store maintenance) ---------------------------

  private def partFiles(root: String, part: String): Seq[String] = {
    val d = new java.io.File(s"$root/$part")
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName)
  }

  test("compactFeature: files collapse, every superseded version and time-travel survive") {
    val st = freshStore()
    // 6 appends over the same two dates, each with its own created_time —
    // the superseded versions are exactly what time-travel reads
    (1 to 6).foreach { v =>
      st.save("ns", "c", seriesDf(
        Seq("2021-01-01" -> (v * 1.0), "2021-01-02" -> (v * 10.0)),
        created = Some(f"2021-01-0$v%d 00:00:00")))
    }
    val dir = st.featurePath("ns", "c")
    val before1 = partFiles(dir, "partition=2021-01-01").size
    assert(before1 >= 6, s"expected >=6 files per partition pre-compaction, got $before1")
    def snapshot() = st.scan("ns", "c").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getTimestamp(2)))
      .sortBy(t => (t._1.getTime, t._3.getTime, t._2))
    def travelled() = collectMap(st.load("ns", "c", timeTravel = Some("2d")))
    val (rawBefore, ttBefore, partsBefore) =
      (snapshot(), travelled(), st.listPartitions("ns", "c"))
    assert(rawBefore.length == 12)

    val stats = st.compactFeature("ns", "c")
    assert(stats.partitionsCompacted == 2 && stats.filesBefore >= 12)
    assert(partFiles(dir, "partition=2021-01-01").size == 1)
    assert(partFiles(dir, "partition=2021-01-02").size == 1)
    assert(snapshot().toSeq == rawBefore.toSeq,
      "compaction must preserve every (time, created_time, value) version")
    assert(travelled() == ttBefore)
    assert(st.listPartitions("ns", "c") == partsBefore)
    assert(st.compactFeature("ns", "c") == graft.storage.CompactionStats(0, 0, 0, 0),
      "an already-compact store must be a no-op (listing only)")
  }

  test("compaction honors targetBytes: large partitions split across files") {
    val st = freshStore()
    (1 to 4).foreach { v =>
      st.save("ns", "big", seriesDf(
        (0 until 50).map(i => (f"2021-03-01 ${i % 24}%02d:${i / 24}%02d:00", i * 1.0 + v))))
    }
    val dir = st.featurePath("ns", "big")
    val files = partFiles(dir, "partition=2021-03-01")
    assert(files.size >= 4)
    val bytes = files.map(f =>
      new java.io.File(s"$dir/partition=2021-03-01/$f").length).sum
    // target = ~half the data → 2 (or 3 with salt collisions) output files
    val stats = st.compactFeature("ns", "big", targetBytes = bytes / 2 + 1)
    assert(stats.partitionsCompacted == 1)
    val after = partFiles(dir, "partition=2021-03-01").size
    assert(after >= 2 && after < files.size,
      s"expected ~2 right-sized files, got $after (before: ${files.size})")
    assert(st.scan("ns", "big").count() == 200)
  }

  test("compaction: serialized drift history survives byte-exactly") {
    val st = freshStore()
    st.save("ns", "ser", seriesDf(Seq("2021-01-01" -> 1.5),
      created = Some("2021-01-01 00:00:00")), serialized = true)
    st.save("ns", "ser", seriesDf(Seq("2021-01-01" -> "drifted"),
      created = Some("2021-01-02 00:00:00")), serialized = true)
    st.save("ns", "ser", seriesDf(Seq("2021-01-02" -> 7),
      created = Some("2021-01-02 00:00:00")), serialized = true)
    def snap() = st.scan("ns", "ser", serialized = true).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getTimestamp(2))).sortBy(_.toString)
    val before = snap()
    assert(st.compactFeature("ns", "ser").partitionsCompacted >= 1)
    assert(snap().toSeq == before.toSeq)
    assert(collectMap(st.load("ns", "ser", serialized = true)) ==
      Map(ts("2021-01-01") -> "drifted", ts("2021-01-02") -> "7"))
  }

  test("compaction: keyed and group layouts, and the ORC backend") {
    val st = freshStore()
    (1 to 3).foreach { v =>
      st.saveKeyed("ns", "k", seriesDf(Seq("2021-01-01" -> (v * 1.0)))
        .withColumn("user_id", lit(7L)), keys = Seq("user_id"))
      st.saveGroup("ns", "g", seriesDf(Seq("2021-01-01" -> (v * 1.0)))
        .withColumnRenamed("value", "a").withColumn("b", lit(v * 2.0)),
        columns = Seq("a", "b"))
    }
    val kBefore = st.loadKeyed("ns", "k", Seq("user_id")).collect().toSeq
    val gBefore = st.loadGroup("ns", "g", Seq("a", "b")).collect().toSeq
    assert(st.compactKeyed("ns", "k").partitionsCompacted == 1)
    assert(st.compactGroup("ns", "g").partitionsCompacted == 1)
    assert(st.loadKeyed("ns", "k", Seq("user_id")).collect().toSeq == kBefore)
    assert(st.loadGroup("ns", "g", Seq("a", "b")).collect().toSeq == gBefore)
    assert(partFiles(st.keyedPath("ns", "k"), "partition=2021-01-01").size == 1)

    val orc = new TimeseriesStorage(tmpDir("store_orc"), spark, _ => "orc")
    (1 to 3).foreach(v => orc.save("o", "f", seriesDf(Seq("2021-01-01" -> (v * 1.0)),
      created = Some(f"2021-01-0$v%d 00:00:00"))))
    val oBefore = orc.scan("o", "f").collect().map(_.toString).sorted.toSeq
    assert(orc.compactFeature("o", "f").partitionsCompacted == 1)
    assert(orc.scan("o", "f").collect().map(_.toString).sorted.toSeq == oBefore)
    val of = partFiles(orc.featurePath("o", "f"), "partition=2021-01-01")
    assert(of.size == 1 && of.head.endsWith(".orc"))
  }

  test("compaction recovery: a crash between the swap renames heals on next entry") {
    val st = freshStore()
    (1 to 3).foreach(v => st.save("ns", "cr", seriesDf(
      Seq("2021-01-01" -> (v * 1.0)), created = Some(f"2021-01-0$v%d 00:00:00"))))
    val before = st.scan("ns", "cr").collect().map(_.toString).sorted.toSeq
    val dir = st.featurePath("ns", "cr")
    // materialize the torn state a crash between rename-aside and rename-in
    // leaves: rebuilt copy in the build dir, original in trash, live MISSING
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val livePart = new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01")
    val built = new org.apache.hadoop.fs.Path(dir, ".compact_build/partition=2021-01-01")
    val aside = new org.apache.hadoop.fs.Path(dir, ".compact_trash/partition=2021-01-01")
    org.apache.hadoop.fs.FileUtil.copy(fs, livePart, fs, built, false, true,
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(aside.getParent)
    assert(fs.rename(livePart, aside))
    assert(st.scan("ns", "cr").count() == 0, "torn state: partition unlisted")
    // next compaction entry recovers FIRST (completes the swap), then
    // compacts as usual
    st.compactFeature("ns", "cr")
    assert(st.scan("ns", "cr").collect().map(_.toString).sorted.toSeq == before)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_trash")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_build")))
  }

  test("compaction recovery: rename-aside with NO rebuilt copy undoes the half-swap") {
    // the one crash state with no forward path: a zero-row candidate writes
    // no built dir, and the crash lands between its rename-aside and the
    // empty-dir mkdirs fallback — trash holds the data, live AND build are
    // missing. Recovery must put the trash copy back (undo), not dead-end.
    val st = freshStore()
    (1 to 3).foreach(v => st.save("ns", "cu", seriesDf(
      Seq("2021-01-01" -> (v * 1.0)), created = Some(f"2021-01-0$v%d 00:00:00"))))
    val before = st.scan("ns", "cu").collect().map(_.toString).sorted.toSeq
    val dir = st.featurePath("ns", "cu")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val livePart = new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01")
    val aside = new org.apache.hadoop.fs.Path(dir, ".compact_trash/partition=2021-01-01")
    fs.mkdirs(aside.getParent)
    assert(fs.rename(livePart, aside))
    // no .compact_build at all — recovery (and the compaction that calls it
    // on entry) must restore the partition from trash and carry on
    st.compactFeature("ns", "cu")
    assert(st.scan("ns", "cu").collect().map(_.toString).sorted.toSeq == before,
      "undo recovery must restore the trash copy verbatim")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_trash")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_build")))
    // idempotent: a second entry is a clean no-op run
    assert(st.compactFeature("ns", "cu").partitionsCompacted == 0)
  }

  test("compaction chaos: pre-swap kill leaves the store byte-identical; swap states are old-or-new, never a mix") {
    val st = freshStore()
    (1 to 4).foreach(v => st.save("ns", "cx", seriesDf(
      Seq("2021-01-01" -> (v * 1.0), "2021-01-02" -> (v * 2.0)),
      created = Some(f"2021-01-0$v%d 00:00:00"))))
    def snap() = st.scan("ns", "cx").collect().map(_.toString).sorted.toSeq
    val before = snap()
    val dir = st.featurePath("ns", "cx")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (1) kill BETWEEN the verified rebuild and the first swap rename:
    // live dirs untouched, the whole build dir is stale state
    val built1 = new org.apache.hadoop.fs.Path(dir, ".compact_build/partition=2021-01-01")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01"),
      fs, built1, false, true, spark.sparkContext.hadoopConfiguration)
    assert(snap() == before, "a pre-swap kill must leave probes untouched")
    st.recoverCompaction(dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_build")),
      "recovery must drop the stale build dir")
    assert(snap() == before)
    // (2) the swap's two observable intermediate states, materialized the
    // way the two renames produce them: after rename-aside the partition
    // is UNLISTED (old content minus that partition — never half of it),
    // after rename-in it is fully the rebuilt copy. At no state can a
    // probe see old AND new files of one partition together (the rename
    // unit is the whole dir).
    // match on the TIME field (first column) — created_time also renders
    // day-1 dates for day-2 rows
    val day1 = before.filter(_.startsWith("[2021-01-01"))
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01"),
      fs, built1, false, true, spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, ".compact_trash"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01"),
      new org.apache.hadoop.fs.Path(dir, ".compact_trash/partition=2021-01-01")))
    spark.catalog.refreshByPath(dir)
    val stateA = snap()
    assert(stateA == before.filterNot(_.startsWith("[2021-01-01")),
      "state A (between renames): the partition is absent whole, no mix")
    assert(fs.rename(built1, new org.apache.hadoop.fs.Path(dir, "partition=2021-01-01")))
    spark.catalog.refreshByPath(dir)
    assert(snap() == before, "state B (after rename-in): full new content")
    assert(snap().count(_.startsWith("[2021-01-01")) == day1.size,
      "no duplicated rows from a half-swapped partition")
    // the trash left by the simulated crash after state B is swept on the
    // next compaction entry
    st.recoverCompaction(dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ".compact_trash")))
    assert(snap() == before)
  }
}
