package graft

import graft.api.FeatureStore
import graft.catalog._
import org.apache.spark.sql.functions._

/** End-to-end facade spec — the README example plus the reference suite's
  * behavioral fixtures (SURVEY §5, FIXTURES.md §A).
  */
class FeatureStoreSpec extends SparkTestBase {

  def freshStore(): FeatureStore = new FeatureStore(tmpDir("fs"), spark)

  test("README slice: check-gated save, sql transform, wide ffilled load") {
    val fs = freshStore()
    fs.createNamespace("example", "example namespace")
    fs.createFeature("example/numbers", "Timeseries of numbers",
      check = Some(CheckSpec(Some("bigint"), Seq("value > 0"))))
    val days = (0 until 100).map { i =>
      val d = java.time.LocalDate.of(2021, 1, 1).plusDays(i)
      (d.toString, (i + 1).toLong: Any)
    }
    fs.saveDf(seriesDf(days), name = Some("example/numbers"))
    fs.registerSqlTransform("example/squared", Seq("numbers"), "numbers * numbers")

    val out = fs.loadFeatures(Seq("example/numbers", "example/squared"),
      from = Some("2021-01-01"), to = Some("2021-01-10"))
    val rows = out.orderBy("time").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("example/numbers")).toSeq == (1L to 10L))
    assert(rows.map(_.getAs[Long]("example/squared")).toSeq == (1L to 10L).map(x => x * x))
  }

  test("spark-orc backend: save/load round-trips value-identically through ORC files") {
    val fs = freshStore()
    fs.createNamespace("par", "parquet twin")
    fs.createNamespace("orc", "orc twin", backend = "spark-orc")
    val days = (0 until 40).map { i =>
      val d = java.time.LocalDate.of(2021, 1, 1).plusDays(i)
      (d.toString, (i + 1).toLong: Any)
    }
    fs.createFeature("par/n"); fs.createFeature("orc/n")
    fs.saveDf(seriesDf(days), name = Some("par/n"))
    fs.saveDf(seriesDf(days), name = Some("orc/n"))
    // the ORC namespace's files ARE orc (dispatch reached the writer)
    val orcDir = new java.io.File(fs.storage.featurePath("orc", "n"))
    val files = Option(orcDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("partition="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .map(_.getName).filter(_.startsWith("part-"))
    assert(files.nonEmpty && files.forall(_.contains(".orc")),
      s"expected orc part files, got: ${files.take(3).mkString(",")}")
    // loads are value-identical across backends, time bounds included
    def loaded(q: String) = fs.loadFeatures(Seq(q),
        from = Some("2021-01-05"), to = Some("2021-02-01"))
      .orderBy("time").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(loaded("orc/n") == loaded("par/n") && loaded("orc/n").size == 28)
    // a time-bounded ORC scan still prunes hive partitions
    val plan = fs.storage.scan("orc", "n",
        from = Some(ts("2021-01-05 00:00:00")), to = Some(ts("2021-01-10 00:00:00")))
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(plan.contains("PartitionFilters") && plan.contains("partition"),
      s"ORC scan must keep partition pruning:\n${plan.take(500)}")
  }

  test("foreign backend selector: creation refuses loudly, but a leniently-loaded doc stays READABLE") {
    val root = tmpDir("fs_foreign_backend")
    val fs = new FeatureStore(root, spark)
    // creation gate stays strict — the reference's RuntimeError behavior
    val e = intercept[FeatureStoreException] {
      fs.createNamespace("nope", backend = "pandas")
    }
    assert(e.getMessage.contains("not available"))
    // a valid namespace with real data...
    fs.createNamespace("mig", "migrated from the reference")
    fs.createFeature("mig/n")
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 1L, "2021-01-02" -> 2L)),
      name = Some("mig/n"))
    // ...whose catalog doc arrives hand-carrying a selector this engine
    // doesn't serve (the catalog's lenient-read contract tolerates the doc;
    // the data on disk is plain parquet either way)
    val doc = new java.io.File(root, "_catalog/catalog.json")
    val txt = new String(java.nio.file.Files.readAllBytes(doc.toPath), "UTF-8")
    assert(txt.contains("\"spark\""))
    java.nio.file.Files.write(doc.toPath,
      txt.replaceFirst("\"spark\"", "\"pandas\"").getBytes("UTF-8"))
    // the out-of-band edit invalidates LocalFileSystem's checksum sidecar
    new java.io.File(root, "_catalog/.catalog.json.crc").delete()
    // a fresh store on the same root reads the namespace fine: per-IO
    // dispatch falls back to parquet instead of refusing the read
    val fs2 = new FeatureStore(root, spark)
    assert(fs2.catalog.getNamespace("mig").map(_.backend).contains("pandas"))
    val rows = fs2.loadFeatures(Seq("mig/n")).orderBy("time").collect()
    assert(rows.map(_.getAs[Long]("mig/n")).toSeq == Seq(1L, 2L))
  }

  test("quality gate: violating frame writes nothing and raises") {
    val fs = freshStore()
    fs.createNamespace("q")
    fs.createFeature("q/pos", check = Some(CheckSpec(predicates = Seq("value > 0"))))
    intercept[CheckFailedException] {
      fs.saveDf(seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-02" -> -5.0)),
        name = Some("q/pos"))
    }
    assert(fs.storage.load("q", "pos").isEmpty)
    // failOnCheckError=false logs and writes
    val lax = new FeatureStore(fs.storageRoot, spark, failOnCheckError = false)
    lax.saveDf(seriesDf(Seq("2021-01-02" -> -5.0)), name = Some("q/pos"))
    assert(!lax.storage.load("q", "pos").isEmpty)
  }

  test("entity-keyed feature: per-(entity,time) dedup, as-of join, checks") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val fs = freshStore()
    fs.createNamespace("k")
    fs.createKeyedFeature("k/score", Seq("uid"))
    val schema = StructType(Seq(StructField("uid", LongType),
      StructField("time", TimestampType), StructField("value", DoubleType),
      StructField("created_time", TimestampType)))
    def kdf(rows: Seq[(Long, String, Double, String)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (u, t, v, c) => Row(u, ts(t), v, ts(c)) }), schema)
    fs.saveKeyed("k/score", kdf(Seq(
      (1L, "2021-01-01", 10.0, "2021-01-01"), (2L, "2021-01-01", 20.0, "2021-01-01"),
      (1L, "2021-01-03", 11.0, "2021-01-03"))))
    // rewrite of (1, 2021-01-01) with newer created_time wins
    fs.saveKeyed("k/score", kdf(Seq((1L, "2021-01-01", 99.0, "2021-02-01"))))
    val got = fs.loadKeyed("k/score").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got == Set((1L, ts("2021-01-01"), 99.0), (2L, ts("2021-01-01"), 20.0),
      (1L, ts("2021-01-03"), 11.0)))
    // per-entity as-of: each spine row sees ITS user's last value only
    val spine = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, ts("2021-01-02")), Row(2L, ts("2021-01-05")), Row(3L, ts("2021-01-05")))),
      StructType(Seq(StructField("uid", LongType), StructField("time", TimestampType))))
    val asof = fs.loadKeyedAsOf(spine, "k/score", as = Some("score")).collect()
      .map(r => (r.getLong(0), r.getAs[Any]("score"))).toMap
    assert(asof == Map(1L -> 99.0, 2L -> 20.0, 3L -> null))
    // the direction string maps onto a mode; an unknown one is refused by name
    val bad = intercept[IllegalArgumentException] {
      fs.loadKeyedAsOf(spine, "k/score", direction = "sideways")
    }
    assert(bad.getMessage.contains("backward/forward/nearest"))
    // saving to a non-keyed feature via saveKeyed is rejected
    fs.createFeature("k/plain")
    intercept[FeatureStoreException](fs.saveKeyed("k/plain", kdf(Nil)))
  }

  test("keyed feature typed pre-write reads: declared schema, pin on first save") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val fs = freshStore()
    fs.createNamespace("ks")
    // string-keyed feature, schema declared at create time: the as-of
    // against a string-keyed spine works BEFORE any write (null fills)
    // instead of failing analysis on the fabricated LongType default
    fs.createKeyedFeature("ks/tag", Seq("country"),
      schemaDDL = Some("country STRING, time TIMESTAMP, value STRING"))
    val spine = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("de", ts("2021-01-02")), Row("fr", ts("2021-01-02")))),
      StructType(Seq(StructField("country", StringType), StructField("time", TimestampType))))
    val pre = fs.loadKeyedAsOf(spine, "ks/tag", as = Some("tag")).collect()
      .map(r => (r.getString(0), r.getAs[Any]("tag"))).toMap
    assert(pre == Map("de" -> null, "fr" -> null))
    // undeclared feature: first successful save pins the schema, so a
    // pre-write read in a FRESH store over the same catalog is typed too
    fs.createKeyedFeature("ks/tag2", Seq("country"))
    val kschema = StructType(Seq(StructField("country", StringType),
      StructField("time", TimestampType), StructField("value", StringType)))
    fs.saveKeyed("ks/tag2", spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("de", ts("2021-01-01"), "eu"))), kschema))
    val pinned = fs.catalog.getFeature("ks", "tag2").get
      .meta(graft.api.FeatureStore.KeyedSchemaMeta)
    assert(StructType.fromDDL(pinned) == kschema)
    val after = fs.loadKeyedAsOf(spine, "ks/tag2", as = Some("tag")).collect()
      .map(r => (r.getString(0), r.getAs[Any]("tag"))).toMap
    assert(after == Map("de" -> "eu", "fr" -> null))
  }

  test("schema drift on append rejected unless serialized") {
    val fs = freshStore()
    fs.createNamespace("d")
    fs.createFeature("d/fixed")
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 1.0)), name = Some("d/fixed"))
    val ex = intercept[FeatureStoreException] {
      fs.saveDf(seriesDf(Seq("2021-01-02" -> "oops")), name = Some("d/fixed"))
    }
    assert(ex.getMessage.contains("schema drift"))
    // same type appends fine
    fs.saveDf(seriesDf(Seq("2021-01-02" -> 2.0)), name = Some("d/fixed"))
    assert(collectMap(fs.storage.load("d", "fixed")).size == 2)
    // serialized features accept drift (JSON strings on disk)
    fs.createFeature("d/loose", serialized = true)
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 1)), name = Some("d/loose"))
    fs.saveDf(seriesDf(Seq("2021-01-02" -> "text")), name = Some("d/loose"))
    assert(collectMap(fs.storage.load("d", "loose", serialized = true)).size == 2)
  }

  test("multi-feature wide save fans out per column") {
    val fs = freshStore()
    fs.createNamespace("test")
    fs.createFeature("test/df3"); fs.createFeature("test/df4")
    val wide = seriesDf(Seq("2021-01-01" -> 1.0, "2021-01-02" -> 2.0))
      .withColumnRenamed("value", "test/df3")
      .withColumn("test/df4", col("`test/df3`") * 10)
    fs.saveDf(wide)
    assert(collectMap(fs.storage.load("test", "df3")).size == 2)
    assert(collectMap(fs.storage.load("test", "df4"))(ts("2021-01-02")) == 20.0)
  }

  test("transform-of-transform DAG with multi-input sql body") {
    val fs = freshStore()
    fs.createNamespace("t")
    fs.createFeature("t/raw")
    fs.saveDf(seriesDf((1 to 5).map(i => (f"2021-01-0$i%d", i.toDouble: Any))),
      name = Some("t/raw"))
    fs.registerSqlTransform("t/squared", Seq("raw"), "raw * raw")
    fs.registerSqlTransform("t/combined", Seq("raw", "squared"), "raw + squared")
    val out = fs.loadFeatures(Seq("t/combined")).orderBy("time").collect()
    assert(out.map(_.getAs[Double]("t/combined")).toSeq == Seq(2.0, 6.0, 12.0, 20.0, 30.0))
  }

  test("scala registry transform") {
    val fs = freshStore()
    fs.createNamespace("t")
    fs.createFeature("t/raw")
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 3.0)), name = Some("t/raw"))
    fs.registerScalaTransform("t/neg", Seq("raw"),
      df => df.select(col("time"), (-col("raw")).as("value")))
    val out = fs.loadFeatures(Seq("t/neg")).collect()
    assert(out.head.getAs[Double]("t/neg") == -3.0)
  }

  test("circular transform dependency raises") {
    val fs = freshStore()
    fs.createNamespace("c")
    fs.createFeature("c/a")
    // create b as transform of a, then redefine a as transform of b → cycle
    fs.registerSqlTransform("c/b", Seq("a"), "a")
    fs.catalog.updateFeature("c", "a", transform = Some(TransformSpec("sql", "b", Seq("c/b"))))
    val ex = intercept[FeatureStoreException](fs.loadFeatures(Seq("c/a")).collect())
    assert(ex.getMessage.contains("circular"))
  }

  test("empty feature load; resampled empty gives full spine") {
    val fs = freshStore()
    fs.createNamespace("e")
    fs.createFeature("e/empty")
    assert(fs.loadFeatures(Seq("e/empty")).isEmpty)
    // out-of-range load on a real feature is empty
    fs.createFeature("e/real")
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 1.0)), name = Some("e/real"))
    assert(fs.loadFeatures(Seq("e/real"), from = Some("2022-01-01"),
      to = Some("2022-01-05")).isEmpty)
  }

  test("clone copies metadata and data; delete_data + clean_namespace GC") {
    val fs = freshStore()
    fs.createNamespace("cl")
    fs.createFeature("cl/src", description = "Will be cloned", serialized = true)
    fs.saveDf(seriesDf(Seq("2021-01-01" -> 42)), name = Some("cl/src"))
    fs.cloneFeature("cl/src", "cl/dst")
    val dst = fs.catalog.getFeature("cl", "dst").get
    assert(dst.description == "Will be cloned" && dst.serialized)
    assert(collectMap(fs.storage.load("cl", "dst", serialized = true)).nonEmpty)
    // clone onto an existing feature is rejected, not silently merged
    intercept[graft.catalog.FeatureStoreException](fs.cloneFeature("cl/src", "cl/dst"))

    // delete feature but keep data → orphan dir → clean_namespace removes it
    fs.deleteFeature("cl/dst", deleteData = false)
    assert(fs.storage.listStoredFeatures("cl").contains("dst"))
    assert(fs.cleanNamespace("cl") == Seq("dst"))
    assert(!fs.storage.listStoredFeatures("cl").contains("dst"))
    // delete with data
    fs.deleteFeature("cl/src", deleteData = true)
    assert(fs.storage.listStoredFeatures("cl").isEmpty)
    // a keyed feature's orphaned data is cleaned too
    import spark.implicits._
    fs.createKeyedFeature("cl/k", Seq("uid"))
    fs.saveKeyed("cl/k", Seq((1L, ts("2021-01-01"), 1.0)).toDF("uid", "time", "value"))
    // cloning a keyed feature copies its keyed data, not just the entry
    fs.cloneFeature("cl/k", "cl/k2")
    assert(fs.loadKeyed("cl/k2").count() == 1)
    fs.deleteFeature("cl/k", deleteData = false)
    assert(fs.cleanNamespace("cl") == Seq("k"))
    assert(!new java.io.File(fs.storage.keyedPath("cl", "k")).exists)
  }

  test("loadFeatures aligns mixed-frequency series with ffill (reference resample golden)") {
    val fs = freshStore()
    fs.createNamespace("m")
    fs.createFeature("m/daily"); fs.createFeature("m/sparse")
    fs.saveDf(seriesDf((1 to 8).map(i => (f"2021-01-0$i%d", i.toDouble: Any))),
      name = Some("m/daily"))
    fs.saveDf(seriesDf(Seq("2021-01-02" -> 100.0, "2021-01-06" -> 200.0)),
      name = Some("m/sparse"))
    val out = fs.loadFeatures(Seq("m/daily", "m/sparse"), from = Some("2021-01-01"),
      to = Some("2021-01-08"), freq = Some("2d")).orderBy("time").collect()
    assert(out.length == 4) // 01,03,05,07
    assert(out.map(_.getAs[Double]("m/daily")).toSeq == Seq(1.0, 3.0, 5.0, 7.0))
    assert(out.map(r => Option(r.getAs[Any]("m/sparse"))).toSeq ==
      Seq(None, Some(100.0), Some(100.0), Some(200.0)))
  }

  test("loadKeyedFeaturesAsOf: per-entity multi-feature serving, key-set guard") {
    import spark.implicits._
    val fs = freshStore()
    fs.createNamespace("k", "keyed")
    fs.createKeyedFeature("k/a", Seq("uid"))
    fs.createKeyedFeature("k/b", Seq("uid"))
    fs.createKeyedFeature("k/other", Seq("device"))
    def keyedDf(rows: Seq[(Long, String, Double)]) =
      rows.map { case (u, t, v) => (u, ts(t), v, ts(t)) }
        .toDF("uid", "time", "value", "created_time")
    fs.saveKeyed("k/a", keyedDf(Seq((1L, "2021-01-01", 1.0), (1L, "2021-01-05", 5.0))))
    fs.saveKeyed("k/b", keyedDf(Seq((1L, "2021-01-03", 30.0))))
    val spine = Seq((1L, ts("2021-01-04"))).toDF("uid", "time")
    val out = fs.loadKeyedFeaturesAsOf(spine, Seq("k/a", "k/b")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("k/a") == 1.0)   // last a at-or-before Jan 4
    assert(out.head.getAs[Double]("k/b") == 30.0)
    // mismatched entity keys refuse loudly — never a wrong-entity join
    val ex = intercept[IllegalArgumentException] {
      fs.loadKeyedFeaturesAsOf(spine, Seq("k/a", "k/other"))
    }
    assert(ex.getMessage.contains("entity key set"))
  }

  test("loadKeyedResampled: a pre-epoch grid starts at its own instant") {
    import spark.implicits._
    val fs = freshStore()
    fs.createNamespace("pe")
    fs.createKeyedFeature("pe/f", Seq("uid"))
    fs.saveKeyed("pe/f", Seq((1L, ts("1969-12-31 23:59:59"), 1.0, ts("1970-01-02")))
      .toDF("uid", "time", "value", "created_time"))
    val out = fs.loadKeyedResampled("pe/f", "1969-12-31 23:59:59.5",
      "1970-01-01 00:00:01.5", "500ms").orderBy("time").collect()
    assert(out.map(_.getTimestamp(1)).toSeq ==
      Seq("1969-12-31 23:59:59.5", "1970-01-01 00:00:00", "1970-01-01 00:00:00.5",
        "1970-01-01 00:00:01", "1970-01-01 00:00:01.5").map(ts))
    assert(out.forall(_.getAs[Double]("value") == 1.0))
  }

  test("keyed group: per-(entity, time) latest-row dedup, pruning, misuse guards") {
    import spark.implicits._
    val fs = freshStore()
    fs.createNamespace("g", "groups")
    fs.createKeyedGroup("g/wide", Seq("uid"), Seq("a", "b"))
    fs.saveKeyedGroup("g/wide", Seq(
      (1L, ts("2021-01-01"), 1.0, 10.0, ts("2021-01-01")),
      // newer version of the same (uid, time): whole row wins together
      (1L, ts("2021-01-01"), 2.0, 20.0, ts("2021-01-02")),
      (2L, ts("2021-01-01"), 3.0, 30.0, ts("2021-01-01"))
    ).toDF("uid", "time", "a", "b", "created_time"))
    val got = fs.loadKeyedGroup("g/wide").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set((1L, 2.0, 20.0), (2L, 3.0, 30.0)))
    // column subset prunes; unknown column and unkeyed access fail loudly
    assert(fs.loadKeyedGroup("g/wide", Seq("b")).columns.toSeq ==
      Seq("uid", "time", "b"))
    intercept[FeatureStoreException] { fs.loadKeyedGroup("g/wide", Seq("zz")) }
    fs.createGroup("g/plain", Seq("a"))
    intercept[FeatureStoreException] { fs.loadKeyedGroup("g/plain") }
  }

  test("loadKeyedLatest: one row per entity, asOf bound inclusive") {
    import spark.implicits._
    val fs = freshStore()
    fs.createNamespace("o", "online")
    fs.createKeyedFeature("o/f", Seq("uid"))
    fs.saveKeyed("o/f", Seq(
      (1L, ts("2021-01-01"), 1.0, ts("2021-01-01")),
      (1L, ts("2021-01-05"), 5.0, ts("2021-01-05")),
      (2L, ts("2021-01-03"), 3.0, ts("2021-01-03"))
    ).toDF("uid", "time", "value", "created_time"))
    val latest = fs.loadKeyedLatest("o/f")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(latest == Map(1L -> 5.0, 2L -> 3.0))
    // asOf bound is inclusive and entities with no data before it drop out
    val asOf = fs.loadKeyedLatest("o/f", asOf = Some("2021-01-01"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(asOf == Map(1L -> 1.0))
    // one partial hash aggregate, never a window sort
    val plan = fs.loadKeyedLatest("o/f").queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"latest must not window-sort:\n$plan")
    // compacting a keyed feature rewrites its keyed layout, and only that
    fs.saveKeyed("o/f", Seq((1L, ts("2021-01-05"), 6.0, ts("2021-01-06")))
      .toDF("uid", "time", "value", "created_time"))
    assert(fs.compactFeature("o/f").partitionsCompacted == 1)
    assert(fs.loadKeyedLatest("o/f").collect().map(r => r.getLong(0) -> r.getDouble(2))
      .toMap == Map(1L -> 6.0, 2L -> 3.0))
    assert(!new java.io.File(fs.storage.featurePath("o", "f")).exists)
  }

  test("profileFeature: per-bucket counts + exact-decimal sums + envelopes") {
    val fs = freshStore()
    fs.createNamespace("m", "monitoring")
    fs.createFeature("m/f")
    fs.saveDf(seriesDf(Seq(
      ("2021-01-01 01:00:00", 1.5), ("2021-01-01 13:00:00", 2.25),
      ("2021-01-02 00:00:00", -4.0), ("2021-01-03 23:59:59", 10.0))),
      name = Some("m/f"))
    val got = fs.profileFeature("m/f", "1d").orderBy("time_bucket").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("2021-01-01 00:00:00.0", 2L, 3.75, 1.5, 2.25),
      ("2021-01-02 00:00:00.0", 1L, -4.0, -4.0, -4.0),
      ("2021-01-03 00:00:00.0", 1L, 10.0, 10.0, 10.0)))
    // sub-day buckets and time bounds compose; bounds prune to one bucket
    val h12 = fs.profileFeature("m/f", "12h", from = Some("2021-01-01 12:00:00"),
        to = Some("2021-01-02 12:00:00")).orderBy("time_bucket").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1)))
    assert(h12.toSeq == Seq(
      ("2021-01-01 12:00:00.0", 1L), ("2021-01-02 00:00:00.0", 1L)))
    intercept[IllegalArgumentException] { fs.profileFeature("m/f", "-1d") }
  }

  test("SQL over features via createFeatureView") {
    val fs = freshStore()
    fs.createNamespace("v")
    fs.createFeature("v/a")
    fs.saveDf(seriesDf((1 to 5).map(i => (f"2021-01-0$i%d", i.toDouble: Any))),
      name = Some("v/a"))
    fs.registerSqlTransform("v/b", Seq("a"), "a * 10")
    fs.createFeatureView("feat", Seq("v/a", "v/b"))
    val out = spark.sql(
      "SELECT sum(a) AS sa, max(b) AS mb, count(*) AS n FROM feat WHERE a >= 2").head()
    assert(out.getDouble(0) == 14.0 && out.getDouble(1) == 50.0 && out.getLong(2) == 4)
  }

  test("saving to a virtual feature is rejected; missing feature raises") {
    val fs = freshStore()
    fs.createNamespace("v")
    fs.createFeature("v/raw")
    fs.registerSqlTransform("v/virt", Seq("raw"), "raw")
    intercept[FeatureStoreException](
      fs.saveDf(seriesDf(Seq("2021-01-01" -> 1.0)), name = Some("v/virt")))
    intercept[MissingFeatureException](
      fs.saveDf(seriesDf(Seq("2021-01-01" -> 1.0)), name = Some("v/ghost")))
    intercept[MissingFeatureException](fs.loadFeatures(Seq("v/ghost")))
  }

  test("verifyStoreParams: matching pins pass, mismatches are loud, unpinned keys pass") {
    val root = java.nio.file.Files.createTempDirectory("cat").toString
    val fs = new graft.api.FeatureStore(root, spark)
    fs.registerStore("wn", "winnow", s"$root/wn", Map("k" -> "4", "w" -> "5"))
    fs.verifyStoreParams("wn", Map("k" -> "4", "w" -> "5"))
    fs.verifyStoreParams("wn", Map("k" -> "4", "delim" -> "\n")) // delim unpinned
    val e = intercept[FeatureStoreException] {
      fs.verifyStoreParams("wn", Map("k" -> "5"))
    }
    assert(e.getMessage.contains("k=5") && e.getMessage.contains("pinned 4"))
    intercept[MissingFeatureException](fs.verifyStoreParams("nope", Map.empty))
    // storeStatus on a store with no batch dirs yet: empty coverage
    assert(fs.storeStatus("wn").committedTokens.isEmpty)
  }
}
