package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.fs._

/** Mirrors the reference's pytest semantics 1:1
  * (reference: tests/test_feature_store.py; cases catalogued in
  * FIXTURES.md §A). */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): FeatureCatalog =
    new FeatureCatalog(spark, tmpDir("catalog"))

  private def registered(): FeatureCatalog = {
    val c = freshCatalog()
    c.registerFeature(FeatureDef("age", "user", "int"))
    c.registerFeature(FeatureDef("income", "user", "float"))
    c.registerFeature(FeatureDef("city", "user", "str"))
    c
  }

  test("catalog collects fail loudly past maxCatalogRows (VERDICT r9 #9)") {
    // bound shrunk to 3 so the guard is exercised at spec scale; the
    // limit caps the transfer, the require names the dial
    val c = new FeatureCatalog(spark, tmpDir("catalog"), maxCatalogRows = 3)
    c.registerFeatures((1 to 4).map(i => FeatureDef(s"f$i", "user", "int")))
    val ex = intercept[IllegalArgumentException] { c.listFeatures() }
    assert(ex.getMessage.contains("maxCatalogRows"))
    // mutation paths ride the same guard: the upsert's whole-table
    // read-modify-write must refuse rather than collect past the cap
    val ex2 = intercept[IllegalArgumentException] {
      c.registerFeature(FeatureDef("f5", "user", "int"))
    }
    assert(ex2.getMessage.contains("maxCatalogRows"))
  }

  test("register + get feature round-trip") {
    val c = registered()
    val f = c.getFeature("age")
    assert(f.exists(x => x.entityType == "user" && x.dtype == "int"))
    assert(c.getFeature("nope").isEmpty)
  }

  test("register upserts by unique name (INSERT OR REPLACE semantics)") {
    val c = registered()
    c.registerFeature(FeatureDef("age", "user", "float", description = "v2"))
    assert(c.features.count() == 3)
    assert(c.getFeature("age").exists(_.dtype == "float"))
  }

  test("registerFeatures batch: one version write, last-wins on dup names") {
    val c = freshCatalog()
    val out = c.registerFeatures(Seq(
      FeatureDef("a", "user", "int"),
      FeatureDef("b", "user", "str"),
      FeatureDef("a", "user", "float", description = "wins")))
    assert(out.length == 3) // caller sees every stamped input
    val byName = c.listFeatures().map(f => f.name -> f).toMap
    assert(byName.keySet == Set("a", "b"))
    assert(byName("a").dtype == "float" && byName("a").description == "wins")
    // batch validates every dtype before writing anything
    intercept[IllegalArgumentException] {
      c.registerFeatures(Seq(
        FeatureDef("ok", "user", "int"),
        FeatureDef("bad", "user", "nope")))
    }
    assert(c.getFeature("ok").isEmpty, "failed batch must write nothing")
  }

  test("concurrent registers: serialized writes, no lost updates, per-name last-writer-wins (VERDICT r5 #7)") {
    // The catalog's concurrency contract (SURVEY §7.3, no-ACID): writes
    // are collect-modify-rewrite under the _LOCK file, so interleaved
    // registers SERIALIZE — disjoint names all survive (no lost
    // update), and a name written by several threads holds exactly one
    // thread's complete row (no torn/merged rows). This test asserts
    // the contract instead of just stating it.
    val c = freshCatalog()
    val threads = 4; val rounds = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        try {
          (0 until rounds).foreach { r =>
            c.registerFeatures(Seq(
              // disjoint per thread: must never be lost
              FeatureDef(s"own_${t}_$r", "user", "int"),
              // contended name: all threads fight over it
              FeatureDef("shared", "user", "float", description = s"writer_$t")))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent register threw: ${errs.peek()}")
    val byName = c.listFeatures().map(f => f.name -> f).toMap
    // every disjoint name landed despite interleaving
    for (t <- 0 until threads; r <- 0 until rounds)
      assert(byName.contains(s"own_${t}_$r"), s"lost update own_${t}_$r")
    // the contended name holds exactly one writer's complete row
    val winner = byName("shared")
    assert(winner.dtype == "float" &&
      winner.description.matches("writer_[0-3]"), s"torn row: $winner")
    assert(byName.size == threads * rounds + 1)
  }

  test("invalid dtype rejected (test_register_feature_invalid_dtype :47-49)") {
    val c = freshCatalog()
    intercept[IllegalArgumentException] {
      c.registerFeature(FeatureDef("bad", "user", "invalid_dtype"))
    }
  }

  test("list_features filters active + entity_type, ordered") {
    val c = registered()
    c.registerFeature(FeatureDef("clicks", "session", "int"))
    c.deactivateFeature("city")
    val names = c.listFeatures(Some("user")).map(_.name)
    assert(names == Seq("age", "income"))
    assert(c.listFeatures(None).map(_.name) == Seq("clicks", "age", "income"))
  }

  test("create group validates members (test_create_group_invalid_feature :83-86)") {
    val c = registered()
    val err = intercept[IllegalArgumentException] {
      c.createGroup(FeatureGroup("g", 1, Seq("age", "not_registered"), "user_id"))
    }
    assert(err.getMessage.contains("not_registered"))
  }

  test("group versioning: UNIQUE(name, version), new version allowed") {
    val c = registered()
    c.createGroup(FeatureGroup("demo", 1, Seq("age"), "user_id"))
    intercept[IllegalArgumentException] {
      c.createGroup(FeatureGroup("demo", 1, Seq("income"), "user_id"))
    }
    c.createGroup(FeatureGroup("demo", 2, Seq("age", "income"), "user_id"))
    assert(c.listGroups().map(g => (g.name, g.version)) ==
      Seq(("demo", 1), ("demo", 2)))
  }

  private val demoGroup = FeatureGroup(
    "user_demographics", 1, Seq("age", "income", "city"), "user_id")

  private def writeDemo(log: RecordLog, rows: Seq[(String, String, Long, Double, String)]): Unit = {
    val df = rows.toDF("user_id", "ts_s", "age", "income", "city")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    log.write(demoGroup, df)
  }

  test("typed write/read round-trip (:89-96)") {
    val log = new RecordLog(spark, tmpDir("records"))
    writeDemo(log, Seq(("user-1", "2024-01-01 00:00:00", 30L, 75000.0, "NYC")))
    val got = Serving.latestAsOf(log.read(demoGroup), "user_id")
      .select("age", "income", "city").as[(Long, Double, String)].collect()
    assert(got.toSeq == Seq((30L, 75000.0, "NYC")))
  }

  test("missing entity → empty (:99-102)") {
    val log = new RecordLog(spark, tmpDir("records"))
    writeDemo(log, Seq(("user-1", "2024-01-01 00:00:00", 30L, 75000.0, "NYC")))
    assert(Serving.latestAsOf(log.read(demoGroup), "user_id")
      .filter($"user_id" === "ghost").count() == 0)
  }

  test("PIT correctness: as-of sees the older snapshot (:105-117)") {
    val log = new RecordLog(spark, tmpDir("records"))
    writeDemo(log, Seq(
      ("user-1", "2023-01-01 00:00:00", 25L, 1000.0, "LA"),
      ("user-1", "2024-01-01 00:00:00", 26L, 2000.0, "SF")))
    val asOf = Serving.latestAsOf(log.read(demoGroup), "user_id",
      asOf = Some(to_timestamp(lit("2023-06-01 00:00:00"))))
    assert(asOf.select("age").as[Long].head() == 25L)
    val latest = Serving.latestAsOf(log.read(demoGroup), "user_id")
    assert(latest.select("age").as[Long].head() == 26L)
  }

  test("latestAsOf / refreshLatest on a composite (tenant, user) key") {
    def t(s: String) = Timestamp.valueOf(s)
    val recs = Seq(
      ("t1", 1L, t("2024-01-01 00:00:00"), 10),
      ("t1", 1L, t("2024-01-02 00:00:00"), 20),
      ("t2", 1L, t("2024-01-03 00:00:00"), 30),
      ("t1", 2L, t("2024-01-01 00:00:00"), 40))
      .toDF("tenant", "user", "ts", "v")
    val latest = Serving.latestAsOf(recs, Seq("tenant", "user"), "ts", None, Seq.empty)
      .select("tenant", "user", "v").as[(String, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // one row per (tenant, user) TUPLE — a single-key groupBy on either
    // column alone would collapse t1/t2 or user 1/2 together
    assert(latest == Map(("t1", 1L) -> 20, ("t2", 1L) -> 30, ("t1", 2L) -> 40))
    // incremental fold respects the tuple too
    val shard = Seq(("t2", 1L, t("2024-02-01 00:00:00"), 99))
      .toDF("tenant", "user", "ts", "v")
    val refreshed = Serving.refreshLatest(
      Serving.latestAsOf(recs, Seq("tenant", "user"), "ts", None, Seq.empty),
      shard, Seq("tenant", "user"), "ts", Seq.empty)
      .select("tenant", "user", "v").as[(String, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(refreshed == Map(("t1", 1L) -> 20, ("t2", 1L) -> 99, ("t1", 2L) -> 40))
  }

  test("PIT join: row count, input order, null-fill (:120-133)") {
    val log = new RecordLog(spark, tmpDir("records"))
    writeDemo(log, Seq(
      ("user-1", "2024-01-01 00:00:00", 30L, 75000.0, "NYC"),
      ("user-2", "2024-01-01 00:00:00", 40L, 85000.0, "LA")))
    val entities = Seq("user-1", "user-2", "user-3").toDF("user_id")
    val out = Serving.pointInTimeJoin(
        entities, Seq((log.read(demoGroup), Seq("age", "income", "city"))),
        "user_id", "ts", to_timestamp(lit("2024-06-01 00:00:00")))
      .orderBy("user_id")
    val rows = out.collect()
    assert(rows.length == 3)
    val u3 = rows.find(_.getString(0) == "user-3").get
    assert(u3.isNullAt(u3.fieldIndex("age")))
    assert(rows.head.getAs[Long]("age") == 30L)
  }

  test("PIT join: later group overwrites colliding names (:436)") {
    val log = new RecordLog(spark, tmpDir("records"))
    writeDemo(log, Seq(("user-1", "2024-01-01 00:00:00", 30L, 75000.0, "NYC")))
    val g2 = FeatureGroup("g2", 1, Seq("age"), "user_id")
    val df2 = Seq(("user-1", "2024-02-01 00:00:00", 99L))
      .toDF("user_id", "ts_s", "age")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val log2 = new RecordLog(spark, tmpDir("records2"))
    log2.write(g2, df2)
    val out = Serving.pointInTimeJoin(
      Seq("user-1").toDF("user_id"),
      Seq((log.read(demoGroup), Seq("age", "income", "city")),
        (log2.read(g2), Seq("age"))),
      "user_id", "ts", to_timestamp(lit("2024-06-01 00:00:00")))
    assert(out.select("age").as[Long].head() == 99L)
    assert(out.select("income").as[Double].head() == 75000.0)
  }

  test("statistics: empty group (:136-140)") {
    val stats = Serving.statistics(
      spark.emptyDataset[(String, Long)].toDF("user_id", "age"),
      Seq(("age", "int")))
    val rows = stats.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("total_records") == 0L)
  }

  test("statistics: exact mean/min/max over 5 rows (:143-152)") {
    val df = (0 until 5).map(i => (s"u$i", 20L + i, 40000.0 + 1000 * i))
      .toDF("user_id", "age", "income")
    val stats = Serving.statistics(df, Seq(("age", "int"), ("income", "float")))
      .orderBy("feature").collect()
    val age = stats.find(_.getString(0) == "age").get
    assert(age.getAs[Long]("count") == 5L)
    assert(age.getAs[Double]("mean") == 22.0)
    assert(age.getAs[Double]("min") == 20.0)
    assert(age.getAs[Double]("max") == 24.0)
    val inc = stats.find(_.getString(0) == "income").get
    assert(inc.getAs[Double]("mean") == 42000.0)
  }

  test("statistics: bool counts as numeric (feature_store.py:484)") {
    val df = Seq(("u1", true), ("u2", false), ("u3", true))
      .toDF("user_id", "active")
    val stats = Serving.statistics(df, Seq(("active", "bool"))).collect()
    assert(stats.head.getAs[Double]("mean") == 0.666667)
  }

  test("non-numeric features get null mean/min/max (:494-501)") {
    val df = Seq(("u1", "NYC")).toDF("user_id", "city")
    val row = Serving.statistics(df, Seq(("city", "str"))).collect().head
    assert(row.getAs[Long]("count") == 1L)
    assert(row.isNullAt(row.fieldIndex("mean")))
  }

  test("statistics: empty feature list → zero rows, not stack(0,) (VERDICT r2 #4)") {
    val stats = Serving.statistics(
      Seq(("u1", 1L)).toDF("user_id", "age"), Seq.empty)
    assert(stats.count() == 0)
    assert(stats.columns.toSeq == Seq("feature", "count", "null_count",
      "mean", "min", "max", "total_records"))
  }

  test("statistics: zero-row frame reports null_count 0, not null (VERDICT r2 #4)") {
    val row = Serving.statistics(
      spark.emptyDataset[(String, Long)].toDF("user_id", "age"),
      Seq(("age", "int"))).collect().head
    assert(row.getAs[Long]("null_count") == 0L)
  }

  /** row.update overwrites unconditionally when a later group HAS a
    * record — even with an explicitly-null value (feature_store.py:436);
    * setdefault null-fill only applies to entities with NO record
    * (:440-442). VERDICT r2 #3: value-coalesce diverged on
    * present-but-null. */
  test("PIT join: later group's present-but-null value overwrites (:436)") {
    val g1 = FeatureGroup("g1", 1, Seq("score"), "user_id")
    val g2 = FeatureGroup("g2", 1, Seq("score"), "user_id")
    val log1 = new RecordLog(spark, tmpDir("nullover1"))
    val log2 = new RecordLog(spark, tmpDir("nullover2"))
    log1.write(g1, Seq(("user-1", "2024-01-01 00:00:00", Some(7.0)),
        ("user-2", "2024-01-01 00:00:00", Some(8.0)))
      .toDF("user_id", "ts_s", "score")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"))
    // user-1 HAS a g2 record whose score is explicitly null;
    // user-2 has NO g2 record at all.
    log2.write(g2, Seq(("user-1", "2024-02-01 00:00:00", Option.empty[Double]))
      .toDF("user_id", "ts_s", "score")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"))
    val out = Serving.pointInTimeJoin(
        Seq("user-1", "user-2").toDF("user_id"),
        Seq((log1.read(g1), Seq("score")), (log2.read(g2), Seq("score"))),
        "user_id", "ts", to_timestamp(lit("2024-06-01 00:00:00")))
      .orderBy("user_id").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("score")),
      "present-but-null record must overwrite")
    assert(out(1).getAs[Double]("score") == 8.0,
      "absent record must keep the earlier value")
  }

  test("list dtype round-trips through RecordLog → latestAsOf (feature_store.py:29)") {
    val c = freshCatalog()
    c.registerFeature(FeatureDef("embedding", "user", "list"))
    assert(Dtypes.toSpark("list") == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))
    val g = FeatureGroup("emb", 1, Seq("embedding"), "user_id")
    val log = new RecordLog(spark, tmpDir("listdtype"))
    log.write(g, Seq(
        ("user-1", "2024-01-01 00:00:00", Seq(1.0, 2.5, -3.0)),
        ("user-1", "2024-03-01 00:00:00", Seq(9.0, 9.5)))
      .toDF("user_id", "ts_s", "embedding")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"))
    val latest = Serving.latestAsOf(log.read(g), "user_id")
      .select("embedding").as[Seq[Double]].head()
    assert(latest == Seq(9.0, 9.5))
    val older = Serving.latestAsOf(log.read(g), "user_id",
        asOf = Some(to_timestamp(lit("2024-02-01 00:00:00"))))
      .select("embedding").as[Seq[Double]].head()
    assert(older == Seq(1.0, 2.5, -3.0))
  }

  test("readMerged surfaces a late-added feature column, null-filled for old rows") {
    // write() is lax — undeclared columns are stored — so an evolved
    // log holds heterogeneous file schemas; readMerged must union them
    val c = registered()
    val g = c.createGroup(FeatureGroup("evo", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("evolog"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    log.write(g, Seq((1L, t0, 30)).toDF("user", "ts", "age"))
    log.write(g, Seq((2L, t0, 40, 9.5)).toDF("user", "ts", "age", "score"))
    val merged = log.readMerged(g)
    assert(merged.columns.contains("score"),
      s"late column missing from ${merged.columns.toSeq}")
    val rows = merged.select("user", "age", "score")
      .as[(Long, Int, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == ((30, None)), "pre-evolution row must null-fill")
    assert(rows(2L) == ((40, Some(9.5))))
  }

  test("compact rewrites each date as one sorted file; rows survive exactly") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("cmp", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("cmplog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // three appends → 3 files on the shared date
    log.write(g, Seq((1L, t("2024-01-01 01:00:00"), 30)).toDF("user", "ts", "age"))
    log.write(g, Seq((2L, t("2024-01-01 02:00:00"), 40)).toDF("user", "ts", "age"))
    log.write(g, Seq((3L, t("2024-01-02 01:00:00"), 50)).toDF("user", "ts", "age"))
    // a later append on the shared date whose keys and times run against
    // the file order: the compacted file must still come out sorted
    log.write(g, Seq((9L, t("2024-01-01 00:30:00"), 60), (1L, t("2024-01-01 00:10:00"), 70),
      (2L, t("2024-01-01 00:20:00"), 80)).toDF("user", "ts", "age"))
    def files(date: String) = {
      val d = new java.io.File(s"${log.dir(g)}/p_date=$date")
      d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    assert(files("2024-01-01") == 3, "precondition: one file per append")
    val before = log.read(g).select("user", "age")
      .as[(Long, Int)].collect().toSet
    log.compact(g)
    assert(files("2024-01-01") == 1 && files("2024-01-02") == 1)
    val after = log.read(g).select("user", "age")
      .as[(Long, Int)].collect().toSet
    assert(after == before, "compaction must not change rows")
    assertDatesSorted(log.dir(g), "user")
  }

  /** Every date of the log at `dir` is one data file whose rows, read
    * alone in file order, are ordered by (`key`, ts). */
  private def assertDatesSorted(dir: String, key: String): Unit =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("p_date=")).foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"$d holds ${parts.length} files")
      val rows = spark.read.parquet(parts.head.toString).select(col(key), col("ts"))
        .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          Option(r.getTimestamp(1)).map(_.getTime))).toSeq
      assert(rows == rows.sorted, s"${parts.head} is not ordered by ($key, ts): $rows")
    }

  test("compact recovery: a marked stage is swapped in, an unmarked one discarded") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("cmpr", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("cmprlog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    log.write(g, Seq(
      (1L, t("2024-01-01 01:00:00"), 30),
      (2L, t("2024-01-02 01:00:00"), 40)).toDF("user", "ts", "age"))
    val before = log.read(g).select("user", "age")
      .as[(Long, Int)].collect().toSet

    // simulate a crash AFTER staging completed (marker present) but
    // mid-swap: one date already deleted from the live log — the
    // staged copy is the only durable one left
    val base = new java.io.File(log.dir(g))
    val stage = new java.io.File(base, "_compact_staged")
    log.readMerged(g).repartition(col("p_date"))
      .write.mode("overwrite").partitionBy("p_date")
      .parquet(stage.toString)
    new java.io.File(stage, "_STAGED").createNewFile()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(base, "p_date=2024-01-01"))
    log.recoverCompact(g)
    assert(!stage.exists(), "stage must be cleaned up after recovery")
    val recovered = log.read(g).select("user", "age")
      .as[(Long, Int)].collect().toSet
    assert(recovered == before, "marked stage must restore every row")

    // a crash BEFORE the marker = partial write → discarded, log intact
    stage.mkdirs()
    new java.io.File(stage, "part-junk.parquet").createNewFile()
    log.recoverCompact(g)
    assert(!stage.exists(), "unmarked stage must be discarded")
    assert(log.read(g).select("user", "age").as[(Long, Int)]
      .collect().toSet == before)
  }

  test("expire unlinks only date partitions older than the cutoff") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("exp", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("explog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    log.write(g, Seq(
      (1L, t("2024-01-01 01:00:00"), 30),
      (2L, t("2024-02-01 01:00:00"), 40),
      (3L, t("2024-03-01 01:00:00"), 50)).toDF("user", "ts", "age"))
    val n = log.expire(g, java.sql.Date.valueOf("2024-02-01"))
    assert(n == 1, s"expected exactly the January partition dropped, got $n")
    val left = log.read(g).select("user").as[Long].collect().toSet
    assert(left == Set(2L, 3L), "cutoff date itself must survive (exclusive)")
  }

  test("forget erases an entity, rewriting only the dates it touches") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("rtbf", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("rtbflog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    log.write(g, Seq(
      (1L, t("2024-01-01 01:00:00"), 30),
      (2L, t("2024-01-01 02:00:00"), 40),
      (1L, t("2024-01-02 01:00:00"), 31),
      (3L, t("2024-01-03 01:00:00"), 50)).toDF("user", "ts", "age"))
    val base = new java.io.File(log.dir(g))
    def partFile(date: String) = new java.io.File(base, s"p_date=$date")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val untouchedBefore = partFile("2024-01-03")
    val removed = log.forget(g, Seq(1L))
    assert(removed == 2L, s"user 1 had 2 records, forget reported $removed")
    val left = log.read(g).select("user", "age").as[(Long, Int)].collect().toSet
    assert(left == Set((2L, 40), (3L, 50)))
    // the date user 1 never touched keeps its exact file (no rewrite)
    val untouchedAfter = partFile("2024-01-03")
    assert(untouchedAfter.getName == untouchedBefore.getName &&
      untouchedAfter.lastModified() == untouchedBefore.lastModified(),
      "untouched partition must not be rewritten")
    // 2024-01-02 held ONLY user 1 → whole partition dir must be gone
    assert(!new java.io.File(base, "p_date=2024-01-02").exists(),
      "fully-forgotten date must drop its partition dir")
    // forgetting an absent id is a no-op that touches nothing
    assert(log.forget(g, Seq(99L)) == 0L)
    assert(log.read(g).count() == 2)
  }

  test("forget keeps null-key rows sharing a date with a forgotten entity (review r7)") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("rtbfnull", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("rtbfnulllog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    log.write(g, Seq(
      (Some(1L), t("2024-01-01 01:00:00"), 30),
      (None, t("2024-01-01 02:00:00"), 77), // null entity, same date
      (Some(2L), t("2024-01-01 03:00:00"), 40)).toDF("user", "ts", "age"))
    assert(log.forget(g, Seq(1L)) == 1L)
    val left = log.read(g).select("age").as[Int].collect().toSet
    assert(left == Set(77, 40), "the null-key row must survive the rewrite")
  }

  test("forget takes the broadcast anti-join path for a large deletion batch") {
    // above ForgetInlineMax the ids stop being isin literals and ride a
    // broadcast-joined frame; semantics must not move: exact removed
    // count, null-key rows survive, untouched dates keep their files
    val c = registered()
    val g = c.createGroup(FeatureGroup("rtbfbig", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("rtbfbiglog"))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val keep = (100001L to 100005L).map(u =>
      (Some(u), t("2024-01-01 01:00:00"), 1))
    val doomedRows = (1L to 1200L).map(u =>
      (Some(u), t("2024-01-01 02:00:00"), 2))
    val nullKey = Seq((Option.empty[Long], t("2024-01-01 03:00:00"), 3))
    val other = Seq((Some(1L), t("2024-01-02 01:00:00"), 4), // doomed, day 2
      (Some(100001L), t("2024-01-03 01:00:00"), 5))          // untouched day
    log.write(g, (keep ++ doomedRows ++ nullKey ++ other).toDF("user", "ts", "age"))
    assert(doomedRows.size > log.ForgetInlineMax,
      "spec must exceed the inline threshold to exercise the join path")
    val base = new java.io.File(log.dir(g))
    def partFile(date: String) = new java.io.File(base, s"p_date=$date")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val untouchedBefore = partFile("2024-01-03")
    // ids passed as Ints against the LongType key: the join path must
    // coerce like the isin path's analyzer cast does — success must not
    // depend on batch size (review r9)
    val removed = log.forget(g, (1 to 1200))
    assert(removed == 1201L, s"1200 day-1 rows + 1 day-2 row, got $removed")
    val left = log.read(g).select("age").as[Int].collect().toSeq.sorted
    assert(left == Seq(1, 1, 1, 1, 1, 3, 5),
      "survivors: the 5 keepers, the null-key row, the untouched-day row")
    val untouchedAfter = partFile("2024-01-03")
    assert(untouchedAfter.getName == untouchedBefore.getName &&
      untouchedAfter.lastModified() == untouchedBefore.lastModified(),
      "untouched partition must not be rewritten")
  }

  test("asOfJoinWithin nulls a match older than the staleness bound") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val labels = Seq((1L, 100L, t("2024-03-01 00:00:00")),
      (2L, 200L, t("2024-03-01 00:00:00"))).toDF("user", "label_id", "ts")
    val feats = Seq(
      (1L, t("2024-02-20 00:00:00"), 7.0),   // 10 days old → fresh
      (2L, t("2023-12-01 00:00:00"), 9.0))   // 91 days old → stale
      .toDF("user", "fts", "v")
    val got = Serving.asOfJoinWithin(labels, feats, Seq("user"), "ts", "fts",
        Seq("v"), maxAgeSec = 30L * 24 * 3600)
      .select("user", "v").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> Some(7.0), 2L -> None),
      s"stale feature must serve NULL, got $got")
  }

  test("snapshotDiff reports added/changed/unchanged across times and removed across a forget") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, 10L, t("2024-01-01 00:00:00"), "a"),
      (1L, 20L, t("2024-01-20 00:00:00"), "b"), // user 1 changes
      (2L, 11L, t("2024-01-01 00:00:00"), "c"), // user 2 stays
      (3L, 30L, t("2024-01-20 00:00:00"), "d")) // user 3 appears late
      .toDF("user", "rec_id", "ts", "v")
    val a1 = to_timestamp(lit("2024-01-10 00:00:00"))
    val a2 = to_timestamp(lit("2024-01-31 00:00:00"))
    val byTime = Serving.snapshotDiff(log, log, "user", "ts", a1, a2,
        Seq(col("rec_id")), Seq("rec_id"))
      .select("user", "status").as[(Long, String)].collect().toMap
    assert(byTime == Map(1L -> "changed", 2L -> "unchanged", 3L -> "added"))
    // log-mutation audit: post-forget frame drops user 2 entirely →
    // same as-of on both sides, user 2 reports removed
    val afterForget = log.filter($"user" =!= 2L)
    val byLog = Serving.snapshotDiff(log, afterForget, "user", "ts", a2, a2,
        Seq(col("rec_id")), Seq("rec_id"))
      .select("user", "status").as[(Long, String)].collect().toMap
    assert(byLog == Map(1L -> "unchanged", 2L -> "removed", 3L -> "unchanged"))
    // a NULL entity key is one entity (write() allows it): the join is
    // null-safe, so it must read unchanged — not spurious removed+added
    // (review r9)
    val withNull = log.select($"user".cast("long").as("user"), $"rec_id", $"ts")
      .unionByName(Seq((Option.empty[Long], 99L))
        .toDF("user", "rec_id")
        .withColumn("ts", to_timestamp(lit("2024-01-05 00:00:00"))))
    val nullRow = Serving.snapshotDiff(withNull, withNull, "user", "ts", a2, a2,
        Seq(col("rec_id")), Seq("rec_id"))
      .filter($"user".isNull)
      .select("status").as[String].collect().toSeq
    assert(nullRow == Seq("unchanged"),
      s"null-key entity must diff as one entity, got $nullRow")
  }

  test("record version column persists; defaults to 1 (feature_store.py:107,357)") {
    val g = FeatureGroup("ver", 1, Seq("age"), "user_id")
    val log = new RecordLog(spark, tmpDir("version"))
    log.write(g, Seq(("user-1", "2024-01-01 00:00:00", 30L))
      .toDF("user_id", "ts_s", "age")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"))
    log.write(g, Seq(("user-2", "2024-01-01 00:00:00", 40L, 2))
      .toDF("user_id", "ts_s", "age", "version")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s"))
    val got = log.read(g).select($"user_id", $"version".cast("int"))
      .as[(String, Int)].collect().toMap
    assert(got == Map("user-1" -> 1, "user-2" -> 2))
  }

  test("old on-disk catalog (pre-`id` schema) still reads (ADVICE r2 migration)") {
    val root = tmpDir("oldcatalog")
    val c = new FeatureCatalog(spark, root)
    c.registerFeature(FeatureDef("age", "user", "int"))
    // simulate a catalog written before the model grew `id`: rewrite
    // the current version dir without that column
    val ver = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/features", "_CURRENT")).trim
    val old = spark.read.parquet(s"$root/features/v_$ver").drop("id")
    old.write.mode("overwrite").parquet(s"$root/features/v_99")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/features", "_CURRENT"), "99")
    val f = c.getFeature("age")
    assert(f.exists(x => x.dtype == "int" && x.id == ""))
    // and a write on top of the old schema still works
    c.registerFeature(FeatureDef("income", "user", "float"))
    assert(c.features.count() == 2)
  }

  test("a catalog rooted at a file:// URI keeps its _CURRENT pointer under the root") {
    val dir = tmpDir("uricatalog")
    val c = new FeatureCatalog(spark, s"file://$dir")
    c.registerFeature(FeatureDef("age", "user", "int"))
    c.registerFeature(FeatureDef("income", "user", "float"))
    assert(c.featureVersions == Seq(0, 1))
    assert(new java.io.File(s"$dir/features/_CURRENT").isFile)
    assert(!new java.io.File(s"$dir/features/._CURRENT.crc").exists)
    assert(c.listFeatures().map(_.name) == Seq("age", "income"))
  }

  test("catalog time travel: every mutation's predecessor stays readable") {
    val c = registered() // three sequential registers → versions 0,1,2
    assert(c.featureVersions == Seq(0, 1, 2))
    assert(c.featuresAt(0).collect().map(_.name).toSeq == Seq("age"))
    assert(c.featuresAt(1).collect().map(_.name).sorted.toSeq ==
      Seq("age", "income"))
    // current == latest version; deactivation writes version 3 but the
    // pre-deactivation state is still intact at 2
    c.deactivateFeature("age")
    assert(c.featureVersions == Seq(0, 1, 2, 3))
    assert(c.featuresAt(2).filter(_.isActive).count() == 3)
    assert(c.features.filter(_.isActive).count() == 2)
    intercept[Exception](c.featuresAt(99).collect())
  }

  test("orphaned lock is stolen after TTL (ADVICE r2)") {
    val root = tmpDir("locksteal")
    val c = new FeatureCatalog(spark, root)
    val dir = java.nio.file.Paths.get(s"$root/features")
    java.nio.file.Files.createDirectories(dir)
    val lock = dir.resolve("_LOCK")
    java.nio.file.Files.write(lock, "999999 0".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - FeatureCatalog.LockStealAfterMs - 1000))
    // would previously spin 30s then throw; now steals and proceeds
    c.registerFeature(FeatureDef("age", "user", "int"))
    assert(c.getFeature("age").nonEmpty)
  }

  test("stale lock with concurrent contenders: every write lands (ADVICE r3)") {
    val root = tmpDir("lockrace")
    val dir = java.nio.file.Paths.get(s"$root/features")
    java.nio.file.Files.createDirectories(dir)
    val lock = dir.resolve("_LOCK")
    java.nio.file.Files.write(lock, "999999 0".getBytes)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - FeatureCatalog.LockStealAfterMs - 1000))
    // Four threads all observe the same stale lock; the move-based steal
    // admits exactly one at a time, so no read-modify-write is lost.
    val c = new FeatureCatalog(spark, root)
    val threads = (1 to 4).map { i =>
      new Thread(() => c.registerFeature(FeatureDef(s"f$i", "user", "int")))
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(c.features.count() == 4)
    assert(!java.nio.file.Files.exists(lock), "lock released after last writer")
  }

  // ---- cross-PROCESS lock protocol (VERDICT r10 #8) ----------------
  // The thread-interleaved tests above share one JVM; these fork a
  // real second JVM (CatalogLockChild) driving the REAL withLock via
  // the same class file, so acquire/steal/release cross actual process
  // boundaries and "crash" is Runtime.halt inside the critical
  // section, not a simulated file drop.

  private def forkLockChild(args: String*): (Process, java.io.BufferedReader) = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.CatalogLockChild") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val p = pb.start()
    (p, new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream)))
  }

  private def awaitLine(r: java.io.BufferedReader, want: String,
      timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var line = r.readLine()
    while (line != null && !line.contains(want)) {
      assert(System.currentTimeMillis() < deadline, s"timed out awaiting $want")
      line = r.readLine()
    }
    assert(line != null, s"child stream ended before $want")
  }

  test("steal-after-crash across real process death (VERDICT r10 #8)") {
    val root = tmpDir("xjvmcrash")
    val dir = java.nio.file.Paths.get(s"$root/features")
    val lock = dir.resolve("_LOCK")
    val (child, out) = forkLockChild("crash", dir.toString)
    awaitLine(out, "HOLDING")
    assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(child.exitValue() == 42, "child must die via halt, not release")
    // real crash state: a foreign-pid lock with no owner alive
    assert(java.nio.file.Files.exists(lock), "crashed child left its lock")
    val token = new String(java.nio.file.Files.readAllBytes(lock))
    val ownPid = ProcessHandle.current().pid().toString
    assert(token.split(" ").head != ownPid, s"lock must be foreign: $token")
    // age it past the TTL (the crash happened "a minute ago")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - FeatureCatalog.LockStealAfterMs - 1000))
    // the surviving writer must steal and complete the mutation
    val c = new FeatureCatalog(spark, root)
    c.registerFeature(FeatureDef("age", "user", "int"))
    assert(c.getFeature("age").nonEmpty)
    assert(!java.nio.file.Files.exists(lock), "lock released after steal+write")
  }

  test("no-cascade-delete: an overstaying victim's release leaves the thief's lock (VERDICT r10 #8)") {
    val root = tmpDir("xjvmhold")
    val dir = java.nio.file.Paths.get(s"$root/features")
    val lock = dir.resolve("_LOCK")
    // victim process: acquires, then overstays the TTL by sleeping
    val (child, out) = forkLockChild("hold", dir.toString, "6000")
    awaitLine(out, "HOLDING")
    assert(java.nio.file.Files.exists(lock))
    // present the victim's live lock as stale (it overstayed)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - FeatureCatalog.LockStealAfterMs - 1000))
    // thief (this JVM): steals and holds its critical section PAST the
    // victim's wake-up, so the victim's release runs while the thief's
    // fresh lock is on disk — the cascade-delete window under test
    val cat = new FeatureCatalog(spark, root)
    val m = classOf[FeatureCatalog].getDeclaredMethods
      .find(_.getName.endsWith("withLock")).get
    m.setAccessible(true)
    @volatile var thiefDone = false
    val thief = new Thread(() => {
      m.invoke(cat, dir.toString, (() => {
        // hold until the victim has woken AND run its real release
        assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
        awaitLine(out, "RELEASED")
        // victim's release ran while we hold: our lock must survive it
        assert(java.nio.file.Files.exists(lock),
          "victim's release cascade-deleted the thief's lock")
        val t = new String(java.nio.file.Files.readAllBytes(lock))
        assert(t.split(" ").head == ProcessHandle.current().pid().toString,
          s"lock no longer the thief's: $t")
        thiefDone = true
        "ok"
      }): Function0[Any])
    })
    thief.start()
    thief.join(60000)
    assert(thiefDone, "thief never completed its critical section")
    assert(!java.nio.file.Files.exists(lock), "thief's release cleans up")
    // and the catalog still functions end-to-end at this root
    cat.registerFeature(FeatureDef("post", "user", "int"))
    assert(cat.getFeature("post").nonEmpty)
  }

  test("migration default for a missing primitive column (ADVICE r3)") {
    val root = tmpDir("primmigrate")
    val c = new FeatureCatalog(spark, root)
    c.registerFeature(FeatureDef("age", "user", "int"))
    // catalog written before the model grew `isActive` (Boolean,
    // non-nullable): lit(null) would NPE in the deserializer; the
    // migration must fill the case-class default instead
    val ver = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/features", "_CURRENT")).trim
    val old = spark.read.parquet(s"$root/features/v_$ver").drop("isActive")
    old.write.mode("overwrite").parquet(s"$root/features/v_99")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/features", "_CURRENT"), "99")
    val f = c.getFeature("age")
    assert(f.exists(_.isActive), "missing isActive defaults to true")
    assert(c.listFeatures().map(_.name) == Seq("age"), "active filter still works")
  }

  // ---- serves without metadata jobs: catalog memo + driver-listed log ----

  private def dailyRows(days: Int, users: Int) = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 06:00:00").getTime
    (0 until days).flatMap(d => (0 until users).map(u =>
      (u.toLong, new java.sql.Timestamp(t0 + d * 86400000L + u * 1000L), d * 10 + u)))
      .toDF("user", "ts", "age")
  }

  test("a warm catalog lookup and a read of an unchanged log schedule no Spark job") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("warm", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("warmlog"))
    // 40 date dirs: past the 32 at which spark.read lists in a job
    log.write(g, dailyRows(40, 3))
    // cold: the first lookup reads the catalog version, the first read
    // infers the schema from one footer on the driver, and the first
    // merged read of 40 files (past the 32-file threshold) keeps
    // Spark's one footer-merge job
    assert(c.getGroup("warm").contains(g))
    val (cold, coldJobs) = jobsDuring(log.read(g))
    assert(coldJobs == 0, s"a cold read scheduled $coldJobs job(s)")
    val (coldMerged, coldMergedJobs) = jobsDuring(log.readMerged(g))
    assert(coldMergedJobs == 1,
      s"a cold merged read past the threshold scheduled $coldMergedJobs job(s)")
    val ((warmG, warm, warmMerged), jobs) = jobsDuring {
      (c.getGroup("warm"), log.read(g), log.readMerged(g))
    }
    assert(jobs == 0, s"warm lookup + reads scheduled $jobs job(s)")
    assert(warmG.contains(g))
    val (others, otherJobs) = jobsDuring {
      (c.getGroupById(g.id), c.listGroups(), c.getFeature("age"), c.listFeatures())
    }
    assert(otherJobs == 0, s"warm lookups scheduled $otherJobs job(s)")
    assert(others._1.contains(g) && others._2 == Seq(g))
    assert(others._3.exists(_.dtype == "int"))
    assert(others._4.map(_.name) == Seq("age", "city", "income"))
    assert(warm.schema == cold.schema && warmMerged.schema == coldMerged.schema)
    assert(warm.schema("p_date").dataType == org.apache.spark.sql.types.DateType)
    assert(warm.count() == 120 && warm.select("p_date").distinct().count() == 40)
  }

  test("a write through a second RecordLog and a createGroup through a " +
      "second FeatureCatalog are seen by the next read and lookup") {
    val root = tmpDir("twocat")
    val c1 = new FeatureCatalog(spark, root)
    c1.registerFeature(FeatureDef("age", "user", "int"))
    val g = c1.createGroup(FeatureGroup("shared", 1, Seq("age"), "user"))
    assert(c1.getGroup("shared", 2).isEmpty) // memoizes the current version
    val c2 = new FeatureCatalog(spark, root)
    val g2 = c2.createGroup(FeatureGroup("shared", 2, Seq("age"), "user"))
    assert(c1.getGroup("shared", 2).contains(g2))
    assert(c1.listGroups() == Seq(g, g2))
    intercept[IllegalArgumentException](
      c1.createGroup(FeatureGroup("shared", 2, Seq("age"), "user")))

    val logRoot = tmpDir("twolog")
    val l1 = new RecordLog(spark, logRoot)
    val l2 = new RecordLog(spark, logRoot)
    l1.write(g, dailyRows(2, 2))
    assert(l1.read(g).count() == 4)
    // same dates: the new files land in existing date dirs
    l2.write(g, dailyRows(2, 3).filter($"user" === 2L))
    assert(l1.read(g).count() == 6)
    // a late column: a new file schema, seen by the merged read
    l2.write(g, Seq((9L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"),
      1, 0.5)).toDF("user", "ts", "age", "score"))
    assert(l1.readMerged(g).columns.contains("score"))
    assert(l1.read(g).count() == 7)
  }

  test("the driver listing skips _SUCCESS, .crc, _temporary and an " +
      "unmarked _compact_staged, as spark.read does") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("hidden", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("hiddenlog"))
    log.write(g, dailyRows(3, 2))
    val base = new java.io.File(log.dir(g))
    val dayDir = new java.io.File(base, "p_date=2024-01-01")
    val part = dayDir.listFiles().find(_.getName.endsWith(".parquet")).get
    assert(new java.io.File(base, "_SUCCESS").exists())
    assert(dayDir.listFiles().exists(_.getName.endsWith(".crc")))
    // leftovers holding a real parquet file each: counted if listed
    val tmp = new java.io.File(base, "_temporary/0/p_date=2024-01-01")
    tmp.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(tmp, part.getName).toPath)
    val stage = new java.io.File(base, "_compact_staged/p_date=2024-01-01")
    stage.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(stage, part.getName).toPath)
    val got = log.read(g)
    assert(got.inputFiles.length == 3 &&
      got.inputFiles.forall(f => !f.contains("/_") && f.endsWith(".parquet")),
      got.inputFiles.mkString(", "))
    assert(got.count() == 6)
    assert(!new java.io.File(base, "_compact_staged").exists(),
      "the read's recovery discards the unmarked stage")
    val ref = spark.read.parquet(log.dir(g))
    assert(got.schema == ref.schema)
    assert(got.collect().toSet == ref.collect().toSet)
  }

  test("a p_date/p_epoch streaming log reads as spark.read.parquet does, " +
      "column order included") {
    val log = new RecordLog(spark, tmpDir("epochlog"))
    val g = FeatureGroup("stream", 1, Seq("value"), "user_id")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    graft.streaming.StreamingFeatures.writeEpoch(Seq(
      (1L, t("2024-01-01 10:00:00"), 1.0), (2L, t("2024-01-02 10:00:00"), 2.0))
      .toDF("user_id", "ts", "value"), 0L, log.dir(g))
    graft.streaming.StreamingFeatures.writeEpoch(Seq(
      (3L, t("2024-01-01 11:00:00"), 3.0, "x")).toDF("user_id", "ts", "value", "tag"),
      1L, log.dir(g))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val ref = spark.read.parquet(log.dir(g))
    val got = log.read(g)
    assert(got.schema == ref.schema, s"${got.schema} vs ${ref.schema}")
    assert(got.columns.takeRight(2).toSeq == Seq("p_date", "p_epoch"))
    assert(rows(got) == rows(ref))
    val refMerged = spark.read.option("mergeSchema", "true").parquet(log.dir(g))
    val merged = log.readMerged(g)
    assert(merged.schema == refMerged.schema && merged.columns.contains("tag"))
    assert(rows(merged) == rows(refMerged))
  }

  test("a missing or empty log raises the AnalysisException spark.read raises") {
    val log = new RecordLog(spark, tmpDir("nolog"))
    val g = FeatureGroup("none", 1, Seq("age"), "user")
    def condition(f: => Any) =
      intercept[org.apache.spark.sql.AnalysisException](f).getCondition
    assert(condition(log.read(g)) == condition(spark.read.parquet(log.dir(g))))
    assert(condition(log.readMerged(g)) == "PATH_NOT_FOUND")
    new java.io.File(log.dir(g)).mkdirs()
    new java.io.File(log.dir(g), "_SUCCESS").createNewFile()
    assert(condition(log.read(g)) == condition(spark.read.parquet(log.dir(g))))
    assert(condition(log.readMerged(g)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a catalog version past MemoRows is queried per lookup, not pinned") {
    val c = new FeatureCatalog(spark, tmpDir("bigcatalog"))
    val n = FeatureCatalog.MemoRows + 1
    c.registerFeatures((0 until n).map(i => FeatureDef(s"f$i", "user", "int")))
    assert(c.getFeature(s"f${n - 1}").exists(_.name == s"f${n - 1}"))
    val (hit, jobs) = jobsDuring(c.getFeature("f7"))
    assert(hit.exists(_.name == "f7"))
    assert(jobs > 0, "an oversized version must not be served from the memo")
  }

  // ---- ParquetDir: spark.read.parquet without metadata jobs ----

  /** `body` with the session settings `kv`, restored afterwards. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case v              => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** `ParquetDir.read(dir, options)` equals `spark.read.options(options)
    * .parquet(dir)` in schema, column order included, and in rows. */
  private def readsAsSpark(dir: String,
      options: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    val got = ParquetDir.read(spark, dir, options)
    val ref = spark.read.options(options).parquet(dir)
    assert(got.schema == ref.schema, s"${got.schema} vs ${ref.schema}")
    assert(sortedRows(got) == sortedRows(ref))
    got
  }

  test("ParquetDir.read equals spark.read.parquet: one schema, an evolved " +
      "table with and without mergeSchema, int/date/string partitions") {
    val one = tmpDir("pd_one") + "/t"
    Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "s", "x").write.parquet(one)
    readsAsSpark(one)

    // k=1 is written second but sorts first: its footer leads both reads
    val evolved = tmpDir("pd_evolved") + "/t"
    Seq((1L, 0.5)).toDF("id", "c").write.parquet(s"$evolved/k=2")
    Seq((2L, "x", 7)).toDF("id", "b", "n").write.parquet(s"$evolved/k=1")
    assert(readsAsSpark(evolved).columns.toSeq == Seq("id", "b", "n", "k"))
    assert(readsAsSpark(evolved, Map("mergeSchema" -> "true")).columns.toSeq ==
      Seq("id", "b", "n", "c", "k"))

    val parts = tmpDir("pd_parts") + "/t"
    Seq[(Long, Option[Int], Option[java.sql.Date], Option[String])](
      (1L, Some(3), Some(java.sql.Date.valueOf("2024-01-02")), Some("x")),
      (2L, Some(-1), Some(java.sql.Date.valueOf("2024-01-02")), None),
      (3L, None, None, Some("y y")),
      (4L, Some(3), Some(java.sql.Date.valueOf("2024-02-29")), Some("x")))
      .toDF("id", "pi", "pd", "ps").write.partitionBy("pi", "pd", "ps").parquet(parts)
    assert(new java.io.File(s"$parts/pi=__HIVE_DEFAULT_PARTITION__").isDirectory)
    val got = readsAsSpark(parts)
    assert(got.schema.map(_.dataType.typeName) == Seq("long", "integer", "date", "string"))
    assert(got.filter($"ps".isNull).count() == 1)
  }

  test("ParquetDir.read skips _SUCCESS, .crc and _temporary, and honours " +
      "spark.sql.parquet.binaryAsString") {
    val dir = tmpDir("pd_hidden") + "/t"
    Seq((1L, "a".getBytes), (2L, "b".getBytes)).toDF("id", "bin")
      .write.partitionBy("id").parquet(dir)
    val part = new java.io.File(s"$dir/id=1").listFiles().find(_.getName.endsWith(".parquet")).get
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(part.getParentFile.listFiles().exists(_.getName.endsWith(".crc")))
    val tmp = new java.io.File(dir, "_temporary/0/id=3")
    tmp.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(tmp, part.getName).toPath)
    val got = readsAsSpark(dir)
    assert(got.inputFiles.length == 2 && got.count() == 2)

    // binaryAsString types only footers without Spark's own schema: a
    // file written by a plain parquet writer
    val raw = tmpDir("pd_binary") + "/t"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary bin; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$raw/part-0.parquet")).withType(schema).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try {
      w.write(rows.newGroup().append("id", 1L).append("bin", "a"))
      w.write(rows.newGroup().append("id", 2L).append("bin", "b"))
    } finally w.close()
    assert(readsAsSpark(raw).schema("bin").dataType == org.apache.spark.sql.types.BinaryType)
    // the same listing under another setting is inferred again, not
    // served the memoized binary schema
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val asString = readsAsSpark(raw)
      assert(asString.schema("bin").dataType == org.apache.spark.sql.types.StringType)
      assert(asString.filter($"id" === 1L).select("bin").as[String].collect().toSeq == Seq("a"))
    }
  }

  test("ParquetDir.read of a missing path or an empty dir raises spark.read's error") {
    val dir = tmpDir("pd_missing") + "/t"
    def condition(f: => Any) =
      intercept[org.apache.spark.sql.AnalysisException](f).getCondition
    val merge = Map("mergeSchema" -> "true")
    assert(condition(ParquetDir.read(spark, dir)) == condition(spark.read.parquet(dir)))
    assert(condition(ParquetDir.read(spark, dir, merge)) == "PATH_NOT_FOUND")
    new java.io.File(dir).mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    assert(condition(ParquetDir.read(spark, dir)) == condition(spark.read.parquet(dir)))
    assert(condition(ParquetDir.read(spark, dir, merge)) ==
      condition(spark.read.options(merge).parquet(dir)))
  }

  test("a cold ParquetDir.read of a just-written 40-partition table schedules " +
      "no job; a merged read does so only past the discovery threshold") {
    val dir = tmpDir("pd_cold") + "/t"
    dailyRows(40, 2).withColumn("p_date", to_date($"ts"))
      .repartition($"p_date").write.partitionBy("p_date").parquet(dir)
    val (plain, jobs) = jobsDuring(ParquetDir.read(spark, dir))
    assert(jobs == 0, s"a cold read scheduled $jobs job(s)")
    assert(plain.count() == 80)
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val merge = Map("mergeSchema" -> "true")
    val (merged, mergedJobs) = withConf(threshold -> "40") {
      jobsDuring(ParquetDir.read(spark, dir, merge))
    }
    assert(mergedJobs == 0, s"a merged read of 40 files at threshold 40 scheduled $mergedJobs job(s)")
    assert(merged.schema == spark.read.options(merge).parquet(dir).schema)
    PathSigCache.clear() // the memoized merged schema would serve it
    val (_, pastJobs) = withConf(threshold -> "39") {
      jobsDuring(ParquetDir.read(spark, dir, merge))
    }
    assert(pastJobs == 1, s"a merged read past the threshold scheduled $pastJobs job(s)")
  }

  // ---- incremental compaction: only dates holding more than one file ----

  /** Each date dir's data files under the log at `dir`: name → mtime. */
  private def dateFiles(dir: String): Map[String, Map[String, Long]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("p_date="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap).toMap

  /** The log's (user, ts, age) rows as a sorted multiset. */
  private def userAges(log: RecordLog, g: FeatureGroup): Seq[String] =
    log.read(g).select("user", "ts", "age").collect().map(_.mkString("|")).toSeq.sorted

  test("a write lays each date down as one sorted file; a second compact of " +
      "an unchanged compacted log schedules no job and touches no file") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("inc", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("inclog"))
    // rows in reverse: users descending inside each day, which the
    // write must sort
    val rows = dailyRows(5, 4)
    log.write(g, spark.createDataFrame(
      java.util.Arrays.asList(rows.collect().reverse: _*), rows.schema))
    assertDatesSorted(log.dir(g), "user")
    val written = dateFiles(log.dir(g))
    log.compact(g)
    assert(dateFiles(log.dir(g)) == written, "a log in compacted form is left alone")
    log.write(g, dailyRows(5, 4).filter($"user" === 1L)) // every date: a second file
    log.compact(g)
    val compacted = dateFiles(log.dir(g))
    assert(compacted.size == 5 && compacted.values.forall(_.size == 1))
    val kept = userAges(log, g)
    val (_, jobs) = jobsDuring(log.compact(g))
    assert(jobs == 0, s"a compaction with nothing to do scheduled $jobs job(s)")
    assert(dateFiles(log.dir(g)) == compacted, "no file may be renamed or rewritten")
    assert(userAges(log, g) == kept)
  }

  test("after an append to one old date, compact replaces only that date's file") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("incold", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("incoldlog"))
    log.write(g, dailyRows(6, 5))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    log.write(g, Seq((9L, t("2024-01-03 10:00:01"), 1), (0L, t("2024-01-03 11:00:00"), 2),
      (4L, t("2024-01-03 10:00:00"), 3)).toDF("user", "ts", "age"))
    val before = dateFiles(log.dir(g))
    assert(before("p_date=2024-01-03").size == 2)
    val rows = userAges(log, g)
    log.compact(g)
    val after = dateFiles(log.dir(g))
    assert(after.keySet == before.keySet)
    after.foreach { case (d, fs) =>
      if (d == "p_date=2024-01-03") assert(fs.size == 1 && fs.keySet != before(d).keySet)
      else assert(fs == before(d), s"clean date $d was rewritten")
    }
    assertDatesSorted(log.dir(g), "user")
    assert(userAges(log, g) == rows, "compaction must not change rows")
    assert(log.read(g).count() == 33)
  }

  test("compact of an evolved log rewrites every date, so read sees the late column") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("incevo", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("incevolog"))
    log.write(g, dailyRows(4, 3))
    // a new single-file date carrying a new column: no date holds two files
    log.write(g, Seq((7L, java.sql.Timestamp.valueOf("2024-01-09 00:00:00"), 5, 0.5))
      .toDF("user", "ts", "age", "score"))
    assert(dateFiles(log.dir(g)).values.forall(_.size == 1))
    log.compact(g)
    val read = log.read(g)
    assert(read.columns.contains("score"), s"late column missing from ${read.columns.toSeq}")
    val scores = read.select("user", "score").as[(Long, Option[Double])].collect().toMap
    assert(scores(7L) == Some(0.5) && scores(0L).isEmpty)
    assert(read.count() == 13)
  }

  test("a null-ts date holding two files is rewritten and keeps its rows") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("incnull", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("incnulllog"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    log.write(g, Seq((1L, Option(t0), 10), (2L, None, 20)).toDF("user", "ts", "age"))
    log.write(g, Seq((3L, Option.empty[java.sql.Timestamp], 30)).toDF("user", "ts", "age"))
    val nullDate = "p_date=__HIVE_DEFAULT_PARTITION__"
    val before = dateFiles(log.dir(g))
    assert(before(nullDate).size == 2)
    val rows = userAges(log, g)
    log.compact(g)
    val after = dateFiles(log.dir(g))
    assert(after(nullDate).size == 1)
    assert(after("p_date=2024-01-01") == before("p_date=2024-01-01"))
    assert(userAges(log, g) == rows && rows.length == 3)
  }

  test("a crash after _STAGED with only the dirty dates staged recovers every row") {
    val c = registered()
    val g = c.createGroup(FeatureGroup("inccrash", 1, Seq("age"), "user"))
    val log = new RecordLog(spark, tmpDir("inccrashlog"))
    log.write(g, dailyRows(3, 3))
    log.write(g, dailyRows(3, 3).filter($"ts" < "2024-01-02")) // 2024-01-01: two files
    val rows = userAges(log, g)
    val clean = dateFiles(log.dir(g)) - "p_date=2024-01-01"
    // what compact stages: the dirty date alone, then the marker; the
    // crash hits mid-swap, after the live dirty date was deleted
    val base = new java.io.File(log.dir(g))
    val stage = new java.io.File(base, "_compact_staged")
    log.readMerged(g).filter($"p_date" === "2024-01-01").repartition(col("p_date"))
      .write.mode("overwrite").partitionBy("p_date").parquet(stage.toString)
    new java.io.File(stage, "_STAGED").createNewFile()
    val live = new java.io.File(base, "p_date=2024-01-01")
    live.listFiles().foreach(_.delete()); live.delete()
    assert(userAges(log, g) == rows, "the read's recovery must restore the dirty date")
    assert(!stage.exists())
    val after = dateFiles(log.dir(g))
    assert(after("p_date=2024-01-01").size == 1)
    assert(after - "p_date=2024-01-01" == clean, "recovery must not touch clean dates")
  }
}
