package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Sizing}
import graft.plans.BoundedTopK

/** r18 lifecycle-cost specs (VERDICT r17 #1/#2/#5/#6/#7): the
  * listing-signature cache behind the persisted bounded reads, the
  * pre-folded `_arr` level siblings, the registered-pin release, and
  * the measured cliff boundary as a CI threshold. */
class IndexCacheSpec extends SparkSpec {
  import spark.implicits._

  private def annFixture = {
    val bases = Vector(
      Vector(1.0, 0.1, 0.0, 0.0), Vector(0.0, 1.0, 0.1, 0.0),
      Vector(0.0, 0.0, 1.0, 0.1))
    (0 until 60).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      val vec: Seq[Double] = bases(c).zipWithIndex.map { case (x, j) =>
        x + (if (j == c) jit else jit / 3) }
      (i.toLong, vec)
    }.toDF("id", "v")
  }

  test("persisted meta reads are listing-signature cached — and a " +
      "rebuild at the same path serves FRESH values (r18, VERDICT " +
      "r17 #1: the cache can never pin a stale dial)") {
    val dir = tmpDir("ivf_meta_cache") + "/idx"
    val all = annFixture
    Similarity.buildIvfIndex(all, "id", "v", dir, nCells = 2,
      trainIters = 1, maxCell = 7, sizing = Sizing.Balanced(3))
    assert(Similarity.ivfIndexMeta(spark, dir) == ((7, 3)))
    // repeated read rides the memo — same values, no staleness
    assert(Similarity.ivfIndexMeta(spark, dir) == ((7, 3)))
    // overwrite the index with different pinned dials: the meta files'
    // listing signature changes, so the memo MUST miss and re-read
    Similarity.buildIvfIndex(all, "id", "v", dir, nCells = 2,
      trainIters = 1, maxCell = 9, sizing = Sizing.Balanced(4))
    assert(Similarity.ivfIndexMeta(spark, dir) == ((9, 4)),
      "rebuild at the same path served a stale cached meta row")
  }

  test("after an append to an IVF index, building the next " +
      "ivfTopKFromIndex frame schedules no listing or footer job") {
    val dir = tmpDir("ivf_append_read") + "/idx"
    val all = annFixture
    Similarity.buildIvfIndex(all.filter($"id" < 40), "id", "v", dir,
      nCells = 2, trainIters = 1, maxCell = 40)
    Similarity.appendToIvfIndex(all.filter($"id" >= 40), "id", "v", dir, batchId = 1)
    val queries = all.filter($"id" % 7 === 0).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toDF("id", "v")
    // the control: spark.read's inference of the same table is a job
    // outside any SQL execution
    val (_, readJobs) = jobsDuring(spark.read.parquet(s"$dir/assigned"), outsideSql = true)
    assert(readJobs >= 1, "the detector must see spark.read's footer job")
    val (top, metaJobs) = jobsDuring(
      Similarity.ivfTopKFromIndex(queries, dir, "id", "v", k = 3), outsideSql = true)
    assert(metaJobs == 0, s"the probe frame scheduled $metaJobs metadata job(s)")
    assert(top.select("query_id").distinct().count() == queries.count())
  }

  test("PathSigCache is BOUNDED: LRU-evicts past its cap (r18, " +
      "VERDICT r17 #7 — the r17 level-count map grew one entry per " +
      "path forever)") {
    graft.fs.PathSigCache.clear()
    val base = tmpDir("sig_cache_bound")
    (0 until 80).foreach { i =>
      val p = s"$base/d$i"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/f"), Array[Byte](i.toByte))
      val got: Int = graft.fs.PathSigCache.cached(spark, p, "spec")(i)
      assert(got == i)
    }
    assert(graft.fs.PathSigCache.size() <= 64,
      s"cache grew to ${graft.fs.PathSigCache.size()} entries")
    // an unlistable path bypasses the cache entirely (compute runs)
    var ran = 0
    val v: Int = graft.fs.PathSigCache.cached(spark,
      s"$base/does_not_exist", "spec") { ran += 1; 42 }
    assert(v == 42 && ran == 1)
  }

  test("pre-folded `_arr` level siblings: written by the build with " +
      "_SUCCESS, consumed by the persisted walk, and a pre-r18 index " +
      "WITHOUT them folds inline to IDENTICAL results (r18, VERDICT " +
      "r17 #2)") {
    val dir = tmpDir("arr_sibling") + "/idx"
    val all = annFixture
    // forced-deep tree: 60 rows, occ 2, branch 2 → 4 persisted levels
    val tree = Sizing.Tree(2, branch = 2)
    Similarity.buildIvfIndex(all, "id", "v", dir,
      nCells = tree.quantizer(all.count()), trainIters = 1,
      trainFraction = 0.5, maxCell = 64 * 2, sizing = tree)
    val levelDirs = Iterator.from(1)
      .map(i => s"$dir/centroids_level_$i")
      .takeWhile(p => new java.io.File(p).exists).toSeq
    assert(levelDirs.nonEmpty, "tree build persisted no levels")
    levelDirs.foreach { p =>
      assert(new java.io.File(s"${p}_arr/_SUCCESS").exists,
        s"missing committed pre-folded sibling for $p")
      // the sibling IS fineArrOf's output persisted: one row per
      // parent, arrays cell_id-sorted
      val arr = spark.read.parquet(s"${p}_arr")
      assert(arr.columns.toSeq == Seq("ccell", "fines"))
      val dup = arr.groupBy("ccell").count().filter($"count" > 1).count()
      assert(dup == 0, s"${p}_arr has duplicate parents")
    }
    // the walk consumes the siblings (semDedupAgainstIndex assigns the
    // batch through withCellUnderIndex): capture the served pairs…
    val batch = all.filter(col("id") < 6)
      .select((col("id") + 1000).as("id"), col("v"))
    def probe(): Seq[(Long, Long, Long, Double)] =
      Similarity.semDedupAgainstIndex(batch, dir, "id", "v",
          threshold = 0.5, maxCell = 1000)
        .orderBy("cell", "id_a", "id_b")
        .as[(Long, Long, Long, Double)].collect().toSeq
    val withArr = probe()
    assert(withArr.nonEmpty, "probe found no pairs — fixture broke")
    // …then delete every sibling (a pre-r18 index) and re-probe: the
    // inline fineArrOf fallback must produce bit-identical pairs
    levelDirs.foreach { p =>
      val d = new org.apache.hadoop.fs.Path(s"${p}_arr")
      d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(d, true)
    }
    graft.fs.PathSigCache.clear()
    assert(probe() == withArr,
      "inline-fold fallback diverged from the pre-folded sibling walk")
  }

  test("registered DISK_ONLY pins release on releasePins(): no blocks " +
      "linger after the consumer is done (r18, VERDICT r17 #5)") {
    import org.apache.spark.storage.StorageLevel
    val out = SparkEntry.queries("q_semdedup_h_sj")(spark, sf)
    // the query pinned its result DISK_ONLY and registered the pin
    assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel == StorageLevel.DISK_ONLY),
      "q_semdedup_h_sj no longer pins its result DISK_ONLY")
    out.write.format("noop").mode("overwrite").save() // the consume
    SparkEntry.releasePins()
    assert(!spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel == StorageLevel.DISK_ONLY),
      "DISK_ONLY blocks linger after releasePins()")
    SparkEntry.releasePins() // idempotent
  }

  test("the derived guard boundary sits BELOW the measured heap " +
      "cliff (r18, VERDICT r17 #6 — BASELINE.md CliffProbe rows as " +
      "CI thresholds, so guard-derivation drift fails the build)") {
    // CliffProbe (BASELINE.md 'heap cliff' table; 16 GiB heap, 32
    // slots, k=5 → 304 B entries): the unguarded hash map OOMs at
    // 1.5M keys/task and the guarded re-key is already CHEAPER at
    // 1.0M (446 vs 667 cpu s). The skip requires BOTH
    // 2·keys/task < threshold AND 2·keys/task·entryBytes·slots ≤
    // budget, so the re-key engages at keys/task ≥ threshold/2.
    val heap = 17179869184L
    val budget = GraftConf.hashAggHeapBudgetBytes(heap)
    val entry = BoundedTopK.entryBytes(5)
    assert(entry == 304L, "the probe's k=5 entry sizing moved")
    val threshold = BoundedTopK.recommendedHashAggKeys(budget, 32, entry)
    // engage at or below the measured already-cheaper point…
    assert(threshold / 2 <= 1000000L,
      s"guard engages at ${threshold / 2} keys/task — past the " +
        "measured re-key-cheaper point (1.0M, BASELINE.md)")
    // …and the byte guard independently rejects the measured OOM load
    assert(2L * 1500000L * entry * 32L > budget,
      "the byte guard would admit the load CliffProbe measured as OOM")
    // the probe's guarded plan flipped regimes between 250k (HASH)
    // and 500k (re-key) keys/task — the boundary must stay inside
    // that measured bracket
    assert(threshold / 2 > 250000L && threshold / 2 <= 500000L,
      s"guard boundary ${threshold / 2} left the measured " +
        "250k-500k flip bracket (BASELINE.md cliff table)")
  }
}
