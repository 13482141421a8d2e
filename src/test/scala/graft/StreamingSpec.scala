package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingFeatures

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class En(user_id: Long, e_ts: java.sql.Timestamp, label: String)
  final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("windowed user features emit closed windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingFeatures.windowedUserFeatures(
      mem.toDF(), windowLen = "1 hour", lateness = "0 seconds")
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:05:00"), 10.0),
        Ev(1L, ts("2024-01-01 10:45:00"), 20.0),
        Ev(2L, ts("2024-01-01 10:30:00"), 5.0))
      q.processAllAvailable()
      // advance the watermark past the 10:00 window
      mem.addData(Ev(1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("user_id", "n_events", "value_sum")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 30.0)))
      assert(rows.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming dedup passes each content fingerprint once, replays included") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = StreamingFeatures.dedupStream(mem.toDF(), lateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Doc(1L, ts("2024-01-01 10:00:00"), "alpha beta"),
        Doc(2L, ts("2024-01-01 10:01:00"), "gamma delta"),
        Doc(3L, ts("2024-01-01 10:02:00"), "alpha  beta")) // fp-dup of 1
      q.processAllAvailable()
      mem.addData(
        Doc(1L, ts("2024-01-01 10:00:00"), "alpha beta"), // re-delivery
        Doc(4L, ts("2024-01-01 10:30:00"), "epsilon"),     // genuinely new
        Doc(5L, ts("2024-01-01 10:31:00"), null),          // null text...
        Doc(6L, ts("2024-01-01 10:32:00"), null))          // ...both pass
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      // exactly one doc per distinct fingerprint; 3 (normalized dup of
      // 1) and the replayed 1 are dropped; distinct null-text docs are
      // NOT duplicates of each other (review r7)
      assert(ids == Set(1L, 2L, 4L, 5L, 6L), s"got $ids")
    } finally q.stop()
  }

  test("session_window groups gap-separated bursts into sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingFeatures.sessionWindowFeatures(
      mem.toDF(), gap = "30 minutes", lateness = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1L, ts("2024-01-01 10:10:00"), 2.0), // same session (10min gap)
        Ev(1L, ts("2024-01-01 11:30:00"), 4.0)) // new session (>30min gap)
      q.processAllAvailable()
      // push the watermark far past both sessions so they close
      mem.addData(Ev(9L, ts("2024-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events", "value_sum")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 2L, 3.0)), s"burst session missing: $rows")
      assert(rows.contains((1L, 1L, 4.0)), s"singleton session missing: $rows")
    } finally q.stop()
  }

  test("streaming dedup drops same-id duplicates within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = StreamingFeatures.dedupedStream(
      mem.toDF().withColumn("event_id", col("user_id")), "event_id",
      lateness = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0), // exact dup
        Ev(2L, ts("2024-01-01 10:00:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("foreachBatch sink writes record-log partition layout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val outDir = tmpDir("stream_log")
    val q = StreamingFeatures.toRecordLog(
      StreamingFeatures.windowedUserFeatures(
        mem.toDF(), windowLen = "1 hour", lateness = "0 seconds"),
      outDir, tmpDir("ckpt")).start()
    try {
      mem.addData(Ev(1L, ts("2024-01-01 10:05:00"), 10.0))
      q.processAllAvailable()
      mem.addData(Ev(1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      val written = spark.read.parquet(outDir)
      assert(written.columns.contains("p_date"))
      assert(written.count() >= 1)
    } finally q.stop()
  }

  test("epoch replay is idempotent: re-running a batch leaves the log unchanged") {
    val outDir = tmpDir("epoch_replay")
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-02 10:00:00"), 2.0)).toDF("user_id", "ts", "value")
    val b2 = Seq((3L, ts("2024-01-01 11:00:00"), 3.0))
      .toDF("user_id", "ts", "value")
    StreamingFeatures.writeEpoch(b1, 0L, outDir)
    StreamingFeatures.writeEpoch(b2, 1L, outDir)
    val before = spark.read.parquet(outDir).count()
    assert(before == 3)
    // crash-replay of epoch 0 (at-least-once foreachBatch): rewrites its
    // own partitions only — no duplicates, epoch 1 untouched
    StreamingFeatures.writeEpoch(b1, 0L, outDir)
    val after = spark.read.parquet(outDir)
    assert(after.count() == 3)
    assert(after.filter(col("p_epoch") === 1L).count() == 1)
  }

  test("maintainLatest folds each epoch into the serving table; replay converges") {
    val outDir = tmpDir("latest_view")
    val b1 = Seq((1L, ts("2024-01-01 10:00:00"), 101L, 1.0),
      (2L, ts("2024-01-01 11:00:00"), 102L, 2.0))
      .toDF("user_id", "ts", "rec_id", "value")
    val b2 = Seq((1L, ts("2024-01-01 12:00:00"), 103L, 9.0),
      (3L, ts("2024-01-01 09:00:00"), 104L, 3.0))
      .toDF("user_id", "ts", "rec_id", "value")
    def latest(): Map[Long, (Long, Double)] =
      StreamingFeatures.readLatestTable(spark, outDir)
        .getOrElse(fail("no complete epoch version"))
        .select("user_id", "rec_id", "value")
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    StreamingFeatures.maintainLatestEpoch(b1, outDir, "user_id",
      tieBreak = Seq("rec_id"))
    assert(latest() == Map(1L -> ((101L, 1.0)), 2L -> ((102L, 2.0))))
    StreamingFeatures.maintainLatestEpoch(b2, outDir, "user_id",
      tieBreak = Seq("rec_id"))
    // user 1 advanced, user 3 appeared, user 2 untouched
    val afterB2 = latest()
    assert(afterB2 == Map(
      1L -> ((103L, 9.0)), 2L -> ((102L, 2.0)), 3L -> ((104L, 3.0))))
    // at-least-once replay of epoch 2 converges (max_by unions dups away)
    StreamingFeatures.maintainLatestEpoch(b2, outDir, "user_id",
      tieBreak = Seq("rec_id"))
    assert(latest() == afterB2, "replay must not change the table")
  }

  test("flatMapGroupsWithState running features update across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingFeatures.runningUserFeatures(
      mem.toDF(), lateness = "0 seconds", idle = "10 hours")
    val q = out.writeStream.format("memory").queryName("run_out")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 10.0),
        Ev(1L, ts("2024-01-01 10:10:00"), 30.0))
      q.processAllAvailable()
      mem.addData(Ev(1L, ts("2024-01-01 10:20:00"), 20.0)) // second batch
      q.processAllAvailable()
      val rows = spark.table("run_out")
        .select("user_id", "n_events", "value_sum", "value_max")
        .as[(Long, Long, Double, Double)].collect().toSet
      // state carried across batches: first emit (2, 40, 30), then (3, 60, 30)
      assert(rows.contains((1L, 2L, 40.0, 30.0)), s"first batch emit missing: $rows")
      assert(rows.contains((1L, 3L, 60.0, 30.0)), s"carried state missing: $rows")
    } finally q.stop()
  }

  test("running-feature state expires after the idle timeout (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingFeatures.runningUserFeatures(
      mem.toDF(), lateness = "0 seconds", idle = "1 hour")
    val q = out.writeStream.format("memory").queryName("expire_out")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(Ev(1L, ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      // another user pushes the watermark far past user 1's idle window
      mem.addData(Ev(2L, ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      // user 1 returns: state must have been dropped, count restarts
      mem.addData(Ev(1L, ts("2024-01-01 13:30:00"), 7.0))
      q.processAllAvailable()
      val user1 = spark.table("expire_out")
        .filter(col("user_id") === 1L)
        .select("n_events", "value_sum")
        .as[(Long, Double)].collect().toSet
      assert(user1 == Set((1L, 5.0), (1L, 7.0)), s"state not expired: $user1")
    } finally q.stop()
  }

  test("stream-stream enrichment join matches within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val evs = MemoryStream[Ev]
    val ens = MemoryStream[En]
    val out = StreamingFeatures.enrichedStream(
      evs.toDF(), ens.toDF(), lateness = "0 seconds", bound = "1 hour")
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      ens.addData(
        En(1L, ts("2024-01-01 09:30:00"), "fresh"),  // 40 min before → joins
        En(1L, ts("2024-01-01 07:00:00"), "stale"),  // 3h10m before → outside bound
        En(2L, ts("2024-01-01 10:00:00"), "other"))  // other user
      evs.addData(Ev(1L, ts("2024-01-01 10:10:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select("user_id", "label").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "fresh")), s"got: $rows")
    } finally q.stop()
  }

  /** The claim "one storage format, two ingestion modes": a streaming
    * micro-batch written via toRecordLog must be directly servable by
    * the batch path (Serving.latestAsOf over the same layout) — VERDICT
    * r2 task #9 / r1 task #10. */
  test("streaming → record log → latestAsOf serving round-trip") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val outDir = tmpDir("stream_serve")
    val q = StreamingFeatures.toRecordLog(
      StreamingFeatures.windowedUserFeatures(
        mem.toDF(), windowLen = "1 hour", lateness = "0 seconds"),
      outDir, tmpDir("ckpt2")).start()
    try {
      mem.addData(
        Ev(1L, ts("2024-01-01 10:05:00"), 10.0),
        Ev(1L, ts("2024-01-01 10:45:00"), 20.0))
      q.processAllAvailable()
      // closes the 10:00 window (emitted with ts = window end 11:00)
      mem.addData(Ev(1L, ts("2024-01-01 12:30:00"), 1.0))
      q.processAllAvailable()
      val served = fs.Serving.latestAsOf(
          spark.read.parquet(outDir), "user_id",
          asOf = Some(to_timestamp(lit("2024-01-01 11:30:00"))))
        .select("user_id", "n_events", "value_sum")
        .as[(Long, Long, Double)].collect().toSeq
      assert(served == Seq((1L, 2L, 30.0)))
    } finally q.stop()
  }

  test("foreachBatch near-dup gate drops corpus near-copies, keeps novel docs") {
    implicit val sqlCtx = spark.sqlContext
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    val corpus = Seq((100L, corpusText)).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val kept = scala.collection.mutable.Set[Long]()
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingFeatures.nearDupGateBatch(b, corpus, "text", "doc_id",
            threshold = 0.5)
          .select("doc_id").collect().foreach(r => kept += r.getLong(0))
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Doc(1L, ts("2024-01-01 10:00:00"), corpusText + " rho"), // near-copy
        Doc(2L, ts("2024-01-01 10:01:00"),
          "completely different words about streams windows and joins " +
            "with nothing shared at all in any shingle"))
      q.processAllAvailable()
      assert(kept.toSet == Set(2L), s"got $kept")
    } finally q.stop()
  }

  test("foreachBatch span gate drops span-duplicates and keeps its own index current (r11)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = s"/tmp/graft_spanidx_stream_${java.util.UUID.randomUUID()}"
    Dedup.buildSpanIndex(
      Seq((100L, s"$shared iota kappa lambda mu")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir)
    val novel = "completely different words about streams windows " +
      "joins and state with nothing shared"
    val mem = MemoryStream[Doc]
    val kept = scala.collection.mutable.Set[Long]()
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingFeatures.spanGateBatch(b, "text", "doc_id", dir, id,
            k = 4, maxDupRatio = 0.3)
          .select("doc_id").collect().foreach(r => kept += r.getLong(0))
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: doc 1 shares most spans with the CORPUS → dropped;
      // doc 2 is novel → kept AND appended to the index
      mem.addData(
        Doc(1L, ts("2024-01-01 10:00:00"), s"$shared nu xi"),
        Doc(2L, ts("2024-01-01 10:01:00"), novel))
      q.processAllAvailable()
      assert(kept.toSet == Set(2L), s"batch 1: got $kept")
      // batch 2: a span-copy of batch 1's NOVEL doc — only caught if
      // the gate appended doc 2's spans (the index-maintaining loop)
      mem.addData(Doc(3L, ts("2024-01-01 10:02:00"), novel + " extra tail"))
      q.processAllAvailable()
      assert(kept.toSet == Set(2L), s"batch 2 must drop the copy: $kept")
    } finally q.stop()
  }

  test("span gate replay: a redelivered micro-batch keeps its survivors " +
      "and never double-counts (r12, ADVICE r11)") {
    import graft.operators.Dedup
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = s"/tmp/graft_spanidx_replay_${java.util.UUID.randomUUID()}"
    Dedup.buildSpanIndex(
      Seq((100L, s"$shared iota kappa lambda mu")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir)
    val novel = "completely different words about streams windows " +
      "joins and state with nothing shared"
    val batch = Seq(
      (1L, s"$shared nu xi"),    // corpus near-copy → dropped
      (2L, novel),               // novel → kept + indexed
      (3L, s"$novel and a tail") // SAME-batch copy of 2 → dropped
                                 // (keep-first ownership, r12 fix)
    ).toDF("doc_id", "text")
    def gate() = StreamingFeatures
      .spanGateBatch(batch, "text", "doc_id", dir, batchId = 7L,
        k = 4, maxDupRatio = 0.3)
      .select("doc_id").as[Long].collect().toSet
    val first = gate()
    assert(first == Set(2L), s"first delivery: $first")
    // the r11 hole: the replayed batch probed an index already holding
    // its own spans, self-matched doc 2 at dup_ratio 1.0, and silently
    // dropped it. The batch_id exclusion must keep the survivors.
    val replay = gate()
    assert(replay == Set(2L), s"replay dropped the batch's survivors: $replay")
    // and the overwrite-per-batch_id append must not double-count:
    // doc 2's spans appear once, so a later batch copy still gates on
    // n_docs = 1 (not 2) for those spans
    val counts = spark.read.parquet(s"$dir/spans")
      .groupBy("h").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 1L), "a span hash carries duplicated deltas")
  }

  test("minhash gate serves the persisted band index, keeps it " +
      "current, and survives replay (r12)") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val novel = "completely different content about compaction locks " +
      "and staged swaps in index maintenance"
    val dir = s"/tmp/graft_mhidx_stream_${java.util.UUID.randomUUID()}"
    Dedup.buildMinhashIndex(Seq((100L, base)).toDF("doc_id", "text"),
      "text", "doc_id", dir, shingleN = 3, bands = 4, rows = 4)
    // `corpus` = the ingested table (text lookup for the verify
    // stage); static here because it already covers every doc any
    // batch can index — production constructs it fresh per batch
    // (see the minhashGateBatch scaladoc)
    val novel2 = "entirely fresh sentence describing quantizer retrain " +
      "swap protocols in careful detail"
    val allDocs = Seq((100L, base), (1L, base + "!"), (2L, novel),
      (3L, novel + "!"), (4L, novel2), (5L, novel2 + " indeed"))
      .toDF("doc_id", "text")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .minhashGateBatch(allDocs.filter($"doc_id".isin(ids: _*)), allDocs,
        "text", "doc_id", dir, batchId, threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    // batch 1: doc 1 near-copies the CORPUS doc → dropped; doc 2 is
    // novel → kept AND its bands appended
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // replay of batch 1 (at-least-once): its own banded rows must not
    // self-match the survivor away
    assert(gate(Seq(1L, 2L), 0L) == Set(2L), "replay dropped survivors")
    // batch 2: a near-copy of batch 1's NOVEL doc — caught only if the
    // gate appended doc 2's bands (the index-maintaining loop)
    assert(gate(Seq(3L), 1L).isEmpty, "batch-1 survivor's copy leaked")
    // batch 3: two near-copies arriving TOGETHER — the index probe
    // alone can't see them (their bands aren't indexed yet); the
    // within-batch self-join keeps the lowest id (r12 review fix)
    assert(gate(Seq(4L, 5L), 2L) == Set(4L),
      "same-batch duplicate pair must keep only the first doc")
  }

  test("semantic gate serves the persisted IVF index, keeps it " +
      "current, and survives replay (r12)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_ivf_stream_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9)).toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = 2, trainIters = 2)
    // 1 near-copies the corpus; 2 is novel; 3 near-copies 2
    val allVecs = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8),
      mk(3, 0.61, 0.79)).toDF("vec_id", "embedding")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .semanticGateBatch(allVecs.filter($"vec_id".isin(ids: _*)),
        "vec_id", "embedding", dir, batchId, threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    // batch 1: doc 1 near-copies the CORPUS → dropped; doc 2 is novel
    // → kept AND appended under the frozen quantizer
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // replay of batch 1 (at-least-once): its own appended partition
    // must not change the gate's decisions
    assert(gate(Seq(1L, 2L), 0L) == Set(2L), "replay changed the gate")
    // batch 2: a near-copy of batch 1's NOVEL doc — caught only if the
    // gate appended doc 2's vector (the index-maintaining loop)
    assert(gate(Seq(3L), 1L).isEmpty, "batch-1 survivor's copy leaked")
  }

  test("semantic gate maintenance cadence: a drifting streamed index " +
      "staged-retrains at the boundary under its pinned contract; gate " +
      "decisions and probes stay correct across the swap (r14, VERDICT " +
      "r13 #7)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_ivf_cadence_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9)).toDF("vec_id", "embedding")
    // the maintenance thresholds are PINNED at build (r14 meta):
    // max_cell=4, min_occupancy=2 — the cadence hook takes none
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = 2, trainIters = 2, maxCell = 4,
      sizing = graft.operators.Sizing.Balanced(2))
    def flood(base: Long, offsetDeg: Double) = (0 until 6).map { i =>
      val a = (offsetDeg + i * 15.0).toRadians
      mk(base + i, math.cos(a), math.sin(a))
    }.toDF("vec_id", "embedding")
    def gate(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingFeatures.semanticGateBatch(df, "vec_id", "embedding",
          dir, id, threshold = 0.9999, maintainEvery = 2L)
        .select("vec_id").as[Long].collect().toSet
    // batch 0 floods the 2 FROZEN cells past the pinned cap=4 — but
    // (0+1) % 2 != 0: NOT a cadence boundary, no retrain yet
    assert(gate(flood(200, 5.0), 0L).size == 6)
    assert(spark.read.parquet(s"$dir/centroids").count() == 2,
      "maintain fired off-boundary")
    // batch 1 IS the boundary: the monitor reads the pinned cap, sees
    // the drift, and staged-retrains from the index's own vectors
    assert(gate(flood(300, 10.0), 1L).size == 6)
    assert(spark.read.parquet(s"$dir/centroids").count() > 2,
      "cadence boundary did not retrain the drifted index")
    assert(!new java.io.File(s"${dir}__staged").exists,
      "stage must be gone after the swap")
    // probes stay correct across the swap: everything ingested serves
    val nCellsAfter = spark.read.parquet(s"$dir/centroids").count().toInt
    val served = Similarity.ivfTopKFromIndex(
        Seq(mk(999, 0.7, 0.7)).toDF("vec_id", "embedding"), dir,
        "vec_id", "embedding", k = 50, nProbe = nCellsAfter)
      .select("neighbor_id").as[Long].collect().toSet
    assert(served == (Set(100L, 101L, 110L, 111L) ++
        (0 until 6).map(200L + _) ++ (0 until 6).map(300L + _)),
      s"rebuilt index lost vectors: $served")
    // gate decisions survive the swap: an exact clone of a streamed
    // survivor is caught by the REBUILT index, a novel vector passes
    val b2 = Seq(mk(400, math.cos(10.0.toRadians), math.sin(10.0.toRadians)),
      mk(401, math.cos(12.0.toRadians), math.sin(12.0.toRadians)))
      .toDF("vec_id", "embedding")
    assert(gate(b2, 2L) == Set(401L),
      "post-swap gate must drop the clone and keep the novel vector")
  }

  test("semantic gate rides a HIERARCHICAL IVF index: constant-" +
      "occupancy probes gate correctly, survive replay, and keep the " +
      "index current (r15, VERDICT r14 #1)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_ivfh_stream_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9)).toDF("vec_id", "embedding")
    val hier = graft.operators.Sizing.TwoLevel(2)
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = hier.quantizer(corpus.count()), trainIters = 2,
      maxCell = 64 * 2, sizing = hier)
    assert(spark.read.parquet(s"$dir/centroids_level_1").count() > 0,
      "fixture must exercise the hier layout")
    // 1 near-copies the corpus; 2 is novel; 3 near-copies 2
    val allVecs = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8),
      mk(3, 0.61, 0.79)).toDF("vec_id", "embedding")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .semanticGateBatch(allVecs.filter($"vec_id".isin(ids: _*)),
        "vec_id", "embedding", dir, batchId, threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    // batch 1: the corpus near-copy drops, the novel vector survives
    // and appends UNDER THE FROZEN HIER QUANTIZER (family-blind path)
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // replay: its own appended partition must not change the decisions
    assert(gate(Seq(1L, 2L), 0L) == Set(2L), "replay changed the gate")
    // batch 2: a near-copy of batch 1's survivor — caught only if the
    // hier append actually landed in the cell the probe walks to
    assert(gate(Seq(3L), 1L).isEmpty, "batch-1 survivor's copy leaked")
    // the index stayed hierarchical throughout
    assert(spark.read.parquet(s"$dir/centroids_level_1").count() > 0)
  }

  test("semantic gate rides a TREE IVF index: log-depth probes gate " +
      "correctly, survive replay, and keep the index current (r16, " +
      "VERDICT r15 #1 — the production gate's asymptotic mode)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_ivft_stream_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    // 8 corpus vectors in two clusters: occ 2 → 4 cells at branch 2 →
    // a REAL persisted level (depth 2), not the flat degeneration
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(102, 0.95, 0.05), mk(103, 0.85, 0.15),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9),
      mk(112, 0.05, 0.95), mk(113, 0.15, 0.85))
      .toDF("vec_id", "embedding")
    val tree = graft.operators.Sizing.Tree(2, branch = 2)
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = tree.quantizer(corpus.count()), trainIters = 2,
      maxCell = 64 * 2, sizing = tree)
    assert(new java.io.File(s"$dir/centroids_level_1").exists,
      "fixture must exercise the tree layout")
    // 1 near-copies the corpus; 2 is novel; 3 near-copies 2
    val allVecs = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8),
      mk(3, 0.61, 0.79)).toDF("vec_id", "embedding")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .semanticGateBatch(allVecs.filter($"vec_id".isin(ids: _*)),
        "vec_id", "embedding", dir, batchId, threshold = 0.98)
      .select("vec_id").as[Long].collect().toSet
    // batch 1: the corpus near-copy drops, the novel vector survives
    // and appends UNDER THE FROZEN TREE (family-blind path walks the
    // persisted levels)
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // replay: its own appended partition must not change the decisions
    assert(gate(Seq(1L, 2L), 0L) == Set(2L), "replay changed the gate")
    // batch 2: a near-copy of batch 1's survivor — caught only if the
    // tree append actually landed in the cell the probe descends to
    assert(gate(Seq(3L), 1L).isEmpty, "batch-1 survivor's copy leaked")
    // the index stayed a tree throughout
    assert(new java.io.File(s"$dir/centroids_level_1").exists)
  }

  test("span gate compaction cadence: delta partitions fold at the " +
      "boundary, the batch's own partition is preserved, gate " +
      "decisions and replay survive the fold (r15, VERDICT r14 #7)") {
    import graft.operators.Dedup
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = s"/tmp/graft_spanidx_cadence_${java.util.UUID.randomUUID()}"
    Dedup.buildSpanIndex(
      Seq((100L, s"$shared iota kappa lambda mu")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir)
    val tA = "completely different words about streams windows joins state"
    val tB = "fresh unrelated content describing parquet row groups stats"
    def gate(rows: Seq[(Long, String)], id: Long) = StreamingFeatures
      .spanGateBatch(rows.toDF("doc_id", "text"), "text", "doc_id",
        dir, id, k = 4, maxDupRatio = 0.3, compactEvery = 2L)
      .select("doc_id").as[Long].collect().toSet
    // batch 0: (0+1) % 2 != 0 — no compact; novel doc kept + appended
    assert(gate(Seq((1L, tA)), 0L) == Set(1L))
    assert(spark.read.parquet(s"$dir/spans").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 0L))
    // batch 1 IS the boundary: prior deltas fold into the base; the
    // batch's own append stays in its own partition
    assert(gate(Seq((2L, tB)), 1L) == Set(2L))
    assert(spark.read.parquet(s"$dir/spans").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the prior deltas")
    // fold-correctness: a copy of the FOLDED batch-0 doc still gates
    assert(gate(Seq((3L, s"$tA and a tail"), (4L,
      "wholly novel passage on quantizer retrain swap protocols")), 2L)
      == Set(4L), "folded deltas lost the batch-0 spans")
    // replay of a boundary batch: the cadence re-fires, the batch's
    // prior-attempt partition is EXCLUDED from the fold (preserved
    // verbatim) — survivors unchanged, nothing double-counted
    assert(gate(Seq((2L, tB)), 1L) == Set(2L),
      "boundary replay dropped its survivors")
    val counts = spark.read.parquet(s"$dir/spans")
      .groupBy("h").agg(sum("n_docs").as("n")).select("n")
      .as[Long].collect()
    assert(counts.forall(_ <= 2L), // shared spans: corpus+copy pairs
      "a span hash carries duplicated deltas after the boundary replay")
  }

  test("minhash gate compaction cadence: band partitions fold at the " +
      "boundary; decisions and replay survive (r15, VERDICT r14 #7)") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val novel = "completely different content about compaction locks " +
      "and staged swaps in index maintenance"
    val novel2 = "entirely fresh sentence describing quantizer retrain " +
      "swap protocols in careful detail"
    val dir = s"/tmp/graft_mhidx_cadence_${java.util.UUID.randomUUID()}"
    Dedup.buildMinhashIndex(Seq((100L, base)).toDF("doc_id", "text"),
      "text", "doc_id", dir, shingleN = 3, bands = 4, rows = 4)
    val allDocs = Seq((100L, base), (1L, base + "!"), (2L, novel),
      (3L, novel + "!"), (4L, novel2)).toDF("doc_id", "text")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .minhashGateBatch(allDocs.filter($"doc_id".isin(ids: _*)),
        allDocs, "text", "doc_id", dir, batchId, threshold = 0.4,
        compactEvery = 2L)
      .select("doc_id").as[Long].collect().toSet
    // batch 0 (off-boundary): corpus near-copy drops, novel kept
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // batch 1 (boundary): folds batch 0's bands into the base
    assert(gate(Seq(4L), 1L) == Set(4L))
    assert(spark.read.parquet(s"$dir/bands").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the prior band partitions")
    // fold-correctness: a near-copy of the FOLDED batch-0 survivor
    // still gates against the base
    assert(gate(Seq(3L), 2L).isEmpty, "folded bands lost the survivor")
    // boundary replay: prior-attempt partition preserved, not folded —
    // the survivor must not self-match away
    assert(gate(Seq(4L), 1L) == Set(4L),
      "boundary replay dropped its survivor")
    val dupBands = spark.read.parquet(s"$dir/bands")
      .groupBy("id", "band").count().filter(col("count") > 1).count()
    assert(dupBands == 0,
      "a band row is duplicated after the boundary replay")
  }

  test("keyword index compaction cadence: postings fold at the " +
      "boundary; scores equal the never-compacted twin and survive " +
      "boundary replay (r15, VERDICT r14 #7)") {
    import graft.operators.Retrieval
    val dir = s"/tmp/graft_kwidx_cadence_${java.util.UUID.randomUUID()}"
    val twin = s"/tmp/graft_kwidx_cadence_t_${java.util.UUID.randomUUID()}"
    val seed = Seq((100L, "seed document about parquet files"))
      .toDF("doc_id", "text")
    Retrieval.buildKeywordIndex(seed, "doc_id", "text", dir)
    Retrieval.buildKeywordIndex(seed, "doc_id", "text", twin)
    val b0 = Seq((1L, "zebra quantum harmonics in vector spaces"))
      .toDF("doc_id", "text")
    val b1 = Seq((2L, "another zebra sighting in embedding space"))
      .toDF("doc_id", "text")
    StreamingFeatures.keywordIndexBatch(b0, "text", "doc_id", dir, 0L,
      compactEvery = 2L)
    // boundary batch: fold 0's deltas, append 1's in its own partition
    StreamingFeatures.keywordIndexBatch(b1, "text", "doc_id", dir, 1L,
      compactEvery = 2L)
    assert(spark.read.parquet(s"$dir/postings").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the postings deltas")
    // the never-compacted twin must score identically
    StreamingFeatures.keywordIndexBatch(b0, "text", "doc_id", twin, 0L)
    StreamingFeatures.keywordIndexBatch(b1, "text", "doc_id", twin, 1L)
    def scores(d: String) = Retrieval
      .bm25SearchFromIndex(spark, d, "doc_id", Seq("zebra"), 5)
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    val s1 = scores(dir)
    assert(s1 == scores(twin), "fold changed the served scores")
    assert(s1.map(_._1) == Set(1L, 2L), s"probe lost docs: $s1")
    // boundary replay: the batch's preserved partition is replaced,
    // never double-counted into the folded base
    StreamingFeatures.keywordIndexBatch(b1, "text", "doc_id", dir, 1L,
      compactEvery = 2L)
    assert(scores(dir) == s1, "boundary replay changed the scores")
  }

  test("PQ index compaction cadence: code partitions fold at the " +
      "boundary; probes unchanged, boundary replay idempotent (r15, " +
      "VERDICT r14 #7)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50)
    val dir = s"/tmp/graft_pq_cadence_${java.util.UUID.randomUUID()}"
    Similarity.buildPqIndex(build, "vec_id", "embedding", dir,
      m = 16, trainIters = 2, trainFraction = 0.25)
    val clone0 = build.filter($"vec_id" === 60)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val clone1 = build.filter($"vec_id" === 61)
      .select(lit(9998L).as("vec_id"), $"embedding")
    StreamingFeatures.pqIndexBatch(clone0, "vec_id", "embedding", dir,
      0L, compactEvery = 2L)
    def probe() = Similarity.pqTopKFromIndex(
        build.filter($"vec_id" === 60), dir, "vec_id", "embedding",
        k = 10)
      .select("neighbor_id", "sim").as[(Long, Double)].collect().toSet
    val before = probe()
    assert(before.map(_._1).contains(9999L), "streamed codes missing")
    // boundary: batch 0's codes fold into the base, batch 1's land
    // in their own partition — probe scores must not move
    StreamingFeatures.pqIndexBatch(clone1, "vec_id", "embedding", dir,
      1L, compactEvery = 2L)
    assert(spark.read.parquet(s"$dir/codes").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the code partitions")
    val after = probe()
    // the fold must not CHANGE any existing code's score (the new
    // 9998 entry may legitimately displace the old rank-10 item)
    assert(after.filter(_._1 != 9998L).subsetOf(before),
      s"the fold changed existing codes' scores:\n$before\n$after")
    // boundary replay: preserved partition replaced, not double-counted
    StreamingFeatures.pqIndexBatch(clone1, "vec_id", "embedding", dir,
      1L, compactEvery = 2L)
    assert(probe() == after, "boundary replay changed the probe")
    // layout-aware (r18 wide codes: one row per vector; legacy long:
    // one per (vector, subspace))
    val codesTbl = spark.read.parquet(s"$dir/codes")
    val dupCodes = (if (codesTbl.columns.contains("codes"))
        codesTbl.groupBy("neighbor_id").count()
      else codesTbl.groupBy("neighbor_id", "j").count())
      .filter(col("count") > 1).count()
    assert(dupCodes == 0, "duplicated code rows after boundary replay")
  }

  test("semantic gate compaction cadence: assigned partitions fold at " +
      "the boundary; gate decisions and boundary replay survive " +
      "(r15, VERDICT r14 #7 extended)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_ivf_cadence2_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9)).toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = 2, trainIters = 2)
    val allVecs = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8),
      mk(3, 0.61, 0.79), mk(4, -0.7, 0.7)).toDF("vec_id", "embedding")
    def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
      .semanticGateBatch(allVecs.filter($"vec_id".isin(ids: _*)),
        "vec_id", "embedding", dir, batchId, threshold = 0.98,
        compactEvery = 2L)
      .select("vec_id").as[Long].collect().toSet
    // batch 0 (off-boundary): corpus near-copy drops, novel kept
    assert(gate(Seq(1L, 2L), 0L) == Set(2L))
    // batch 1 (boundary): batch 0's partition folds into the base
    assert(gate(Seq(4L), 1L) == Set(4L))
    assert(spark.read.parquet(s"$dir/assigned").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the assigned partitions")
    // fold-correctness: a near-copy of the FOLDED survivor still gates
    assert(gate(Seq(3L), 2L).isEmpty, "folded partition lost the survivor")
    // boundary replay: the preserved prior-attempt partition stays
    // excluded from probe and fold — the survivor must not self-match
    assert(gate(Seq(4L), 1L) == Set(4L),
      "boundary replay dropped its survivor")
    val dupVecs = spark.read.parquet(s"$dir/assigned")
      .groupBy("neighbor_id").count().filter(col("count") > 1).count()
    assert(dupVecs == 0, "duplicated vectors after the boundary replay")
  }

  test("knn-graph gate compaction cadence: assigned+graph partitions " +
      "fold at the boundary; the served graph and boundary replay " +
      "survive (r15, VERDICT r14 #7 extended)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50 && $"vec_id" < 200)
    val dir = s"/tmp/graft_knn_cadence_${java.util.UUID.randomUUID()}"
    val n = build.count()
    val occ = Similarity.balancedOccupancy(n, minOccupancy = 32)
    Similarity.buildKnnGraphIndex(build, "vec_id", "embedding", dir,
      k = 5, nCells = Similarity.cellsForOccupancy(n, occ),
      trainIters = 2, trainFraction = 0.25,
      maxCell = (64L * occ).toInt)
    val clone0 = build.filter($"vec_id" === 60)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val clone1 = build.filter($"vec_id" === 61)
      .select(lit(9998L).as("vec_id"), $"embedding")
    def served() = Similarity.knnGraphFromIndex(spark, dir)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    StreamingFeatures.knnGraphIndexBatch(clone0, "vec_id", "embedding",
      dir, 0L, compactEvery = 2L)
    // boundary: batch 0's partitions fold; batch 1's stay their own
    StreamingFeatures.knnGraphIndexBatch(clone1, "vec_id", "embedding",
      dir, 1L, compactEvery = 2L)
    assert(spark.read.parquet(s"$dir/assigned").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the assigned partitions")
    assert(spark.read.parquet(s"$dir/graph").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "boundary compact did not fold the graph deltas")
    val s1 = served()
    assert(s1.contains((60L, 9999L, 1)) && s1.contains((61L, 9998L, 1)),
      "folded graph lost streamed members")
    // boundary replay: the append (reading the index minus its own
    // partition) sees the folded base exactly as the first attempt
    // saw the unfolded deltas — same vector set, same heaps
    StreamingFeatures.knnGraphIndexBatch(clone1, "vec_id", "embedding",
      dir, 1L, compactEvery = 2L)
    assert(served() == s1, "boundary replay changed the served graph")
  }

  test("knn-graph gate maintain+compact at ONE boundary: a drift-" +
      "triggered rebuild leaves nothing to fold, a crash after the " +
      "fold replays with no duplicated members (r16, VERDICT r15 #7)") {
    import graft.operators.Similarity
    val dir = s"/tmp/graft_knn_mc_${java.util.UUID.randomUUID()}"
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    Similarity.buildKnnGraphIndex(
      Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
        mk(11, 0.1, 0.9)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, k = 2, nCells = 2, trainIters = 2,
      maxCell = 8)
    // batch 0: a 12-vector arc floods the cells past the pinned cap
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("vec_id", "embedding")
    StreamingFeatures.knnGraphIndexBatch(flood, "vec_id", "embedding",
      dir, 0L)
    def served() = Similarity.knnGraphFromIndex(spark, dir)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    def dupMembers() = spark.read.parquet(s"$dir/assigned")
      .groupBy("neighbor_id").count().filter($"count" > 1).count()
    // batch 1 IS both cadences' boundary: maintain sees the drifted
    // occupancy and REBUILDS (excluding batch 1 — not yet appended;
    // batch 0 folds into the retrained base), the SAME-boundary
    // compact then finds no append partitions left to fold — the
    // documented rebuild-then-compact composition, here driven on the
    // graph family whose append additionally orders graph-delta
    // before assigned — and the batch appends against the RETRAINED
    // quantizer
    val b1 = Seq(mk(200, 0.7, 0.7)).toDF("vec_id", "embedding")
    def boundary() = StreamingFeatures.knnGraphIndexBatch(b1, "vec_id",
      "embedding", dir, 1L, maintainEvery = 2L, compactEvery = 2L)
    boundary()
    assert(spark.read.parquet(s"$dir/assigned").select("batch_id")
      .distinct().as[Long].collect().toSet == Set(-1L, 1L),
      "rebuild did not fold the drift batch into the base, or lost " +
        "the boundary batch's own partition")
    val s1 = served()
    assert(s1.exists(_._1 == 200L), "boundary batch not served")
    assert(dupMembers() == 0, "duplicated members after the boundary")
    // crash AFTER the fold, BEFORE the append: the replay re-runs the
    // whole boundary — monitor and compact EXCLUDE the batch's
    // prior-attempt partition (healthy after the rescaled retrain, so
    // no second rebuild), the append overwrites it
    Similarity.maintainKnnGraphIndex(spark, dir,
      excludeBatchId = Some(1L))
    Similarity.compactKnnGraphIndex(spark, dir,
      excludeBatchId = Some(1L))
    boundary()
    assert(served() == s1, "post-crash boundary replay changed the " +
      "served graph")
    assert(dupMembers() == 0, "boundary replay duplicated members")
    // full-boundary replay (crash after a complete attempt)
    boundary()
    assert(served() == s1, "boundary replay changed the served graph")
    assert(dupMembers() == 0, "boundary replay duplicated members")
  }

  test("foreachBatch PQ-index maintenance: probes find streamed codes; " +
      "replay is idempotent (r12)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50)
    val dir = s"/tmp/graft_pq_stream_${java.util.UUID.randomUUID()}"
    Similarity.buildPqIndex(build, "vec_id", "embedding", dir,
      m = 16, trainIters = 2, trainFraction = 0.25)
    // micro-batch carries a clone of a build vector under a new id:
    // identical codes under the frozen codebooks, so the original's
    // probe must surface it — deterministic probe-visibility proof
    val clone = build.filter($"vec_id" === 60)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val kept = StreamingFeatures.pqIndexBatch(clone, "vec_id",
      "embedding", dir, batchId = 0L)
    assert(kept.count() == 1, "gateless maintenance must keep the batch")
    def probe() = Similarity.pqTopKFromIndex(
        build.filter($"vec_id" === 60), dir, "vec_id", "embedding",
        k = 10)
      .select("neighbor_id", "sim").as[(Long, Double)].collect().toSet
    val first = probe()
    assert(first.map(_._1).contains(9999L),
      s"streamed codes missing from probe: $first")
    // at-least-once replay: the overwrite-per-batchId append must not
    // duplicate the clone's codes or change any score
    StreamingFeatures.pqIndexBatch(clone, "vec_id", "embedding", dir,
      batchId = 0L)
    assert(probe() == first, "replayed micro-batch changed the probe")
  }

  test("foreachBatch k-NN-graph-index maintenance: the served graph " +
      "absorbs streamed nodes; replay is idempotent (r13)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50 && $"vec_id" < 200)
    val dir = s"/tmp/graft_knn_stream_${java.util.UUID.randomUUID()}"
    val n = build.count()
    val occ = Similarity.balancedOccupancy(n, minOccupancy = 32)
    Similarity.buildKnnGraphIndex(build, "vec_id", "embedding", dir,
      k = 5, nCells = Similarity.cellsForOccupancy(n, occ),
      trainIters = 2, trainFraction = 0.25,
      maxCell = (64L * occ).toInt)
    // micro-batch carries a clone of a build vector under a new id:
    // same cell under the frozen quantizer, sim 1.0 — the original's
    // served top-1 must become the clone (and vice versa)
    val clone = build.filter($"vec_id" === 60)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val kept = StreamingFeatures.knnGraphIndexBatch(clone, "vec_id",
      "embedding", dir, batchId = 0L)
    assert(kept.count() == 1, "gateless maintenance must keep the batch")
    def served() = Similarity.knnGraphFromIndex(spark, dir)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val first = served()
    assert(first.contains((60L, 9999L, 1)), "clone must top the original")
    assert(first.contains((9999L, 60L, 1)), "original must top the clone")
    // at-least-once replay: the overwrite-per-batchId append (reading
    // the index minus its own partition) must not change the graph
    StreamingFeatures.knnGraphIndexBatch(clone, "vec_id", "embedding",
      dir, batchId = 0L)
    assert(served() == first, "replayed micro-batch changed the graph")
  }

  test("foreachBatch keyword-index maintenance: batch-2 probes find " +
      "batch-1 docs; replay is idempotent (r12, VERDICT r11 #6)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Retrieval
    val dir = s"/tmp/graft_kwidx_stream_${java.util.UUID.randomUUID()}"
    // the index exists before the stream starts (the serving shape:
    // build at bootstrap, maintain per micro-batch)
    Retrieval.buildKeywordIndex(
      Seq((100L, "seed document about parquet files")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val mem = MemoryStream[Doc]
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingFeatures.keywordIndexBatch(b, "text", "doc_id", dir, id)
          .collect() // stand-in for the caller's sink write
        ()
      }
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Doc(1L, ts("2024-01-01 10:00:00"),
        "zebra quantum harmonics in vector spaces"))
      q.processAllAvailable()
      // the served index answers for batch-1 docs immediately
      val afterB1 = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
        Seq("zebra"), 5).select("doc_id").as[Long].collect().toSet
      assert(afterB1 == Set(1L), s"batch-1 doc not served: $afterB1")
      mem.addData(Doc(2L, ts("2024-01-01 10:01:00"),
        "another zebra sighting in embedding space"))
      q.processAllAvailable()
      val afterB2 = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
        Seq("zebra"), 5).select("doc_id").as[Long].collect().toSet
      assert(afterB2 == Set(1L, 2L), s"batch-2 probe: $afterB2")
    } finally q.stop()
    // replay: re-appending under an already-used batchId must replace,
    // not double-count — scores stay identical
    val before = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
      Seq("zebra"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSet
    Retrieval.appendToKeywordIndex(
      Seq((2L, "another zebra sighting in embedding space"))
        .toDF("doc_id", "text"), "doc_id", "text", dir, batchId = 1L)
    val after = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
      Seq("zebra"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSet
    assert(after == before, s"replayed append changed scores:\n$before\n$after")
  }

  test("semantic gate under the RECOMMENDED session conf (r17, VERDICT " +
      "r16 missing #1): GraftConf.applyTo flips the hash-agg regime " +
      "observably and the gate's decisions and persisted index are " +
      "IDENTICAL to the default-conf run") {
    import graft.operators.Similarity
    val thresholdKey =
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(100, 1.0, 0.0), mk(101, 0.9, 0.1),
      mk(110, 0.0, 1.0), mk(111, 0.1, 0.9)).toDF("vec_id", "embedding")
    val allVecs = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8),
      mk(3, 0.61, 0.79)).toDF("vec_id", "embedding")
    // one full gate lifecycle (batch 0: dup-of-corpus + novel;
    // batch 1: dup-of-survivor) against a fresh index dir
    def lifecycle(dir: String): (Seq[Set[Long]], Set[(Long, Long)]) = {
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
        nCells = 2, trainIters = 2)
      def gate(ids: Seq[Long], batchId: Long) = StreamingFeatures
        .semanticGateBatch(allVecs.filter($"vec_id".isin(ids: _*)),
          "vec_id", "embedding", dir, batchId, threshold = 0.98,
          maintainEvery = 2L, compactEvery = 2L)
        .select("vec_id").as[Long].collect().toSet
      val kept = Seq(gate(Seq(1L, 2L), 0L), gate(Seq(3L), 1L))
      val assigned = spark.read.parquet(s"$dir/assigned")
        .select("neighbor_id", "cell")
        .as[(Long, Long)].collect().toSet
      (kept, assigned)
    }
    val base = s"/tmp/graft_gate_conf_${java.util.UUID.randomUUID()}"
    val prev = spark.conf.get(thresholdKey)
    // default conf: Spark's 128-key sort-fallback regime
    spark.conf.unset(thresholdKey)
    val defaultRun =
      try lifecycle(s"$base/default")
      finally spark.conf.set(thresholdKey, prev)
    // recommended conf: ONE call, threshold derived from this JVM's
    // heap and the session's slots — observably different regime dial
    val defaultVal = "128"
    try {
      GraftConf.applyTo(spark)
      val applied = spark.conf.get(thresholdKey)
      assert(applied != defaultVal && applied.toLong >= 128L,
        s"applyTo left the default regime: $applied")
      val recommendedRun = lifecycle(s"$base/recommended")
      assert(recommendedRun._1 == defaultRun._1,
        "gate decisions differ between default and recommended conf")
      assert(recommendedRun._2 == defaultRun._2,
        "persisted index differs between default and recommended conf")
      assert(defaultRun._1 == Seq(Set(2L), Set.empty[Long]),
        s"gate semantics moved: ${defaultRun._1}")
    } finally spark.conf.set(thresholdKey, prev)
  }
}
