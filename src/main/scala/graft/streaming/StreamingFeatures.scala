package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.Row

import graft.fs.{ParquetDir, VersionPointer}

/** Running per-user feature row emitted by
  * [[StreamingFeatures.runningUserFeatures]]. */
final case class RunningFeature(
    user_id: Long, n_events: Long, value_sum: Double, value_max: Double)

/** State carried between micro-batches per user (mergeable running
  * aggregates only — fixed-size regardless of event count). */
final case class RunningState(n: Long, sum: Double, max: Double)

/** Structured-Streaming ingest for `frequency = streaming` feature
  * groups (the reference declares the flag but never exercises it —
  * feature_store.py:33-34; this is the §7.2 phase-5 extension).
  *
  * Shape: file-source readStream → watermark → windowed/stateful
  * transforms → `foreachBatch` append into the same [[graft.fs.RecordLog]]
  * layout batch serving reads — one storage format, two ingestion modes.
  */
object StreamingFeatures {

  /** Streaming source over an events directory with the given schema.
    * `maxFilesPerTrigger=32` keeps micro-batches bounded at scale. */
  def readEvents(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 32)
      .parquet(path)

  /** Tumbling-window per-user aggregate features with late-data
    * handling: watermark bounds state, window closes emit append-mode
    * rows. These are the rolling features a streaming group serves. */
  def windowedUserFeatures(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value",
      windowLen: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col(userCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"),
        avg(col(valueCol)).as("value_mean"))
      .select(
        col(userCol),
        col("window.end").as("ts"),
        col("n_events"), col("value_sum"), col("value_mean"))

  /** Gap-based session features on a live stream — the streaming twin
    * of [[graft.operators.Sessionize]]: `session_window` merges events
    * whose gaps are below `gap` into one growing window per user, the
    * watermark closes sessions and bounds state. Emits one row per
    * closed session. */
  def sessionWindowFeatures(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value",
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("value_sum"))
      .select(
        col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_sum"))

  /** Exactly-once-ish dedup within the watermark horizon before feature
    * computation (dropDuplicates keyed by event id, state bounded by
    * the watermark). */
  def dedupedStream(events: DataFrame, idCol: String, tsCol: String = "ts",
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicates(idCol, tsCol)

  /** Custom keyed state via `flatMapGroupsWithState`: a running
    * (count, sum, max) per user, re-emitted whenever the user sees new
    * events — the always-current serving row windowed aggregates can't
    * express (they only emit on window close). State is fixed-size per
    * key (three numbers, not an event buffer) and expires on an
    * event-time timeout `idle` past the watermark, so total state is
    * O(active users), never O(events) — the property that keeps this
    * runnable against an unbounded stream. */
  def runningUserFeatures(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value",
      lateness: String = "10 minutes",
      idle: String = "1 hour"): Dataset[RunningFeature] = {
    import events.sparkSession.implicits._
    val idleMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(idle))
    val idleMillis =
      idleMs.days.toLong * 86400000L + idleMs.microseconds / 1000L
    events
      // project/cast BEFORE the watermark: casting a watermarked column
      // mints a fresh attribute and silently drops the watermark tag
      .select(col(userCol).cast("long"), col(tsCol).cast("timestamp"),
        col(valueCol).cast("double"))
      .withWatermark(tsCol, lateness)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunningState, RunningFeature](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[RunningState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(
              RunningState(0L, 0.0, Double.NegativeInfinity))
            var n = prev.n; var s = prev.sum; var m = prev.max
            var lastMs = 0L
            rows.foreach { r =>
              n += 1; s += r._3; m = math.max(m, r._3)
              lastMs = math.max(lastMs, r._2.getTime)
            }
            state.update(RunningState(n, s, m))
            // anchor the timeout to observed event time, not the
            // watermark: in the first batch the watermark is still 0
            // (it only advances at batch end), so a watermark-relative
            // timeout would land in 1970 and expire the state at once
            state.setTimeoutTimestamp(
              math.max(lastMs, state.getCurrentWatermarkMs()) + idleMillis)
            Iterator.single(RunningFeature(user, n, s, m))
          }
      }
  }

  /** Stream-stream enrichment join: each event picks up enrichment
    * rows (labels, profile updates) for the same key whose timestamp
    * falls within `bound` BEFORE the event. Watermarks on both sides
    * plus the time-range predicate are what let Spark drop buffered
    * rows once they can no longer match — without them a stream-stream
    * join buffers forever. Enrichment columns arrive prefixed `e_`. */
  def enrichedStream(
      events: DataFrame,
      enrich: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      enrichTsCol: String = "e_ts",
      lateness: String = "10 minutes",
      bound: String = "1 hour"): DataFrame = {
    val l = events.withWatermark(tsCol, lateness)
    val r = enrich.withWatermark(enrichTsCol, lateness)
      .withColumnRenamed(keyCol, s"e_$keyCol")
    l.join(r,
      expr(s"""$keyCol = e_$keyCol AND
               $enrichTsCol BETWEEN $tsCol - INTERVAL $bound AND $tsCol"""),
      "inner")
      .drop(s"e_$keyCol")
  }

  /** Sink: each micro-batch lands in the record-log parquet layout
    * (partitioned by snapshot date, readable by the batch serving
    * path), with REPLAY-IDEMPOTENT writes: foreachBatch gives
    * at-least-once delivery — a crash between the parquet commit and
    * the checkpoint commit re-runs the same epoch, and a plain append
    * would double those rows in the log (silent training-data
    * duplication). Partitioning by (p_date, p_epoch) under DYNAMIC
    * partition overwrite makes the replay rewrite exactly its own
    * epoch partitions and nothing else — effectively exactly-once in
    * the table for any number of replays, with no read-side dedup.
    *
    * LAYOUT OWNERSHIP: the extra p_epoch level means a stream-owned
    * log directory — pointing this sink and batch
    * [[graft.fs.RecordLog.write]] (p_date only) at the SAME directory
    * would mix partition depths and break discovery. Batch readers
    * ([[graft.fs.Serving]], plain `spark.read.parquet`) read either
    * layout fine; writers must not share a directory across modes. */
  def toRecordLog(features: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    features.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        writeEpoch(batch, epochId, outDir)
      }

  /** Continuously-maintained latest-per-entity serving table — the
    * streaming materialized view: each micro-batch folds into the
    * stored table via [[graft.fs.Serving.refreshLatest]], so the
    * serving read is always one small scan of |entities| rows, never
    * the stream's history. Per-epoch cost is |latest| + |batch|.
    *
    * Replay-safe WITHOUT epoch bookkeeping: refreshLatest is
    * idempotent over re-delivered rows (max_by of a set unions
    * duplicates away), so an at-least-once foreachBatch replay
    * converges to the same table. The overwrite never reads its own
    * output — the folded frame is localCheckpoint-ed first, same as
    * [[graft.fs.RecordLog.compact]]. */
  /** At-ingest streaming dedup on the content fingerprint: each
    * distinct document passes once; re-deliveries and content
    * duplicates arriving within the watermark horizon are dropped —
    * the dedup gate a streaming corpus feed needs in FRONT of the
    * record log, where the batch `Dedup.incrementalNew` handles the
    * shard-vs-corpus case.
    *
    * State discipline: `dropDuplicatesWithinWatermark` keeps one state
    * row per distinct fingerprint seen inside the horizon and EVICTS
    * it when the watermark passes — a plain `dropDuplicates` on an
    * unbounded stream grows state with every distinct doc forever,
    * which is the streaming scale-killer. Content duplicates farther
    * apart than `lateness` are by-design out of scope here (that is
    * the batch dedup's job over the log). The fingerprint (32-byte
    * md5, null for null text) is computed BEFORE the watermark tag so
    * the projection can't drop it. */
  def dedupStream(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      lateness: String = "10 minutes",
      idCol: String = "doc_id"): DataFrame =
    docs
      // null text has no content to be a duplicate OF — fall back to an
      // id-derived key so distinct null-text records all pass (null fp
      // would make dropDuplicates treat them as ONE key and silently
      // drop all but the first; review r7). Re-deliveries of the same
      // id still dedup. concat_ws, not concat: a null id must not null
      // the fallback itself (that would re-open the same hole one level
      // down) — a null-id null-text record keys on its event time, so
      // only exact re-deliveries collapse. idCol sits AFTER lateness so
      // existing positional callers keep their meaning.
      .withColumn("fp", coalesce(
        graft.functions.TextFns.fingerprint(col(textCol)),
        concat_ws(":", lit("null-text"), col(idCol).cast("string"),
          col(tsCol).cast("string"))))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming ingest NEAR-dup gate — the `foreachBatch` body that
    * puts [[graft.operators.Dedup.minhashNearDupsAgainst]] on the
    * ingest path: each micro-batch bands against the (static or
    * incrementally-maintained) corpus, and batch rows whose verified
    * Jaccard clears `threshold` are dropped before the sink. Exact
    * streaming dedup ([[dedupStream]]) catches byte-identical
    * re-deliveries in-stream; this gate catches the near-copies a
    * crawler re-fetches with new boilerplate — the two compose:
    * dedupStream upstream, this gate in `foreachBatch`.
    *
    * Scale contract is the batch-vs-corpus MinHash one: a daily shard
    * pays O(batch + corpus) through the single (band, bucket)
    * exchange, and production holds the corpus side as precomputed
    * sketches. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, _) =>
    *   StreamingFeatures.nearDupGateBatch(b, corpus, "text", "doc_id")
    *     .write.mode("append").parquet(out)
    * }
    * }}}
    */
  def nearDupGateBatch(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.7): DataFrame = {
    val dups = graft.operators.Dedup
      .minhashNearDupsAgainst(batch, corpus, textCol, idCol,
        threshold = threshold)
      .select(col("id_a").as("__dup_id"))
      .distinct()
    batch.join(dups, col(idCol) === col("__dup_id"), "left_anti")
  }

  /** Whether micro-batch `batchId` closes an `every`-batch cadence
    * (0 = off): the boundary on which a gate's maintain and compact
    * hooks run. */
  private def onCadence(batchId: Long, every: Long): Boolean =
    every > 0L && batchId >= 0L && (batchId + 1L) % every == 0L

  /** The one body of every persisted-index `foreachBatch` gate below.
    *
    *  1. MAINTENANCE: each `(every, hook)` runs when the batch closes
    *     its cadence ([[onCadence]]), in order — maintain (occupancy
    *     monitor, locked staged retrain when drifted) before compact
    *     (fold the per-batch delta partitions into the base before
    *     the probe's scan becomes a metadata storm), so a
    *     same-boundary rebuild leaves nothing to fold.
    *  2. PROBE: `dups` (ids as `__dup_id`, None for a gate without a
    *     probe) is built after the hooks, and the batch rows it names
    *     drop by a left-anti join.
    *  3. APPEND: the survivors are pinned once — the caller's sink
    *     write and the index append must see the SAME rows (diamond
    *     DAGs recompute) — then appended under the batch's own
    *     `batch_id`.
    * `updateIndex = false` skips steps 1 and 3: the gate only filters.
    *
    * REPLAY: foreachBatch is at-least-once — if the sink write fails
    * after the index append committed, the micro-batch replays
    * against an index that already holds its own rows, every
    * previously-kept doc self-matches, and the batch's novel docs are
    * silently dropped. So every step is keyed by the stable
    * `batchId`: each hook and probe EXCLUDES the batch's own
    * `batch_id` partition (a replay sees exactly the index the first
    * attempt saw; a fold or retrain never moves the prior attempt's
    * rows into the `batch_id=-1` base, where that exclusion could no
    * longer hide them), and the append OVERWRITES that partition (no
    * double-count). Replay is therefore idempotent end to end — same
    * gate decisions, same survivors, same deltas. Probe results are
    * invariant under each family's fold, so compaction never changes
    * a gate decision. */
  private def gateBatch(batch: DataFrame, idCol: String, batchId: Long,
      updateIndex: Boolean, hooks: Seq[(Long, () => Any)],
      dups: => Option[DataFrame])(append: DataFrame => Unit): DataFrame = {
    if (updateIndex)
      hooks.foreach { case (every, hook) => if (onCadence(batchId, every)) hook() }
    val kept = dups.fold(batch)(d =>
      batch.join(d, col(idCol) === col("__dup_id"), "left_anti"))
    if (!updateIndex) kept
    else {
      val pinned = kept.localCheckpoint(false)
      append(pinned)
      pinned
    }
  }

  /** Streaming ingest SPAN-dup gate (r11) — the `foreachBatch` body
    * that puts the persisted span-hash index
    * ([[graft.operators.Dedup.spanDupStatsAgainst]]) on the ingest
    * path: batch docs whose duplicated-span ratio against the index
    * reaches `maxDupRatio` are dropped before the sink, and (by
    * default) the SURVIVORS' span deltas are appended to the index so
    * the next micro-batch dedups against them too — the full
    * index-maintaining ingest loop, closing the family triangle:
    * [[dedupStream]] = exact in-stream, [[nearDupGateBatch]] =
    * whole-doc near-dup, this = substring-level (Lee et al.).
    *
    * Scale contract: the batch pays its own explode+md5; the corpus
    * rides the probe as stored hashes+counts. Every `compactEvery`
    * batches the span deltas fold into the base (0 = off). Replay and
    * cadence: see [[gateBatch]]. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, id) =>
    *   StreamingFeatures.spanGateBatch(b, "text", "doc_id", dir, id)
    *     .write.mode("append").parquet(out)
    * }
    * }}} */
  def spanGateBatch(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      batchId: Long,
      k: Int = 8,
      maxDupRatio: Double = 0.5,
      updateIndex: Boolean = true,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Dedup
    gateBatch(batch, idCol, batchId, updateIndex,
      Seq(compactEvery -> (() => Dedup.compactSpanIndex(batch.sparkSession,
        indexDir, excludeBatchId = Some(batchId)))),
      Some(Dedup
        .spanDupStatsAgainst(batch, textCol, idCol, k, indexDir,
          excludeBatchId = Some(batchId),
          // within-batch copies must not ride in together: a span owned
          // by a LOWER-id batch doc counts as duplicated for the later
          // doc (keep-first; the index probe alone cannot see
          // same-batch duplicates)
          includeBatchSelf = true)
        .filter(col("dup_ratio") >= maxDupRatio)
        .select(col(idCol).as("__dup_id"))))(
      Dedup.appendToSpanIndex(_, textCol, idCol, k, indexDir, batchId))
  }

  /** Streaming ingest near-dup gate against the PERSISTED band index
    * (r12) — [[nearDupGateBatch]] with the corpus-side sketch served
    * from [[graft.operators.Dedup.buildMinhashIndex]] storage instead
    * of recomputed per micro-batch (which re-paid the corpus
    * explode+hash — the dominant cost — every batch), PLUS the
    * index-maintaining loop: survivors' band rows append under the
    * batch's own partition so the NEXT micro-batch near-dups against
    * them too. This gives the MinHash family the same closed ingest
    * triangle the span family has (probe → gate → append), with the
    * same replay and cadence contract ([[gateBatch]]).
    *
    * WITHIN-BATCH duplicates (r12 review fix): the index probe alone
    * cannot see two near-copies arriving in the SAME micro-batch (the
    * batch's own bands are not in the index and its batch_id is
    * excluded) — so the gate also runs the batch SELF-join under the
    * index's pinned params and keeps the LOWEST id of each verified
    * pair (greedy keep-first, the [[semanticGateBatch]] policy; the
    * self-join is micro-batch-sized, not corpus-sized).
    *
    * `corpus` supplies only the TEXT for the exact-Jaccard verify
    * (candidate-restricted by the left-semi in the shared verify
    * stage) and MUST cover every doc the index knows: the BOOTSTRAP
    * corpus the index was built from UNIONED with the sink output,
    * constructed INSIDE the foreachBatch body — a frame captured once
    * before the stream starts snapshots its file listing, and a
    * sink-only corpus misses the bootstrap docs (ADVICE r12; the
    * verify now raises loudly on a candidate with no text instead of
    * silently verifying the duplicate away). On the FIRST micro-batch
    * the sink path may not exist yet — read it defensively. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, id) =>
    *   val s = b.sparkSession
    *   val sunk = // fresh listing per batch; absent before batch 0
    *     try s.read.parquet(out)
    *     catch { case _: org.apache.spark.sql.AnalysisException =>
    *       bootstrapCorpus.limit(0) }
    *   StreamingFeatures.minhashGateBatch(b,
    *       bootstrapCorpus.select("doc_id", "text")
    *         .unionByName(sunk.select("doc_id", "text")),
    *       "text", "doc_id", dir, id)
    *     .write.mode("append").parquet(out)
    * }
    * }}} */
  def minhashGateBatch(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      batchId: Long,
      threshold: Double = 0.7,
      updateIndex: Boolean = true,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Dedup
    def dups: DataFrame = {
      val idxDups = Dedup
        .minhashNearDupsAgainstIndex(batch, corpus, textCol, idCol,
          indexDir, threshold = threshold, excludeBatchId = Some(batchId))
        .select(col("id_a").as("__dup_id"))
      // within-batch near-dups under the SAME pinned hash family:
      // (id_a < id_b) pairs → drop the later id (keep-first)
      val (shingleN, bands, rows) =
        Dedup.minhashIndexMeta(batch.sparkSession, indexDir)
      val selfDups = Dedup
        .minhashNearDups(batch, textCol, idCol, shingleN, bands, rows,
          threshold = threshold)
        .select(col("id_b").as("__dup_id"))
      idxDups.unionByName(selfDups).distinct()
    }
    gateBatch(batch, idCol, batchId, updateIndex,
      Seq(compactEvery -> (() => Dedup.compactMinhashIndex(
        batch.sparkSession, indexDir, excludeBatchId = Some(batchId)))),
      Some(dups))(
      Dedup.appendToMinhashIndex(_, textCol, idCol, indexDir, batchId))
  }

  /** Streaming SEMANTIC ingest gate (r12) — the `foreachBatch` body
    * that puts the persisted IVF index on the embedding-ingest path,
    * completing the dedup ingest quadrangle: [[dedupStream]] = exact,
    * [[minhashGateBatch]] = whole-doc lexical, [[spanGateBatch]] =
    * substring, this = SEMANTIC (SemDeDup at ingest). Batch vectors
    * whose cosine against the index — or against an EARLIER
    * (lower-id) batch member, the keep-one policy — reaches
    * `threshold` are dropped before the sink, and the SURVIVORS
    * append to the index under the frozen quantizer
    * ([[graft.operators.Similarity.appendToIvfIndex]]) so the next
    * micro-batch dedups against them too.
    *
    * Scale contract rides [[Similarity.semDedupAgainstIndex]]: the
    * index scan is partition-pruned to the batch's touched cells, the
    * batch side broadcasts, the corpus never re-clusters. Quantizer
    * drift (batches far from the training distribution) is the IVF
    * append's documented trade: pass `maintainEvery = N` and every N
    * micro-batches the gate runs
    * [[graft.operators.Similarity.maintainIvfIndex]] against the
    * index's pinned contract — a bounded monitor job when healthy, a
    * locked staged retrain when drifted. `compactEvery` folds the
    * assigned partitions (0 = off, both). Replay and cadence: see
    * [[gateBatch]].
    *
    * BACKING INDEX at scale (r18, VERDICT r17 #9 — posture only,
    * semantics identical through the family-blind dispatch): build
    * the gate's index with
    * [[graft.operators.Similarity.buildIvfIndex]] over a
    * [[graft.operators.Sizing.Tree]] quantizer — the measured
    * scale mode (constant occupancy AND O(branch·log N) assignment;
    * BASELINE.md tree-vs-hier rows: ~1.7× cheaper index cpu, ~2.5×
    * cheaper gate cpu than the two-level build at sf100). The flat
    * and two-level builds remain fully supported (and declared/
    * oracled) — they are the small-corpus and continuity modes.
    * Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, id) =>
    *   StreamingFeatures.semanticGateBatch(b, "vec_id", "embedding",
    *       dir, id)
    *     .write.mode("append").parquet(out)
    * }
    * }}} */
  def semanticGateBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      batchId: Long,
      threshold: Double = 0.85,
      maxCell: Int = 2000,
      updateIndex: Boolean = true,
      maintainEvery: Long = 0L,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    gateBatch(batch, idCol, batchId, updateIndex,
      Seq(
        maintainEvery -> (() => Similarity.maintainIvfIndex(spark, indexDir,
          excludeBatchId = Some(batchId))),
        compactEvery -> (() => Similarity.compactIvfIndex(spark, indexDir,
          excludeBatchId = Some(batchId)))),
      Some(Similarity
        .semDedupAgainstIndex(batch, indexDir, idCol, vecCol, threshold,
          maxCell = maxCell, excludeBatchId = Some(batchId))
        .select(col("id_b").as("__dup_id"))
        .distinct()))(
      Similarity.appendToIvfIndex(_, idCol, vecCol, indexDir, batchId))
  }

  /** Streaming keyword-index maintenance (r12, VERDICT r11 #6) — the
    * `foreachBatch` body that keeps a served
    * [[graft.operators.Retrieval.buildKeywordIndex]] BM25/tf-idf index
    * current per micro-batch: the batch's postings/doclens/totals
    * deltas append under the batch's own `batch_id` partition, and
    * the SAME pinned rows return for the caller's sink write. Probes
    * ([[graft.operators.Retrieval.bm25SearchFromIndex]]) see the new
    * docs from the next read on — df and totals fold from the deltas,
    * so ranking stays consistent with a full rebuild over everything
    * ingested (the q_bm25_index oracle's invariant). No probe runs
    * before the write; replay and the `compactEvery` cadence follow
    * [[gateBatch]]. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, id) =>
    *   StreamingFeatures.keywordIndexBatch(b, "text", "doc_id", dir, id)
    *     .write.mode("append").parquet(out)
    * }
    * }}} */
  def keywordIndexBatch(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      batchId: Long,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Retrieval
    gateBatch(batch, idCol, batchId, updateIndex = true,
      Seq(compactEvery -> (() => Retrieval.compactKeywordIndex(
        batch.sparkSession, indexDir, idCol, excludeBatchId = Some(batchId)))),
      None)(
      Retrieval.appendToKeywordIndex(_, idCol, textCol, indexDir, batchId))
  }

  /** Streaming PQ-index maintenance (r12) — the `foreachBatch` body
    * that keeps a served [[graft.operators.Similarity.buildPqIndex]]
    * ANN index current per micro-batch: the batch encodes under the
    * FROZEN persisted codebooks and its m-byte codes land under the
    * batch's own `batch_id` partition (the
    * [[graft.operators.Similarity.appendToPqIndex]] contract — never
    * a corpus re-encode), while the SAME pinned rows return for the
    * caller's sink write. With [[semanticGateBatch]] (IVF),
    * [[keywordIndexBatch]], [[spanGateBatch]] and
    * [[minhashGateBatch]], every persisted index family has its
    * streaming-maintenance member. No probe runs before the write;
    * replay and the `compactEvery` cadence follow [[gateBatch]]. */
  def pqIndexBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      batchId: Long,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Similarity
    gateBatch(batch, idCol, batchId, updateIndex = true,
      Seq(compactEvery -> (() => Similarity.compactPqIndex(
        batch.sparkSession, indexDir, excludeBatchId = Some(batchId)))),
      None)(
      Similarity.appendToPqIndex(_, idCol, vecCol, indexDir, batchId))
  }

  /** Streaming k-NN-graph-index maintenance (r13) — the `foreachBatch`
    * body that keeps a served
    * [[graft.operators.Similarity.buildKnnGraphIndex]] graph current
    * per micro-batch: the batch assigns under the FROZEN persisted
    * quantizer, folds its heap delta against ONLY its touched cells'
    * partitions (the [[graft.operators.Similarity.appendToKnnGraphIndex]]
    * contract — never a corpus retrain or re-assignment, VERDICT r12
    * #1), and the SAME pinned rows return for the caller's sink
    * write. Serves ([[graft.operators.Similarity.knnGraphFromIndex]])
    * see the new nodes — and existing nodes' updated heaps — from the
    * next read on. `maintainEvery` monitors occupancy against the
    * index's pinned (k, maxCell) and retrains when drifted;
    * `compactEvery` folds assigned + graph deltas (0 = off, both).
    * Replay and cadence: see [[gateBatch]]. */
  def knnGraphIndexBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexDir: String,
      batchId: Long,
      maintainEvery: Long = 0L,
      compactEvery: Long = 0L): DataFrame = {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    gateBatch(batch, idCol, batchId, updateIndex = true,
      Seq(
        maintainEvery -> (() => Similarity.maintainKnnGraphIndex(spark,
          indexDir, excludeBatchId = Some(batchId))),
        compactEvery -> (() => Similarity.compactKnnGraphIndex(spark,
          indexDir, excludeBatchId = Some(batchId)))),
      None)(
      Similarity.appendToKnnGraphIndex(_, idCol, vecCol, indexDir, batchId))
  }

  def maintainLatest(features: DataFrame, outDir: String,
      checkpoint: String, entityKey: String,
      tsCol: String = "ts", tieBreak: Seq[String] = Seq.empty)
      : DataStreamWriter[Row] =
    features.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        maintainLatestEpoch(batch, outDir, entityKey, tsCol, tieBreak)
      }

  /** The per-epoch fold of [[maintainLatest]], exposed for direct
    * testing (same pattern as [[writeEpoch]]).
    *
    * CRASH SAFETY: a plain overwrite deletes the old table before the
    * new write commits — a crash in that window would silently reset
    * the serving table to just the replayed batch. So versions are
    * immutable: each epoch writes a fresh `v_<n>` subdirectory and
    * then flips the `_CURRENT` pointer ([[graft.fs.VersionPointer]],
    * the catalog's protocol); readers resolve the pointer via
    * [[readLatestTable]]. A crash mid-epoch leaves the pointer on
    * the previous complete version. The predecessor version is kept
    * for in-flight readers; older ones are pruned. */
  def maintainLatestEpoch(batch: DataFrame, outDir: String,
      entityKey: String, tsCol: String = "ts",
      tieBreak: Seq[String] = Seq.empty): Unit = {
    val spark = batch.sparkSession
    val base = new org.apache.hadoop.fs.Path(outDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = VersionPointer.current(spark, outDir)
    val prev = cur.map(v => ParquetDir.read(spark, s"$outDir/v_$v"))
    val folded = prev match {
      case Some(p) => graft.fs.Serving.refreshLatest(
        p, batch, entityKey, tsCol, tieBreak.map(col))
      case None => graft.fs.Serving.latestAsOf(
        batch, entityKey, tsCol, None, tieBreak.map(col))
    }
    val next = cur.getOrElse(-1) + 1
    folded.localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$outDir/v_$next")
    // one overwriting rename: a delete-then-rename pair would leave a
    // window with no _CURRENT at all, after which the next epoch would
    // silently reset the table to just its own batch (ADVICE r6)
    VersionPointer.publish(spark, outDir, next)
    // prune all but the current + predecessor versions, plus any stale
    // pointer temp files a crashed epoch left behind
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v_") && n.stripPrefix("v_").toLongOption.exists(_ < next - 1))
        fs.delete(st.getPath, true)
      else if (n.startsWith("_CURRENT.tmp") &&
          n.stripPrefix("_CURRENT.tmp").toLongOption.exists(_ < next))
        fs.delete(st.getPath, false)
    }
  }

  /** Read the serving table [[maintainLatest]] maintains (resolves the
    * `_CURRENT` pointer). Empty option = no complete epoch yet. */
  def readLatestTable(spark: SparkSession, outDir: String): Option[DataFrame] =
    VersionPointer.current(spark, outDir).map(v => ParquetDir.read(spark, s"$outDir/v_$v"))

  /** The idempotent per-epoch write, exposed for direct testing (a
    * foreachBatch body re-running with the same epochId must leave the
    * table unchanged).
    *
    * PRECONDITION — deterministic replay: dynamic partition overwrite
    * rewrites only the (p_date, p_epoch) partitions present in THIS
    * batch. Idempotence therefore requires the replayed epoch to emit
    * the same p_date set as the first attempt — true for replayable
    * sources (files, Kafka) with deterministic transforms, which is
    * the contract Structured Streaming's epoch replay assumes anyway.
    * A nondeterministic transform that shifts rows across dates could
    * leave a first-attempt (p_date, p_epoch) partition orphaned as
    * duplicates (ADVICE r5). */
  def writeEpoch(batch: DataFrame, epochId: Long, outDir: String): Unit =
    batch
      .withColumn("p_date", to_date(col("ts")))
      .withColumn("p_epoch", lit(epochId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date", "p_epoch")
      .parquet(outDir)
}
