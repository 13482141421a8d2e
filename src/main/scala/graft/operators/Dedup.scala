package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fs.ParquetDir
import graft.functions.TextFns
import graft.plans.{MinHashBands, SimHash64}

/** Deduplication operators for a pretraining-data pipeline: exact,
  * fingerprint, MinHash+LSH, SimHash, n-gram Jaccard. All are
  * shuffle-once designs — a groupBy on a deterministic key, or an
  * equi-join on LSH buckets — with no pairwise quadratic stage outside
  * a bucket, and every bucketed self-join guarded against degenerate
  * buckets ([[Guards.capBuckets]]), which is what keeps them viable at
  * 100 TB.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical text. One hash
    * aggregation on the text (Spark hashes the key for the exchange —
    * long texts ride the shuffle once; use [[byFingerprint]] to shuffle
    * a 32-byte key instead at scale). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, two-phase scale shape: phase 1 groups on the 32-byte
    * md5 of the RAW text — map-side partial aggregation collapses local
    * duplicates, so the exchange carries one digest-keyed row per
    * distinct text per partition instead of hashing multi-MB documents
    * into the shuffle hash table. Phase 2 certifies exactness without a
    * pairwise compare: within a digest bucket, min(text) == max(text)
    * iff every text in the bucket is identical (equal lexicographic
    * extremes bound everything between). Buckets that fail the
    * certificate — an md5 collision, ~2⁻⁶⁴ but we refuse to be
    * probabilistic — are re-grouped by full text; that residual is
    * collision-sized, i.e. empty in practice. Answer-equivalent to
    * [[exact]] plus the text column. */
  def exactVerified(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.select(col(textCol), col(idCol))
      .withColumn("__d", md5(col(textCol).cast("binary")))
    val agg = keyed.groupBy(col("__d"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col(textCol)).as("__lo"), max(col(textCol)).as("__hi"))
    val clean = agg.filter(col("__lo") <=> col("__hi"))
      .select(col("__lo").as(textCol), col("keep_id"), col("n_copies"))
    val dirty = keyed
      .join(agg.filter(!(col("__lo") <=> col("__hi"))).select("__d"),
        Seq("__d"), "left_semi")
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
    clean.unionByName(dirty)
  }

  /** Near-exact dedup on the md5 fingerprint of whitespace-normalized,
    * lowercased text — the key is 32 bytes regardless of doc size, so
    * the exchange stays small. */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("fp", TextFns.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental-ingest dedup: keep only the NEW-batch docs whose
    * fingerprint appears neither in the existing corpus nor earlier in
    * the batch — the shape every daily/shard ingest runs (dedup against
    * the index, not the world). The existing side contributes only its
    * DISTINCT 32-byte fingerprints to the anti-join, so yesterday's
    * petabytes ride the shuffle as fingerprints, never as documents;
    * at steady state that distinct set is a materialized fingerprint
    * index this operator reads instead of recomputing. */
  def incrementalNew(
      existing: DataFrame, batch: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null fingerprints (null text) are NOT comparable: they never
    // match the existing side and never collapse with each other —
    // without the explicit carve-outs a null in `existing` would veto
    // nothing in Spark but everything in a NOT-IN oracle, and null
    // batch rows would silently collapse to one "duplicate"
    val exFp = existing.select(TextFns.fingerprint(col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
      .distinct()
    batch.withColumn("fp", TextFns.fingerprint(col(textCol)))
      .join(exFp, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .filter(col("fp").isNull || col("rn") === 1)
      .drop("rn")
  }

  /** Word n-gram shingles of the text (the unit of Jaccard/MinHash). */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFns.tokens(lower(text))
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** `transform([[shingles]], md5)` as ONE fused native loop
    * ([[graft.plans.HashedShingles]], r18 — the guide §1.2-step-2
    * per-task-work cut): every md5-keyed shingle consumer (span index
    * deltas, dup stats, source overlap, novelty) paid three
    * interpreted expressions per window position plus an
    * `array_distinct` of gram strings it only ever hashed. Same
    * digests, first-occurrence order, gram text never materialized. */
  def hashedShingles(text: Column, n: Int): Column =
    graft.plans.HashedShingles.column(
      TextFns.tokens(lower(text)), n, distinct = true)

  /** MinHash + LSH banding near-dup candidates, verified by exact
    * Jaccard. `bands` × `rows` hash functions; docs sharing any band
    * bucket are candidates; candidates are then verified with exact
    * shingle Jaccard ≥ `threshold`.
    *
    * Plan shape: map-side [[graft.plans.MinHashBands]] (one fused pass:
    * each shingle hashed once, k derived mins, band buckets) →
    * posexplode(bands) → shuffle on (band, bucket) — the only exchange
    * proportional to corpus size — → within-bucket self-join, with
    * buckets above `maxBucket` dropped first (a bucket of b rows costs
    * b² candidates; degenerate buckets — e.g. all empty docs — would
    * otherwise go quadratic on one task) → verification join against
    * the shingle sets of candidate docs only.
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.7, maxBucket: Int = 10000): DataFrame = {
    // Banded rows carry only (id, band, bucket) — the shingle arrays
    // stay out of the ×bands-duplicated exchange and are joined back
    // exactly once for the verify stage.
    val banded = Guards.capBuckets(
      df.select(col(idCol).as("id"),
        posexplode(MinHashBands.column(
          shingles(col(textCol), shingleN), bands, rows)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("minhash_bucket_guard"))
      // one materialization for both self-join sides (see winnowNearDups)
      .localCheckpoint(false)
    val l = banded.as("l"); val r = banded.as("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    ngramJaccard(candidates, df, textCol, idCol, shingleN)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Ingest-time near-dup gate: MinHash/LSH candidates of a NEW batch
    * against the EXISTING corpus — the incremental twin of
    * [[minhashNearDups]] (which is the full-corpus self-join shape).
    * Only the batch's and corpus's band rows meet in the bucket join;
    * the corpus is never self-joined, so a daily shard pays
    * O(|batch| + |corpus|) through the one (band, bucket) exchange —
    * on a 100 TB corpus the corpus-side sketches would be computed
    * once at ingest and served from storage, exactly like
    * [[incrementalNew]]'s fingerprints. The verify stage reads each
    * side's shingles from its OWN frame, so an id that exists on both
    * sides (a re-ingest under the same id) still compares the batch
    * text against the corpus text — no disjoint-id precondition.
    * Batch-internal duplicates are out of scope here —
    * [[incrementalNew]] / [[minhashNearDups]] over the batch cover
    * that.
    *
    * Returns (id_a = batch doc, id_b = corpus doc, jaccard ≥
    * threshold); a batch doc near-duping several corpus docs reports
    * every pair — the takedown-review shape. */
  def minhashNearDupsAgainst(
      batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.7, maxBucket: Int = 10000): DataFrame = {
    val b = Guards.capBuckets(
      bandRows(batch, textCol, idCol, shingleN, bands, rows),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("minhash_inc_batch_guard")).as("b")
    val c = Guards.capBuckets(
      bandRows(corpus, textCol, idCol, shingleN, bands, rows),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("minhash_inc_corpus_guard")).as("c")
    val candidates = b.join(c,
        col("b.band") === col("c.band") &&
          col("b.bucket") === col("c.bucket"))
      .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
      .distinct()
      // feeds two candidate-id semi-joins below; pin one evaluation
      .localCheckpoint(false)
    verifySidedPairs(candidates, batch, corpus, textCol, idCol,
      shingleN, threshold)
  }

  /** (id, band, bucket) LSH band rows of `df` — the map-side sketch
    * both the self-join and the incremental gates shuffle on. */
  private def bandRows(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, bands: Int, rows: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(MinHashBands.column(
          shingles(col(textCol), shingleN), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Side-qualified exact-Jaccard verify (NOT the shared-frame
    * ngramJaccard): each pair's jaccard reads id_a's shingles from the
    * BATCH and id_b's from the CORPUS, so overlapping ids across
    * frames verify against the right text instead of a union-frame
    * coin toss (review r9). Text is touched only for candidate ids —
    * left-semi restriction on both sides. */
  private def verifySidedPairs(candidates: DataFrame,
      batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    def shingled(df: DataFrame, side: String) = df
      .join(candidates.select(col(side).as("__cid")).distinct(),
        col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as(side), shingles(col(textCol), shingleN).as(s"sh_$side"))
    candidates
      .join(shingled(batch, "id_a"), "id_a")
      // LEFT + raise on the corpus side (ADVICE r12): an index-probed
      // candidate whose id_b finds no corpus text would otherwise be
      // silently dropped by an inner join — a LEAKED duplicate
      // (classic cause: a corpus frame captured before the stream
      // started, missing later survivors — the minhashGateBatch
      // scaladoc's coverage contract). Map-side, zero extra jobs.
      .join(shingled(corpus, "id_b"), Seq("id_b"), "left")
      .withColumn("sh_id_b",
        when(col("sh_id_b").isNotNull, col("sh_id_b"))
          .otherwise(raise_error(concat(
            lit("near-dup verify: candidate id_b has no corpus text " +
              "(corpus must cover every indexed doc — construct it " +
              "fresh per batch, unioning any bootstrap corpus): "),
            col("id_b").cast("string")))))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_id_a"), col("sh_id_b"))).cast("double") /
          size(array_union(col("sh_id_a"), col("sh_id_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Build and PERSIST the MinHash band index — the sketch half of
    * [[minhashNearDupsAgainst]] moved to ingest time, closing the
    * promise that operator's scaladoc makes ("on a 100 TB corpus the
    * corpus-side sketches would be computed once at ingest and served
    * from storage"): `indexDir/bands` holds the corpus's (id, band,
    * bucket) rows — 32-byte-ish rows regardless of document size — and
    * `indexDir/meta` pins the sketch parameters (shingleN, bands,
    * rows) so a probe can never silently band against an index built
    * under a different hash family. Probes
    * ([[minhashNearDupsAgainstIndex]]) then pay O(batch sketch +
    * band join + candidate verify); the corpus TEXT is touched only
    * for candidate ids.
    *
    * Band rows land under `bands/batch_id=<id>` per the
    * [[IndexLayout]] write contract. */
  def buildMinhashIndex(corpus: DataFrame, textCol: String, idCol: String,
      indexDir: String, shingleN: Int = 3, bands: Int = 4,
      rows: Int = 4): Unit = {
    val spark = corpus.sparkSession
    IndexLayout.clear(spark, s"$indexDir/bands")
    IndexLayout.writeMeta(spark, indexDir,
      Seq("shingle_n" -> shingleN, "bands" -> bands, "rows" -> rows))
    bandRows(corpus, textCol, idCol, shingleN, bands, rows)
      .write.mode("overwrite").parquet(s"$indexDir/bands/batch_id=-1")
  }

  /** Append a NEW batch's band rows to a persisted
    * [[buildMinhashIndex]] index under the index's OWN pinned
    * parameters — O(batch sketch), never a corpus re-shingle;
    * idempotent per `batchId`. */
  def appendToMinhashIndex(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, batchId: Long): Unit = {
    IndexLayout.beginAppend(batch.sparkSession, indexDir, Seq("bands"),
      batchId, "appendToMinhashIndex")
    val (shingleN, bands, rows) = minhashIndexMeta(batch.sparkSession, indexDir)
    bandRows(batch, textCol, idCol, shingleN, bands, rows)
      .write.mode("overwrite").parquet(s"$indexDir/bands/batch_id=$batchId")
  }

  private[graft] def minhashIndexMeta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (Int, Int, Int) = {
    val m = IndexLayout.readMeta(spark, indexDir, "minhash index")
      .getOrElse(throw new IllegalArgumentException(
        s"minhash index $indexDir: no meta table"))
    (m.required("shingle_n"), m.required("bands"), m.required("rows"))
  }

  /** Ingest-time near-dup gate against a PERSISTED band index — the
    * [[minhashNearDupsAgainst]] semantics with the corpus-side sketch
    * read from [[buildMinhashIndex]] storage instead of recomputed
    * per gate run (which re-paid the corpus explode+hash — the
    * dominant cost — on every daily shard). Sketch parameters come
    * from the index's meta, never from the caller, so batch and
    * corpus always band under the same hash family. `corpus` supplies
    * only the TEXT for the exact-Jaccard verify, restricted to
    * candidate ids by the left-semi in the shared verify stage. */
  def minhashNearDupsAgainstIndex(
      batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, indexDir: String,
      threshold: Double = 0.7, maxBucket: Int = 10000,
      excludeBatchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val (shingleN, bands, rows) = minhashIndexMeta(spark, indexDir)
    val b = Guards.capBuckets(
      bandRows(batch, textCol, idCol, shingleN, bands, rows),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("minhash_idx_batch_guard")).as("b")
    // excludeBatchId: a REPLAYED ingest batch must not band against
    // its own previous attempt's rows (the span-gate replay
    // contract); partition-pruning predicate on the batch_id layout
    val idx0 = ParquetDir.read(spark, s"$indexDir/bands")
    val c = Guards.capBuckets(
      excludeBatchId.fold(idx0)(id =>
          idx0.filter(col("batch_id") =!= lit(id)))
        .select(col("id"), col("band"), col("bucket")),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("minhash_idx_corpus_guard")).as("c")
    val candidates = b.join(c,
        col("b.band") === col("c.band") &&
          col("b.bucket") === col("c.bucket"))
      .select(col("b.id").as("id_a"), col("c.id").as("id_b"))
      .distinct()
      .localCheckpoint(false)
    verifySidedPairs(candidates, batch, corpus, textCol, idCol,
      shingleN, threshold)
  }

  /** Winnowing near-dup pairs: docs sharing ≥ `minShared` winnow
    * fingerprints ([[TextFns.winnowFingerprints]], the MOSS sketch).
    * Complementary to MinHash: Jaccard measures WHOLE-document
    * similarity, winnowing certifies LOCAL overlap — any shared run of
    * ≥ k+w-1 characters contributes a shared fingerprint, so a copied
    * paragraph inside two otherwise-different docs is found. Plan
    * shape mirrors [[minhashNearDups]]: map-side native sketch →
    * explode → the one corpus-sized exchange on `fp` → capped
    * within-bucket self-join → pair count agg. Fingerprints are
    * distinct per doc, so the pair count equals the intersection size.
    * Pick k so that k+w-1 exceeds the corpus's boilerplate run length
    * — at k=8 a template-written corpus shares fingerprints
    * everywhere; k≈24 certifies 27-char runs, which only real
    * duplication produces. */
  def winnowNearDups(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 24, w: Int = 4, minShared: Int = 5,
      maxBucket: Int = 10000): DataFrame = {
    // Lazy localCheckpoint: a self-join's two sides are otherwise two
    // independent derivations of the same frame — Spark recomputes
    // diamond DAGs, and exchange reuse does not fire across the
    // probe/broadcast split (verified empirically, r5). One
    // materialization of the sketch, read twice.
    val fps = Guards.capBuckets(
      df.select(col(idCol).as("id"),
        explode(TextFns.winnowFingerprints(col(textCol), k, w)).as("fp")),
      Seq("fp"), maxBucket, observeAs = Some("winnow_bucket_guard"))
      .localCheckpoint(false)
    val l = fps.as("l"); val r = fps.as("r")
    l.join(r, col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** SimHash near-dup pairs: 64-bit fingerprint (native expression),
    * LSH-banded into `maxHamming + 1` contiguous bit bands — by
    * pigeonhole, any pair within `maxHamming` differing bits shares at
    * least one full band, so candidate recall is exact for the declared
    * radius AMONG RETAINED BUCKETS (VERDICT/ADVICE r1: the old fixed
    * 4×16-bit banding silently missed hamming 4..8 pairs when called
    * with maxHamming=8). Candidates are verified by exact hamming
    * distance; buckets above `maxBucket` are dropped before the
    * self-join — the drop is reported via the `simhash_bucket_guard`
    * observe() metric, and pairs living only in dropped buckets are
    * NOT found (re-bucket with a wider radius/more bands to recover
    * them). */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    val bands = maxHamming + 1
    // 64 bits split into `bands` contiguous chunks, sizes differing by
    // at most one (e.g. 9 bands → 8,7,7,7,7,7,7,7,7).
    val sizes = Array.tabulate(bands)(i => 64 / bands + (if (i < 64 % bands) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val fp = df.select(col(idCol).as("id"),
      SimHash64.column(TextFns.tokens(lower(col(textCol)))).as("fp"))
    val banded = Guards.capBuckets(
      fp.select(col("id"), col("fp"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("fp"), offsets(b))
              .bitwiseAND(lit((1L << sizes(b)) - 1)).as("bucket"))
        }: _*)).as("bb"))
        .select(col("id"), col("fp"), col("bb.band"), col("bb.bucket")),
      Seq("band", "bucket"), maxBucket,
      observeAs = Some("simhash_bucket_guard"))
      // one materialization for both self-join sides (see winnowNearDups)
      .localCheckpoint(false)
    val l = banded.as("l"); val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        SimHash64.hamming(col("l.fp"), col("r.fp")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** End-to-end near-dup removal from a pair list: every id appearing
    * on the `id_b` side of a pair is dropped. Pairs are emitted with
    * `id_a < id_b`, so each duplicate cluster keeps (at least) its
    * minimum id — the same keep-lowest convention as [[exact]]. Greedy
    * (no connected-components pass): transitive near-dups that were
    * never directly paired both survive, the standard conservative
    * trade at corpus scale where an iterative CC join chain is rarely
    * worth its shuffles. One left-anti join on the id. */
  def removePairs(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** MinHash near-dup dedup, end to end: detect pairs, keep the lowest
    * id of each detected cluster. */
  def dropNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, bands: Int = 4, rows: Int = 4,
      threshold: Double = 0.7, maxBucket: Int = 10000): DataFrame =
    removePairs(df,
      minhashNearDups(df, textCol, idCol, shingleN, bands, rows,
        threshold, maxBucket),
      idCol)

  /** Benchmark decontamination: per corpus doc, the number of word
    * `n`-grams it shares with an evaluation/benchmark set — the
    * standard pretraining hygiene check (docs overlapping the test
    * set inflate eval scores and must be dropped before training).
    *
    * Plan shape: the benchmark side (eval sets are ≤10⁵ docs even
    * when the corpus is 100 TB) is shingled, deduped, and broadcast;
    * the corpus side explodes its (already-distinct per doc) shingles
    * map-side and broadcast-joins — no corpus-sized shuffle exists.
    * The one exchange groups the *hit* rows by doc id, so shuffle
    * volume is proportional to contamination, not corpus size. Each
    * (doc, gram) survives the join at most once (both sides carry
    * distinct gram sets), so a plain count is the distinct-gram hit
    * count — no count_distinct expand needed. */
  def contamination(
      corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(textCol), n)).as("gram"))
      .distinct()
    corpus
      .select(col(idCol), explode(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Decontaminated corpus: drop every doc flagged by [[contamination]]
    * (any shared n-gram disqualifies). One broadcast join + one
    * left-anti join; the corpus never shuffles. */
  def decontaminate(
      corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame =
    corpus.join(
      contamination(corpus, bench, textCol, idCol, n).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Edit-distance near-dup pairs — the record-linkage shape that
    * catches what token-set methods miss (small in-place edits:
    * typo variants, template fills, version bumps). Docs are BLOCKED
    * on a lowercase text prefix; candidates within a block compare by
    * Levenshtein distance over a bounded `cmpLen` prefix, so the cost
    * per pair is O(cmpLen²) regardless of document length.
    *
    * Scale shape: one exchange on the block key, self-join only within
    * a block, oversized blocks capped via [[Guards.capBuckets]]
    * (boilerplate prefixes would otherwise quadratically explode —
    * same guard as the winnow/minhash joins). Levenshtein is
    * unit-cost insert/delete/substitute in both Spark and DuckDB, so
    * the distances replay exactly. */
  def editNearDups(
      df: DataFrame, textCol: String, idCol: String,
      blockLen: Int = 16, cmpLen: Int = 64, maxDist: Int = 10,
      maxBucket: Int = 10000): DataFrame = {
    require(blockLen > 0 && cmpLen >= blockLen,
      s"editNearDups: need 0 < blockLen <= cmpLen, got $blockLen/$cmpLen")
    // one materialization of the blocked frame, read by both join sides
    // (same diamond-DAG rationale as winnowNearDups)
    val d = Guards.capBuckets(
      df.select(col(idCol).as("id"),
          substring(lower(col(textCol)), 1, cmpLen).as("t"))
        .withColumn("blk", substring(col("t"), 1, blockLen)),
      Seq("blk"), maxBucket, observeAs = Some("edit_block_guard"))
      .localCheckpoint(false)
    val l = d.as("l"); val r = d.as("r")
    // Per-pair cost control, answer-equivalent (sf1 calibration, r7):
    // (1) the length-difference lower bound prunes pairs that cannot
    // pass maxDist without touching the DP at all; (2) identical
    // prefixes (the common case in a near-dup-heavy corpus — every
    // true duplicate pair) short-circuit to 0 via an O(n) equality
    // check; (3) the remaining pairs run the BANDED Levenshtein
    // (threshold arg → O(maxDist·cmpLen) per pair, -1 above the band)
    // instead of the full O(cmpLen²) DP.
    l.join(r, col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .filter(abs(length(col("l.t")) - length(col("r.t"))) <= maxDist)
      .withColumn("dist", when(col("l.t") === col("r.t"), lit(0))
        .otherwise(levenshtein(col("l.t"), col("r.t"), maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist"))
  }

  /** Per-document duplicated-span report — the substring-level dedup
    * diagnostic (cf. "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022: repeated ≥k-token spans across
    * documents are memorization fuel even when no two documents are
    * near-duplicates as wholes). Every k-token window of every doc is
    * reduced to md5(space-joined tokens); a span is DUPLICATED when
    * the same hash occurs in ≥2 distinct documents. Output: one row
    * per doc that contains at least one duplicated span —
    * (id, n_spans, n_dup_spans, dup_ratio) over the doc's DISTINCT
    * spans (the [[shingles]] convention dedups within-doc repeats, so
    * a doc repeating its own sentence isn't flagged — only cross-doc
    * sharing is) and dup_ratio = n_dup/n_spans rounded to 6dp. Docs
    * shorter than k tokens carry a single whole-doc span, so short
    * exact duplicates still surface.
    *
    * Scale shape: the window explosion is the same O(tokens) row
    * count MinHash shingling already pays; doc-counting per hash runs
    * over rows that are already (hash, doc)-unique (array_distinct
    * upstream — never a count-distinct Expand); the dup-hash set
    * joins back on the hash key both sides are already partitioned
    * by. No all-pairs comparison anywhere. Hashes spread across more
    * than `maxDocs` docs are EXCLUDED from the dup stats (a span
    * shared by 10⁶ documents is boilerplate, not memorization signal
    * — the [[crossSourceOverlap]] maxSources reasoning), which also
    * bounds the per-hash straggler tail; exclusions surface through
    * the `observeAs` metric exactly like [[Guards.capBuckets]]. */
  def spanDupStats(df: DataFrame, textCol: String, idCol: String,
      k: Int, maxDocs: Int = 1000,
      observeAs: Option[String] = None): DataFrame = {
    require(maxDocs >= 2, s"spanDupStats: maxDocs=$maxDocs")
    // rows are (hash, doc)-unique by construction: shingles() dedups
    // within the doc, so a plain count per hash IS the distinct-doc
    // count. The count rides a window over the hash partition rather
    // than a groupBy + join-back: the join form re-runs the whole
    // explode+md5 subtree for the probe side (diamond DAGs recompute),
    // doubling the dominant map-side cost — the window form pays one
    // explode and one exchange.
    val spans = df.select(col(idCol).as("id"),
        explode(hashedShingles(col(textCol), k)).as("h"))
    val counted = spans
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("h"))))
    val observed = observeAs.fold(counted)(name => counted.observe(name,
      sum(when(col("n_docs") > maxDocs, lit(1L)).otherwise(lit(0L)))
        .as("dropped_rows"),
      max(col("n_docs")).as("max_span_docs")))
    val perDocDup = observed
      .filter(col("n_docs") >= 2 && col("n_docs") <= maxDocs)
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_spans"))
    val totals = df.select(col(idCol).as("id"),
      size(hashedShingles(col(textCol), k)).cast("long").as("n_spans"))
    totals.join(perDocDup, "id")
      .select(col("id").as(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"), 6).as("dup_ratio"))
  }

  /** Duplicated-span REMOVAL — the transform half of [[spanDupStats]]
    * (Lee et al. 2022 cut the repeated substring out of the corpus
    * rather than dropping whole documents). Tokens covered by any
    * k-token window whose hash occurs in ≥2 distinct documents are
    * deleted; the survivors re-join into the cleaned text. Output is
    * one row per doc: (id, n_tokens, n_removed, clean_text) — docs
    * with nothing to scrub pass through with n_removed = 0.
    *
    * Plan shape: the dup-hash set is found exactly as in
    * [[spanDupStats]]; duplicated window START positions come from one
    * positional explode joined to that set and collected per doc (the
    * collected array is bounded by the doc's own token count — the
    * same order of per-row state as the token array itself); coverage
    * and reconstruction are then a single map-side higher-order
    * expression (position p is covered iff some start s ∈ [p−k+1, p]),
    * O(tokens · dupStarts) per doc worst case. Whole-doc spans
    * (< k tokens) scrub the entire text, exactly like whole-doc
    * dedup of a short exact duplicate.
    *
    * A hash with more than `maxPositions` total occurrences is NOT
    * scrubbed (its rows drop via [[Guards.capBuckets]] BEFORE the
    * per-hash sort windows): a ubiquitous boilerplate span would put
    * all its positions in one task — linear work, but a straggler
    * tail at corpus scale — and per the Lee-et-al. rationale such a
    * span is template noise an upstream boilerplate pass should own.
    * Drops surface through the cap's `observeAs` metric. */
  def scrubSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int, maxPositions: Int = 10000,
      observeAs: Option[String] = None): DataFrame = {
    require(maxPositions >= 2, s"scrubSpans: maxPositions=$maxPositions")
    val toks = TextFns.tokens(lower(col(textCol)))
    val base = df.select(col(idCol).as("id"), toks.as("toks"))
    // per-position window hashes (NOT distinct — positions matter
    // here): the fused native loop, sub-k whole-doc case included
    // (graft.plans.HashedShingles, r18 — was three interpreted
    // expressions per position)
    val withHs = base.withColumn("hs",
      graft.plans.HashedShingles.column(col("toks"), k, distinct = false))
    val pos = Guards.capBuckets(
      withHs.select(col("id"), posexplode(col("hs")).as(Seq("p", "h"))),
      Seq("h"), maxPositions, observeAs)
    // cross-doc duplicated hashes, single-pass: positions are NOT
    // (hash, doc)-distinct here, so the distinct-doc count per hash is
    // a boundary flag (first row of each doc run under (id, p) order)
    // summed over the hash partition — one exchange on h, no
    // distinct+join-back that would re-run the explode+md5 subtree
    // (the spanDupStats rationale, plus the dedup step)
    val wOrd = Window.partitionBy(col("h")).orderBy(col("id"), col("p"))
    val wAll = Window.partitionBy(col("h"))
    val starts = pos
      .withColumn("newdoc",
        when(lag(col("id"), 1).over(wOrd).isNull ||
          lag(col("id"), 1).over(wOrd) =!= col("id"), 1).otherwise(0))
      .withColumn("n_docs", sum(col("newdoc")).over(wAll))
      .filter(col("n_docs") >= 2)
      // one exchange on the fold key FIRST (r18, VERDICT r17 #3 — the
      // trainFineLevel lesson where the shape recurs): the input is
      // h-partitioned, so a doc's surviving positions scatter across
      // tasks and the unpartitioned fold's PARTIAL object agg built a
      // ~rows/task-entry list map that combined ~nothing. The
      // repartition moves the same narrow (id, p) rows once, bounds
      // the one remaining fold at docs/parts keys, and its output
      // partitioning feeds the id-keyed join below unchanged; values
      // are partition-invariant (sort_array-normalized).
      .repartition(col("id"))
      .groupBy(col("id")).agg(sort_array(collect_list(col("p"))).as("starts"))
    val spanLen = when(size(col("toks")) < k, size(col("toks")))
      .otherwise(lit(k))
    // reconstruction needs only (id, toks) — joining `base` rather
    // than `withHs` keeps the md5-over-every-window pass single-use
    // (the diamond would otherwise recompute it corpus-wide)
    base.join(starts, Seq("id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept", filter(
        col("toks"),
        (t, p) => !exists(col("starts"),
          s => s <= p && p < s + spanLen)))
      .select(col("id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Build and PERSIST the span-hash index — the missing incremental
    * member of the span-dedup family (VERDICT r10 missing #1): every
    * other dedup family has an ingest-incremental variant
    * ([[incrementalNew]]'s fingerprints, [[minhashNearDupsAgainst]]'s
    * sketches, `Similarity.appendToIvfIndex`), but
    * [[spanDupStats]]/[[scrubSpans]] were whole-corpus only — a daily
    * shard at 100 TB cannot re-hash yesterday's petabytes of spans.
    *
    * Layout (r12): `indexDir/spans/batch_id=<id>` holds (h, n_docs)
    * DELTA rows — the distinct-doc count each build/append
    * contributed for that 32-char md5 span hash, one hive-style
    * partition per write (the build is `batch_id=-1`). Rows are
    * (h, doc)-deduped upstream by the [[shingles]] within-doc
    * distinct, so a plain count IS the distinct-doc count, exactly as
    * in [[spanDupStats]]. Probes sum the deltas per hash
    * ([[spanDupStatsAgainst]]), so append never needs
    * read-modify-write; [[compactSpanIndex]] folds the deltas.
    * Writes follow the [[IndexLayout]] write contract. */
  def buildSpanIndex(corpus: DataFrame, textCol: String, idCol: String,
      k: Int, indexDir: String): Unit = {
    IndexLayout.clear(corpus.sparkSession, s"$indexDir/spans")
    spanIndexDelta(corpus, textCol, idCol, k)
      .write.mode("overwrite").parquet(s"$indexDir/spans/batch_id=-1")
  }

  /** Append a NEW batch's span-count deltas to a persisted
    * [[buildSpanIndex]] index — O(batch spans), never a corpus
    * re-hash, idempotent per `batchId` (the write lands in — and a
    * replay overwrites — `spans/batch_id=<batchId>`). See
    * [[buildSpanIndex]] for the delta/compaction contracts. */
  def appendToSpanIndex(batch: DataFrame, textCol: String, idCol: String,
      k: Int, indexDir: String, batchId: Long): Unit = {
    IndexLayout.beginAppend(batch.sparkSession, indexDir, Seq("spans"),
      batchId, "appendToSpanIndex")
    spanIndexDelta(batch, textCol, idCol, k)
      .write.mode("overwrite").parquet(s"$indexDir/spans/batch_id=$batchId")
  }

  /** Compact a [[buildSpanIndex]] index's delta partitions to one
    * folded `batch_id=-1` base (VERDICT r11 #7): every append leaves
    * a file set forever, so a year of micro-batches turns the probe's
    * delta-sum into a scan over ~10⁵ small files; the fold sums each
    * hash's deltas to ONE row and rewrites the table as a single
    * h-ranged, h-sorted file set (tight row-group stats for the
    * probe's hash join). Probe results are unchanged by construction
    * — the probe already sums deltas per hash, and sum is associative
    * — which the spec checks bit-for-bit. Crash-safe via
    * [[IndexLayout.compactTable]]'s staged swap; single-writer,
    * beyond the replay horizon (see compactTable's contract). */
  def compactSpanIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, excludeBatchId: Option[Long] = None): Unit =
    IndexLayout.compactTable(spark, s"$indexDir/spans",
        excludeBatchId = excludeBatchId)(df =>
      df.groupBy(col("h")).agg(sum(col("n_docs")).as("n_docs"))
        .repartitionByRange(col("h")).sortWithinPartitions(col("h")))

  /** Compact a [[buildMinhashIndex]] index's band-row partitions to
    * one `batch_id=-1` base — band rows carry no counts to fold
    * (DISTINCT is value-preserving: (id, band) determines bucket), so
    * compaction is a dedup + rewrite as one (band, bucket)-ranged
    * file set, collapsing the per-append file growth. Same staged
    * swap and single-writer contract as [[compactSpanIndex]]. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, excludeBatchId: Option[Long] = None): Unit =
    IndexLayout.compactTable(spark, s"$indexDir/bands",
        excludeBatchId = excludeBatchId)(df =>
      df.select(col("id"), col("band"), col("bucket")).distinct()
        .repartitionByRange(col("band"), col("bucket"))
        .sortWithinPartitions(col("band"), col("bucket")))

  private def spanIndexDelta(df: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(hashedShingles(col(textCol), k)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))

  /** Ingest-incremental duplicated-span report: each BATCH doc's
    * distinct k-token spans probed against a persisted
    * [[buildSpanIndex]] corpus index — the daily-shard twin of
    * [[spanDupStats]] (whose self-contained shape re-hashes the whole
    * corpus every run). A batch span is DUPLICATED when it occurs in
    * ≥ 1 corpus document (batch doc + corpus doc = the cross-doc
    * sharing Lee et al. flag); batch-INTERNAL sharing is opt-in via
    * `includeBatchSelf` (r12 review fix): when set, a span also
    * counts as duplicated for a doc when a LOWER-id doc of the SAME
    * batch contains it — keep-first ownership, so of two identical
    * novel docs arriving together the first keeps dup_ratio 0 and
    * the copy scores 1.0 (the [[graft.streaming.StreamingFeatures
    * .spanGateBatch]] gate needs exactly this; the default false
    * keeps the declared q_span_incremental's index-only semantics
    * and its oracle). Output shape matches
    * [[spanDupStats]]: one row per batch doc with ≥ 1 shared span —
    * (id, n_spans, n_dup_spans, dup_ratio) over the doc's distinct
    * spans.
    *
    * Scale shape: the batch pays its own explode+md5; the corpus
    * rides the join as 32-char hashes + counts read from storage,
    * never as text. The delta rows meet the batch spans in one
    * hash-keyed equi-join (AQE broadcasts whichever side is small);
    * per-(doc, hash) delta sums run over MATCHED rows only, so no
    * index-wide pre-aggregation. The [[spanDupStats]] ubiquity cap
    * carries over: spans whose TOTAL corpus doc count exceeds
    * `maxDocs` are boilerplate, excluded from the stats, observable
    * via `observeAs` (dropped_rows / max_span_docs). */
  def spanDupStatsAgainst(batch: DataFrame, textCol: String,
      idCol: String, k: Int, indexDir: String, maxDocs: Int = 1000,
      observeAs: Option[String] = None,
      excludeBatchId: Option[Long] = None,
      includeBatchSelf: Boolean = false): DataFrame = {
    require(maxDocs >= 1, s"spanDupStatsAgainst: maxDocs=$maxDocs")
    val spark = batch.sparkSession
    // excludeBatchId: a REPLAYED ingest batch must not probe its own
    // previous attempt's deltas (it would self-match every kept doc at
    // dup_ratio 1.0 — the ADVICE r11 replay hole); the filter is a
    // partition-pruning predicate on the batch_id layout, so the
    // excluded delta files are never even listed
    val idx0 = ParquetDir.read(spark, s"$indexDir/spans")
    val idx = excludeBatchId.fold(idx0)(id =>
        idx0.filter(col("batch_id") =!= lit(id)))
      .select(col("h"), col("n_docs")) // shed batch_id
    val bs0 = batch.select(col(idCol).as("id"),
        explode(hashedShingles(col(textCol), k)).as("h"))
    // the self branch reuses the batch explode+md5 on both sides of a
    // diamond — pin it (micro-batch-sized by the gate contract)
    val bs = if (includeBatchSelf) bs0.localCheckpoint(false) else bs0
    // inner join on h: only corpus-shared spans survive; then the
    // per-(id, h) sum folds multi-append deltas back to the hash's
    // total corpus doc count before the ubiquity gate
    val matched = bs.join(idx, Seq("h"))
      .groupBy(col("id"), col("h"))
      .agg(sum(col("n_docs")).as("n_docs"))
    val observed = observeAs.fold(matched)(name => matched.observe(name,
      sum(when(col("n_docs") > maxDocs, lit(1L)).otherwise(lit(0L)))
        .as("dropped_rows"),
      max(col("n_docs")).as("max_span_docs")))
    val idxDupSpans = observed
      .filter(col("n_docs") <= maxDocs)
      .select(col("id"), col("h"))
    val dupSpans =
      if (!includeBatchSelf) idxDupSpans
      else {
        // keep-first ownership: a span whose LOWEST batch id is below
        // this doc's id is duplicated within the batch (no ubiquity
        // cap — within-batch multiplicity is bounded by the batch)
        val owner = bs.groupBy(col("h")).agg(min(col("id")).as("__owner"))
        idxDupSpans.unionByName(
          bs.join(owner, Seq("h"))
            .filter(col("id") > col("__owner"))
            .select(col("id"), col("h")))
          .distinct()
      }
    val perDoc = dupSpans
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_spans"))
    val totals = batch.select(col(idCol).as("id"),
      size(shingles(col(textCol), k)).cast("long").as("n_spans"))
    totals.join(perDoc, "id")
      .select(col("id").as(idCol), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"), 6).as("dup_ratio"))
  }

  /** Exact token-n-gram Jaccard similarity for given candidate pairs.
    * Shingle sets are computed only for docs that appear in a pair
    * (left-semi restriction) — at corpus scale the candidate set is a
    * tiny fraction of the corpus, so shingling twice over candidates
    * beats shingling the whole corpus once. */
  def ngramJaccard(
      pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val candIds = pairs.select(col("id_a").as("cid"))
      .union(pairs.select(col("id_b").as("cid")))
      .distinct()
    val sh = docs
      .join(candIds, col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      // shingle the candidate set once — it feeds BOTH pair-side joins
      .localCheckpoint(false)
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .drop("sh_a", "sh_b")
  }

  /** Asymmetric n-gram CONTAINMENT per candidate pair — the
    * quote/subset detector Jaccard can't express: a short doc fully
    * embedded in a long one scores containment_a ≈ 1 while its Jaccard
    * stays tiny (the union is dominated by the long side). Emits both
    * directions: containment_a = |A∩B|/|A|, containment_b = |A∩B|/|B|.
    * Same scale shape as [[ngramJaccard]]: shingle only the candidate
    * ids (left-semi), one shingle pass feeds both pair sides, map-side
    * set ops per pair. */
  def ngramContainment(
      pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val candIds = pairs.select(col("id_a").as("cid"))
      .union(pairs.select(col("id_b").as("cid")))
      .distinct()
    val sh = docs
      .join(candIds, col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .localCheckpoint(false)
    pairs
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("__i",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("containment_a", round(col("__i") / size(col("sh_a")), 6))
      .withColumn("containment_b", round(col("__i") / size(col("sh_b")), 6))
      .drop("sh_a", "sh_b", "__i")
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * DISTINCT word n-grams they share — the "who copies from whom"
    * audit that decides which corpus slices need near-dup passes
    * against each other (and the source-level cousin of benchmark
    * [[contamination]]).
    *
    * Shape (r18, guide §2.4 — was distinct + spread-count + join-back
    * + digest-keyed self-join, FOUR gram-sized exchange/join legs):
    * ONE digest-keyed aggregate folds each gram's distinct source set
    * (map-side partial `collect_set` dedups before the exchange, so
    * the shuffle carries per-partition-distinct (g, sources) like the
    * old distinct did); grams spread over more than `maxSources`
    * sources drop BEFORE any fan-out (ubiquitous stopword-grams carry
    * no copying signal but would each fan out sources² pairs — the
    * [[Guards.capBuckets]] reasoning); surviving grams expand their
    * ordered source pairs map-side (≤ maxSources²/2 per gram) into a
    * sources²-bounded count. Never all-pairs over documents; per-gram
    * aggregate state is the source set itself, bounded by the source
    * cardinality the sources²-row output already assumes is small.
    *
    * A NULL source never pairs (the old `a.source < b.source` dropped
    * it) but DID count toward the spread — the null flag keeps that
    * dial bit-identical. */
  def crossSourceOverlap(
      df: DataFrame,
      textCol: String,
      srcCol: String,
      n: Int = 3,
      maxSources: Int = 10): DataFrame = {
    require(maxSources >= 2, s"maxSources=$maxSources")
    val kept = df
      .select(col(srcCol).as("source"),
        explode(hashedShingles(col(textCol), n)).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"),
        max(col("source").isNull).as("has_null"))
      .filter(size(col("srcs")) +
        when(col("has_null"), lit(1)).otherwise(lit(0)) <= maxSources &&
        size(col("srcs")) >= 2)
    kept
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
          b => struct(a.as("sa"), b.as("sb")))))).as("p"))
      .groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
