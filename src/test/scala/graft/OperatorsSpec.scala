package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.{Bpe, Dedup, Guards, Sessionize, Similarity, SkewJoin, StableIds, ZOrder}
import graft.plans.SimHash64

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river shore"),
    (2L, "completely different content about spark query engines and planning"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    assert(out.head.getAs[Long]("keep_id") == 0L)
    assert(out.head.getAs[Long]("n_copies") == 2L)
  }

  test("two-phase exact dedup matches the text-group, nulls included") {
    val withNulls = docs.unionByName(Seq(
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val naive = Dedup.exact(withNulls, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    val twoPhase = Dedup.exactVerified(withNulls, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(twoPhase == naive,
      s"digest-keyed dedup must equal the text-group: $twoPhase vs $naive")
    // null texts collapse to one group in both shapes
    assert(naive.contains((4L, 2L)))
    // text column survives for clean buckets (min==max certificate)
    val keptTexts = Dedup.exactVerified(docs, "text", "doc_id")
      .select("text").as[String].collect().toSet
    assert(keptTexts == docs.select("text").distinct()
      .as[String].collect().toSet)
  }

  test("stable ids keep null-bucket rows (review r7)") {
    val rows = Seq((Some(1), 10L), (None, 7L), (Some(2), 5L), (None, 3L))
      .toDF("b", "k")
    val got = StableIds.assign(rows, col("b"), Seq(col("k")))
      .select("k", "stable_id").as[(Long, Long)].collect().toMap
    // all 4 rows numbered; nulls sort first under Spark asc
    assert(got.values.toSeq.sorted == (1L to 4L), s"lost rows: $got")
    assert(got(3L) == 1L && got(7L) == 2L && got(10L) == 3L && got(5L) == 4L)
  }

  test("BPE training survives pair exhaustion before iters (review r7)") {
    // "ab ab" exhausts after ONE merge; later rounds must not wipe the
    // vocab (the old cross join with an empty argmax did exactly that)
    val vocab = Bpe.wordVocab(Seq("ab ab").toDF("text"), "text")
    val merges = Bpe.train(vocab, iters = 4)
    assert(merges.select("step", "find").as[(Int, String)].collect().toSeq ==
      Seq((1, "<a><b>")), "exhausted rounds must contribute no merge row")
    val seg = Bpe.segmented(vocab, merges).select("seq").as[String].head()
    assert(seg == "<ab>")
  }

  test("stable ids equal the naive global row_number, buckets skewed") {
    import org.apache.spark.sql.expressions.Window
    // bucket 0 holds 1 row, bucket 1 holds 7, bucket 2 holds 2 — the
    // offsets must chain across wildly uneven buckets
    val rows = Seq(
      (0, 10L), (1, 3L), (1, 7L), (1, 1L), (1, 9L), (1, 2L), (1, 8L),
      (1, 4L), (2, 6L), (2, 5L)).toDF("b", "k")
    val got = StableIds.assign(rows, col("b"), Seq(col("k")))
      .select("k", "stable_id").as[(Long, Long)].collect().toMap
    val naive = rows.withColumn("stable_id",
        row_number().over(Window.orderBy(col("b"), col("k"))).cast("long"))
      .select("k", "stable_id").as[(Long, Long)].collect().toMap
    assert(got == naive, s"two-phase ids drifted: $got vs $naive")
    assert(got.values.toSeq.sorted == (1L to 10L),
      "ids must be consecutive 1..N with no gaps or dups")
  }

  test("BPE training merges the hand-computed pairs in order") {
    // corpus: "ab"×3, "abc"×1 → round 1 merges <a><b> (count 4),
    // round 2 merges <ab><c> (count 1)
    val corpus = Seq("ab ab ab", "abc").toDF("text")
    val vocab = Bpe.wordVocab(corpus, "text")
    assert(vocab.select("word", "c", "seq").as[(String, Long, String)]
      .collect().toSet ==
      Set(("ab", 3L, "<a><b>"), ("abc", 1L, "<a><b><c>")))
    val merges = Bpe.train(vocab, iters = 2)
    assert(merges.orderBy("step")
      .select("step", "find", "repl", "cnt")
      .as[(Int, String, String, Long)].collect().toSeq == Seq(
        (1, "<a><b>", "<ab>", 4L),
        (2, "<ab><c>", "<abc>", 1L)))
    // applying the trained merges segments the vocab fully here
    val seg = Bpe.segmented(vocab, merges)
      .select("word", "seq").as[(String, String)].collect().toMap
    assert(seg == Map("ab" -> "<ab>", "abc" -> "<abc>"))
    // non-[a-z0-9] tokens never enter the vocab (delimiter safety)
    val dirty = Bpe.wordVocab(Seq("a<b> c,d e").toDF("text"), "text")
    assert(dirty.select("word").as[String].collect().toSet == Set("e"))
  }

  test("quantile binning: cuts come from train only, boundary falls low") {
    import graft.operators.Binning
    // train values 1..8 in one group: quartile cuts (exact, type-7
    // interpolation) = 2.75, 4.5, 6.25
    val train = (1 to 8).map(v => ("g", v.toDouble)).toDF("grp", "value")
    val applyTo = Seq(("g", 0.5), ("g", 2.75), ("g", 4.5), ("g", 6.3),
      ("g", 99.0)).toDF("grp", "value")
    val got = Binning.quantileBins(train, applyTo, "grp", "value", nBins = 4)
      .select("value", "bin").as[(Double, Int)].collect().toMap
    assert(got == Map(0.5 -> 0, 2.75 -> 0, 4.5 -> 1, 6.3 -> 3, 99.0 -> 3),
      s"got $got")
    // a value equal to a cut lands in the LOWER bin (strict compare);
    // out-of-range values clamp to the edge bins, never a 5th bin

    // a group the TRAIN split never saw surfaces with the -1 sentinel —
    // an inner join would silently shrink the eval frame (review r9)
    val newGroup = Seq(("unseen", 3.0)).toDF("grp", "value")
    val sentinel = Binning.quantileBins(train, newGroup, "grp", "value", 4)
      .select("bin").as[Int].collect().toSeq
    assert(sentinel == Seq(-1), s"unseen group must surface as -1, got $sentinel")
  }

  test("blocklist gate partitions the corpus: matched + clean = all") {
    import graft.operators.Blocklist
    val docs = Seq(
      (1L, "a Slow Query ran on the big table"),  // 2 terms, case-folded
      (2L, "perfectly fine text"),
      (3L, "the hash value overflowed")).toDF("doc_id", "text")
    val terms = Seq("slow query", "big table", "hash value")
    val m = Blocklist.matchTerms(docs, "doc_id", "text", terms)
      .select("doc_id", "matched", "n_matched")
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    assert(m == Seq(
      (1L, "big table,slow query", 2),  // sorted term order, not text order
      (2L, "", 0),
      (3L, "hash value", 1)), s"got $m")
    val clean = Blocklist.clean(docs, "text", terms)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean == Seq(2L), "exactly the unmatched doc passes through")
    // a NULL text matches nothing on BOTH sides of the gate: matchTerms
    // reports 0 matches and clean passes it through — without the
    // coalesce the row vanished from clean() entirely (review r9)
    val withNull = docs.unionByName(
      Seq((4L, Option.empty[String])).toDF("doc_id", "text"))
    assert(Blocklist.matchTerms(withNull, "doc_id", "text", terms)
      .filter($"doc_id" === 4L).select("n_matched").as[Int].head() == 0)
    assert(Blocklist.clean(withNull, "text", terms)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L),
      "null-text doc must pass through, not vanish")
  }

  test("MMR selection prefers a diverse vector over a redundant duplicate") {
    // query [1,0]; corpus: 1 and 2 duplicate the query direction, 3 is
    // orthogonal. λ = 3/10 weighs diversity: step 1 takes the most
    // relevant (id 1), step 2 takes the ORTHOGONAL id 3 (score 0.0)
    // over the duplicate id 2 (3·1 − 7·1)/10 = −0.4, step 3 takes 2.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(corpus, "vec_id", "embedding",
        Seq(1.0, 0.0), k = 3, lambdaNum = 3, lambdaDen = 10)
      .select("rank", "vec_id", "rel", "score")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1, 1L, 1.0, 0.3), (2, 3L, 0.0, 0.0), (3, 2L, 1.0, -0.4)), s"got $got")
    // k beyond the corpus stops at exhaustion, no crash / dup picks
    val all = Similarity.mmrSelect(corpus, "vec_id", "embedding",
      Seq(1.0, 0.0), k = 9, lambdaNum = 3, lambdaDen = 10)
    assert(all.count() == 3)
  }

  test("incremental minhash gate finds batch-vs-corpus near-dups only") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different text about spark catalyst optimizer internals entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " extra"),                        // near-dups corpus doc 1
      (11L, base + " extra"),                        // identical to 10 — batch-internal
      (12L, "unrelated gibberish zebra quantum flux harmonics nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashNearDupsAgainst(batch, corpus, "text", "doc_id",
        shingleN = 3, bands = 4, rows = 4, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (11L, 1L)),
      s"batch docs 10 and 11 near-dup corpus doc 1 only; got $got")
    // batch-internal pair (10, 11) must NOT be reported by the gate
    assert(!got.contains((10L, 11L)) && !got.contains((11L, 10L)))
    // an id existing on BOTH sides (re-ingest under the same id, new
    // text) must verify batch text vs corpus text — side-qualified
    // shingles, not a union-frame coin toss (review r9)
    val reingest = Seq((1L, base + " tail")).toDF("doc_id", "text")
    val cross = Dedup.minhashNearDupsAgainst(reingest, corpus, "text", "doc_id",
        shingleN = 3, bands = 4, rows = 4, threshold = 0.4)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(cross.map(t => (t._1, t._2)) == Seq((1L, 1L)) &&
      cross.head._3 < 1.0,
      s"re-ingested id must compare against the CORPUS text, got $cross")
  }

  test("persisted minhash band index: probe ≡ direct gate, append under pinned meta params") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val corpus = Seq(
      (1L, base),
      (2L, base + " and then keeps going with more words after that")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " extra"),
      (12L, "unrelated gibberish zebra quantum flux harmonics nothing shared here at all")
    ).toDF("doc_id", "text")
    val dir = s"/tmp/graft_mhidx_spec_${java.util.UUID.randomUUID()}"
    // build from one doc, APPEND the other — the append must band under
    // the index's pinned (shingleN, bands, rows), not caller defaults
    Dedup.buildMinhashIndex(corpus.filter($"doc_id" === 1L), "text", "doc_id",
      dir, shingleN = 3, bands = 4, rows = 4)
    Dedup.appendToMinhashIndex(corpus.filter($"doc_id" === 2L), "text",
      "doc_id", dir, batchId = 0L)
    val got = Dedup.minhashNearDupsAgainstIndex(batch, corpus, "text", "doc_id",
        dir, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.minhashNearDupsAgainst(batch, corpus, "text", "doc_id",
        shingleN = 3, bands = 4, rows = 4, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want && want.nonEmpty,
      s"index roundtrip must be invisible: got $got want $want")
    assert(got.map(_._1) == Set(10L), "only the near-dup batch doc pairs")
  }

  test("incremental span dedup: batch-vs-index only, delta append merges (VERDICT r10 #2)") {
    // k=4 spans; "alpha beta gamma delta" is the planted shared span
    val shared = "alpha beta gamma delta"
    val corpusOld = Seq(
      (100L, s"$shared epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val corpusNew = Seq(
      (200L, s"prefix words here $shared suffix tail words")).toDF("doc_id", "text")
    val batch = Seq(
      // doc 1: shares the planted span with the corpus → reported
      (1L, s"intro $shared outro closing words"),
      // docs 2+3: share a span with EACH OTHER only → batch-internal,
      // must NOT be reported (the minhashNearDupsAgainst convention)
      (2L, "batch only span one two three four five six"),
      (3L, "batch only span one two three four five six seven"),
      // doc 4: nothing shared anywhere
      (4L, "totally unrelated zebra quantum flux harmonic words here")
    ).toDF("doc_id", "text")
    val dir = s"/tmp/graft_spanidx_spec_${java.util.UUID.randomUUID()}"
    // build from one slab, APPEND the other — the probe must see the
    // merged delta counts, identically to a single build of the union
    Dedup.buildSpanIndex(corpusOld, "text", "doc_id", k = 4, dir)
    Dedup.appendToSpanIndex(corpusNew, "text", "doc_id", k = 4, dir,
      batchId = 0L)
    val got = Dedup.spanDupStatsAgainst(batch, "text", "doc_id", k = 4, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L),
      s"only the batch doc sharing a span with the CORPUS reports; got $got")
    val (nSpans, nDup, _) = got(1L)
    // doc 1 has 6 tokens beyond... "intro alpha beta gamma delta outro
    // closing words" = 8 tokens → 5 windows; exactly 1 (the planted
    // span) exists in the corpus index
    assert(nSpans == 5L && nDup == 1L, s"(n_spans, n_dup) = ($nSpans, $nDup)")
    // delta merge: the shared span now counts 2 corpus docs; a build
    // over the UNION must agree with build+append exactly
    val dir2 = s"/tmp/graft_spanidx_spec_${java.util.UUID.randomUUID()}"
    Dedup.buildSpanIndex(corpusOld.unionByName(corpusNew), "text", "doc_id",
      k = 4, dir2)
    val viaUnion = Dedup.spanDupStatsAgainst(batch, "text", "doc_id", k = 4, dir2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val viaAppend = Dedup.spanDupStatsAgainst(batch, "text", "doc_id", k = 4, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAppend == viaUnion, "append deltas must equal a fresh build")
    // ubiquity cap: with the merged count 2 > maxDocs = 1, the span is
    // boilerplate-excluded and doc 1 drops out — fail-observable, like
    // spanDupStats' maxDocs gate
    val capped = Dedup.spanDupStatsAgainst(batch, "text", "doc_id", k = 4,
      dir, maxDocs = 1).as[(Long, Long, Long, Double)].collect()
    assert(capped.isEmpty, s"maxDocs=1 must exclude the 2-doc span: ${capped.toSeq}")
    // compaction (r12, VERDICT r11 #7): fold build+append deltas to a
    // single base — probe rows identical, file count collapses, and
    // the folded table carries one row per hash (sum is associative)
    val filesBefore = graft.operators.IndexLayout
      .dataFileCount(spark, s"$dir/spans")
    Dedup.compactSpanIndex(spark, dir)
    val viaCompacted = Dedup
      .spanDupStatsAgainst(batch, "text", "doc_id", k = 4, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaCompacted == viaUnion, "compaction changed probe results")
    val filesAfter = graft.operators.IndexLayout
      .dataFileCount(spark, s"$dir/spans")
    assert(filesAfter < filesBefore,
      s"spans files: $filesBefore -> $filesAfter (no collapse)")
    val dupHashes = spark.read.parquet(s"$dir/spans")
      .groupBy("h").count().filter(col("count") > 1).count()
    assert(dupHashes == 0, "a hash still carries multiple delta rows")
  }

  test("minhash index compaction: probe-identical, files collapse (r12)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about spark physical planning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again!"))
      .toDF("doc_id", "text")
    val dir = s"/tmp/graft_mhidx_compact_${java.util.UUID.randomUUID()}"
    Dedup.buildMinhashIndex(corpus.filter($"doc_id" === 1L), "text",
      "doc_id", dir, shingleN = 3, bands = 4, rows = 4)
    Dedup.appendToMinhashIndex(corpus.filter($"doc_id" === 2L), "text",
      "doc_id", dir, batchId = 0L)
    def probe() = Dedup.minhashNearDupsAgainstIndex(batch, corpus,
        "text", "doc_id", dir, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val before = probe()
    val filesBefore = graft.operators.IndexLayout
      .dataFileCount(spark, s"$dir/bands")
    Dedup.compactMinhashIndex(spark, dir)
    assert(probe() == before && before.nonEmpty,
      "compaction changed candidates/verdicts")
    val filesAfter = graft.operators.IndexLayout
      .dataFileCount(spark, s"$dir/bands")
    assert(filesAfter < filesBefore,
      s"bands files: $filesBefore -> $filesAfter (no collapse)")
  }

  test("batched BPE equals sequential when the top pairs are symbol-disjoint") {
    // corpus: "ab"×30, "cd"×20, "ef"×10 — the three top pairs share no
    // symbol and no merge creates a pair that outranks a later pick, so
    // ONE batched round of 3 must train exactly the 3 sequential merges
    val corpus = Seq.fill(30)("ab") ++ Seq.fill(20)("cd") ++ Seq.fill(10)("ef")
    val vocab = Bpe.wordVocab(corpus.toDF("text"), "text")
    val seq3 = Bpe.train(vocab, iters = 3)
      .select("find", "repl", "cnt").as[(String, String, Long)].collect().toSet
    val bat = Bpe.trainBatched(vocab, rounds = 1, batch = 3, candidates = 12)
    assert(bat.select("step").as[Int].collect().toSet == Set(1),
      "all three merges must land in the single batched round")
    assert(bat.select("find", "repl", "cnt").as[(String, String, Long)]
      .collect().toSet == seq3,
      "disjoint top pairs: batched round must equal 3 sequential merges")
    // and the trained vocab state agrees too
    val segSeq = Bpe.segmented(vocab, Bpe.train(vocab, iters = 3))
      .select("word", "seq").as[(String, String)].collect().toSet
    val segBat = Bpe.segmented(vocab,
        bat.withColumnRenamed("step", "s0")
          .withColumn("step", col("s0") * 100 + col("rnk")).drop("s0", "rnk"))
      .select("word", "seq").as[(String, String)].collect().toSet
    assert(segSeq == segBat)
  }

  test("batched BPE drops a candidate conflicting with a higher-ranked pair") {
    // "ab"×30, "bc"×20: (a,b) outranks (b,c) and they share symbol b →
    // the round keeps only (a,b); (b,c)'s occurrence count would be
    // stale after the merge, so it must NOT ride the same batch
    val vocab = Bpe.wordVocab(
      (Seq.fill(30)("ab") ++ Seq.fill(20)("bc")).toDF("text"), "text")
    val bat = Bpe.trainBatched(vocab, rounds = 1, batch = 4, candidates = 12)
    assert(bat.select("find").as[String].collect().toSeq == Seq("<a><b>"),
      "conflicting pair must wait for the next round")
    // round 2 then picks it with its (unchanged) count
    val two = Bpe.trainBatched(vocab, rounds = 2, batch = 4, candidates = 12)
    assert(two.orderBy("step", "rnk").select("step", "find", "cnt")
      .as[(Int, String, Long)].collect().toSeq ==
      Seq((1, "<a><b>", 30L), (2, "<b><c>", 20L)))
  }

  test("BPE greedy merge is left-to-right on overlapping pairs") {
    // "aaa": pair <a><a> counts twice but merges once greedily → <aa><a>
    val vocab = Bpe.wordVocab(Seq("aaa").toDF("text"), "text")
    val merges = Bpe.train(vocab, iters = 1)
    assert(merges.select("find", "cnt").as[(String, Long)].head() ==
      (("<a><a>", 2L)))
    val seg = Bpe.segmented(vocab, merges)
      .select("seq").as[String].head()
    assert(seg == "<aa><a>")
  }

  test("morton key matches a per-bit reference interleave, 2-d and 3-d") {
    // reference: place bit `bit` of dimension `d` at position bit*D + d
    def ref(cells: Seq[Long]): Long = {
      var z = 0L
      for (bit <- 0 until 16; d <- cells.indices)
        if (((cells(d) >> bit) & 1L) == 1L) z |= 1L << (bit * cells.length + d)
      z
    }
    val v2 = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (40000L, 12345L))
    val got2 = v2.toDF("a", "b")
      .select(ZOrder.mortonKey(Seq(col("a"), col("b"))).as("z"))
      .as[Long].collect().toSeq
    assert(got2 == v2.map(v => ref(Seq(v._1, v._2))))
    val v3 = Seq((1L, 1L, 1L), (2L, 3L, 1L), (65535L, 0L, 65535L),
      (12345L, 54321L, 999L))
    val got3 = v3.toDF("a", "b", "c")
      .select(ZOrder.mortonKey(Seq(col("a"), col("b"), col("c"))).as("z"))
      .as[Long].collect().toSeq
    assert(got3 == v3.map(v => ref(Seq(v._1, v._2, v._3))))
  }

  test("z-order clustering skips row groups for a two-dim predicate") {
    // the claim behind ZOrder.cluster: files cover small hyper-
    // rectangles, so parquet min/max stats prune a selective predicate
    // on EITHER interleaved dim. Compare the scan's actual output rows
    // (post row-group pruning) against the same data laid out by an
    // unrelated key, where every file spans both dims' full ranges.
    val e = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val zDir = tmpDir("zorder_clustered")
    val linDir = tmpDir("zorder_linear")
    ZOrder.cluster(e, Seq("user_id", "value"), 8).drop("z")
      .write.mode("overwrite").parquet(zDir)
    e.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode("overwrite").parquet(linDir)
    def scannedRows(dir: String): Long = {
      val df = spark.read.parquet(dir)
        .filter(col("user_id") < 5 && col("value") < 10.0)
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val (z, lin) = (scannedRows(zDir), scannedRows(linDir))
    // same answer either way…
    assert(spark.read.parquet(zDir)
      .filter(col("user_id") < 5 && col("value") < 10.0).count() ==
      spark.read.parquet(linDir)
        .filter(col("user_id") < 5 && col("value") < 10.0).count())
    // …but the clustered layout must decode strictly less of the table
    assert(z < lin, s"z-order skipped nothing: scan rows $z vs $lin")
  }

  test("z-order cell normalization hits the grid endpoints") {
    val df = Seq(10.0, 20.0, 30.0).toDF("v")
      .withColumn("c", ZOrder.cell(col("v"), lit(10.0), lit(30.0)))
    assert(df.select("c").as[Long].collect().toSeq == Seq(0L, 32767L, 65535L))
    // a constant dimension degrades to cell 0, not a division by zero
    val const = Seq(5.0, 5.0).toDF("v")
      .withColumn("c", ZOrder.cell(col("v"), lit(5.0), lit(5.0)))
    assert(const.select("c").as[Long].collect().toSeq == Seq(0L, 0L))
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // one-word difference
    assert(pairs.contains((0L, 3L))) // identical
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("winnow near-dups certify a copied run, ignore short overlaps") {
    val para = "this exact paragraph was copied verbatim between the two documents"
    val corpus = Seq(
      (10L, s"intro one. $para outro one."),
      (11L, s"different intro. $para and a different ending entirely."),
      (12L, "no shared material here beyond stray words like the and one."),
      (13L, "another fully unrelated document with its own distinct text."))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(corpus, "text", "doc_id",
        k = 24, w = 4, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 11L)),
      "only the pair sharing a >=27-char run qualifies")
  }

  test("simhash hamming distance separates near-dups from distinct docs") {
    val fp = docs.select($"doc_id",
        SimHash64.column(split(lower($"text"), "\\s+")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(3L)) // identical text, identical fingerprint
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(1L)) < ham(fp(0L), fp(2L)))
  }

  test("simhash codegen path agrees with eval path") {
    val toks = split(lower($"text"), "\\s+")
    // force interpreted eval via filter on a row-by-row collect comparison
    val viaExpr = docs.select($"doc_id", SimHash64.column(toks).as("fp"))
      .as[(Long, Long)].collect().toMap
    val viaScala = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        val e = graft.plans.SimHash64(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            t.toLowerCase.split("\\s+").toSeq,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))
        id -> e.eval(null).asInstanceOf[Long]
      }.toMap
    assert(viaExpr == viaScala)
  }

  test("minhash bands codegen path agrees with eval path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val sh = Dedup.shingles(lower($"text"), 3)
    val viaExpr = docs
      .select($"doc_id", graft.plans.MinHashBands.column(sh, 4, 4).as("bb"))
      .as[(Long, Seq[String])].collect().toMap
    // interpreted eval over the same shingle arrays
    val shingled = docs.select($"doc_id", sh.as("sh"))
      .as[(Long, Seq[String])].collect()
    val viaEval = shingled.map { case (id, ss) =>
      val e = graft.plans.MinHashBands(
        Literal.create(ss, ArrayType(StringType)), 4, 4)
      val ad = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      id -> (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
    }.toMap
    assert(viaExpr == viaEval)
    assert(viaExpr(0L) == viaExpr(3L)) // identical docs, identical bands
  }

  test("hashed shingles: fused native loop equals the interpreted " +
      "transform(shingles, md5) forms, distinct and positional (r18)") {
    import graft.functions.TextFns
    val edge = Seq(
      (10L, "the quick brown fox jumps over the quick brown fox again"),
      (11L, ""), (12L, "   "), (13L, "one"), (14L, "one two three"),
      (15L, "τα γρήγορα καφέ αλεπού πηδά πάνω από το τεμπέλικο σκυλί"),
      (16L, "a  b\tc   d e f a  b\tc"), (17L, "x y x y x y x y x y"))
      .toDF("doc_id", "text")
    val all = docs.unionByName(edge)
    for (n <- Seq(1, 3, 8)) {
      // distinct=true ≡ transform(array_distinct(shingles), md5)
      val interp = all.select($"doc_id",
        transform(Dedup.shingles($"text", n), g => md5(g)).as("hs"))
        .as[(Long, Seq[String])].collect().toMap
      val native = all.select($"doc_id",
        Dedup.hashedShingles($"text", n).as("hs"))
        .as[(Long, Seq[String])].collect().toMap
      assert(native == interp, s"distinct form diverged at n=$n")
      // distinct=false ≡ the per-position scrubSpans HOF form
      val toks = TextFns.tokens(lower($"text"))
      val interpPos = all.select($"doc_id",
        when(size(toks) < n, array(md5(concat_ws(" ", toks))))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => md5(concat_ws(" ", slice(toks, i + 1, lit(n))))))
          .as("hs"))
        .as[(Long, Seq[String])].collect().toMap
      val nativePos = all.select($"doc_id",
        graft.plans.HashedShingles.column(toks, n, distinct = false)
          .as("hs"))
        .as[(Long, Seq[String])].collect().toMap
      assert(nativePos == interpPos, s"positional form diverged at n=$n")
    }
    // codegen path agrees with interpreted eval (the MinHashBands check)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val tokRows = all.select($"doc_id",
        TextFns.tokens(lower($"text")).as("t"))
      .as[(Long, Seq[String])].collect()
    val viaExpr = all.select($"doc_id",
        Dedup.hashedShingles($"text", 3).as("hs"))
      .as[(Long, Seq[String])].collect().toMap
    val viaEval = tokRows.map { case (id, ts) =>
      val e = graft.plans.HashedShingles(
        Literal.create(ts, ArrayType(StringType)), 3, distinct = true)
      val ad = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      id -> (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
    }.toMap
    assert(viaExpr == viaEval)
  }

  test("md5 hex-prefix value: fused native equals conv(substring(md5))" +
      " and the hex-compare predicates it replaces (r18)") {
    val keys = (0L until 500L).map(i => (i, s"k:$i")).toDF("id", "s")
      .unionByName(Seq((9000L, ""), (9001L, "δοκιμή unicode"),
        (9002L, "a b c")).toDF("id", "s"))
    for (n <- Seq(8, 12)) {
      val interp = keys.select($"id",
        conv(substring(md5($"s"), 1, n), 16, 10).cast("long").as("v"))
        .as[(Long, Long)].collect().toMap
      val native = keys.select($"id",
        graft.plans.Md5HexVal.column($"s", n).as("v"))
        .as[(Long, Long)].collect().toMap
      assert(native == interp, s"hex value diverged at nHex=$n")
    }
    // fixed-width lowercase hex lexicographic order == unsigned
    // numeric order: the hashKeep-family predicate swap is exact
    for (frac <- Seq(0.1, 0.25, 0.5, 0.9)) {
      val cut = math.round(frac * (1L << 48))
      val hexCut = f"$cut%012x"
      val viaHex = keys.filter(
          substring(md5($"s"), 1, 12) < lit(hexCut))
        .select($"id").as[Long].collect().toSet
      val viaNum = keys.filter(
          graft.plans.Md5HexVal.column48($"s") < lit(cut))
        .select($"id").as[Long].collect().toSet
      assert(viaHex == viaNum, s"predicate diverged at fraction=$frac")
    }
    // null input stays null (concat-propagated null keys must keep
    // dropping rows identically)
    val nulls = Seq((0L, null.asInstanceOf[String])).toDF("id", "s")
    assert(nulls.select(graft.plans.Md5HexVal.column48($"s"))
      .collect().head.isNullAt(0))
  }

  test("ngram jaccard on explicit candidate pairs") {
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(pairs, docs, "text", "doc_id")
      .orderBy("id_a", "id_b")
      .select($"id_b", $"jaccard").as[(Long, Double)].collect()
    assert(out(0)._2 > 0.5)  // near-dup
    assert(out(1)._2 == 0.0) // unrelated
  }

  test("cosine HOF form and native expression agree") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f)),
      (1L, Array(1.0f, 0.0f, 1.0f)),
      (2L, Array(-1.0f, 0.5f, 0.0f))).toDF("id", "v")
    val both = df.as("a").join(df.as("b"), $"a.id" < $"b.id")
      .select(
        VectorFns.cosine($"a.v", $"b.v").as("hof"),
        VectorFns.cosineFast($"a.v", $"b.v").as("fast"))
      .as[(Double, Double)].collect()
    both.foreach { case (h, f) => assert(math.abs(h - f) < 1e-12) }
    assert(both.exists { case (h, _) => math.abs(h - 1.0) < 1e-12 })
  }

  test("brute-force topK returns k ranked neighbors per query") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bruteForceTopK(
      emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", 4)
    val rows = out.collect()
    assert(rows.length == 12)
    assert(out.filter($"query_id" === $"neighbor_id").count() == 0)
    val sims = out.filter($"query_id" === 0)
      .orderBy($"rank").select("sim").as[Double].collect()
    assert(sims.sliding(2).forall(p => p(0) >= p(1))) // descending
  }

  test("bucketed topK candidates stay within the query's sign bucket") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.bucketedTopK(
      emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", 4, nBits = 4)
    assert(out.count() > 0)
  }

  test("persisted PQ index probes equal the direct pqTopK answer") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmpDir("pqindex")
    Similarity.buildPqIndex(emb, "vec_id", "embedding", dir,
      m = 4, nCents = 8, trainIters = 1)
    val direct = Similarity.pqTopK(
        emb.filter($"vec_id" < 3), emb, "vec_id", "embedding", k = 5,
        m = 4, nCents = 8, trainIters = 1)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaIndex = Similarity.pqTopKFromIndex(
        emb.filter($"vec_id" < 3), dir, "vec_id", "embedding", k = 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaIndex == direct, "index roundtrip must be invisible")
  }

  test("bounded top-k agrees with the window row_number reference form") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" < 4).select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
    val scored = c.join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .withColumn("sim", round(VectorFns.cosineFast($"qv", $"cv"), 6))
    val viaWindow = scored
      .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
        .orderBy($"sim".desc, $"neighbor_id".asc)))
      .filter($"rank" <= 5)
      .select("query_id", "neighbor_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaAgg = Similarity.bruteForceTopK(
        emb.filter($"vec_id" < 4), emb, "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("bounded top-k heap keeps the best k under adversarial insert order") {
    val h = new graft.plans.TopKHeap(3)
    // ascending, descending, ties (ids break ties ascending), and -0.0
    Seq((1.0, 10L), (5.0, 9L), (3.0, 8L), (5.0, 7L), (-0.0, 6L), (0.0, 5L),
      (4.0, 4L), (5.0, 11L)).foreach { case (s, i) => h.insert(s, i) }
    assert(h.sortedDesc.toSeq == Seq((5.0, 7L), (5.0, 9L), (5.0, 11L)))
  }

  test("LSH bucket guard drops a planted degenerate bucket") {
    import graft.operators.Guards
    // 50 identical empty-ish docs = one degenerate bucket in every band,
    // plus the regular near-dup pair.
    val degenerate = (100L until 150L).map(i => (i, "x x x"))
    val all = docs.union(degenerate.toDF("doc_id", "text"))
    val guarded = Dedup.minhashNearDups(all, "text", "doc_id",
      threshold = 0.5, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // degenerate ids never reach the self-join...
    assert(!guarded.exists(p => p._1 >= 100L || p._2 >= 100L))
    // ...while real near-dups still surface
    assert(guarded.contains((0L, 1L)) && guarded.contains((0L, 3L)))
    // and the dropped bucket is observable for logging
    val banded = all.select($"doc_id",
      posexplode(graft.plans.MinHashBands.column(
        Dedup.shingles($"text", 3), 4, 4)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val dropped = Guards.oversizedBuckets(banded, Seq("band", "bucket"), 10)
    assert(dropped.count() >= 4) // the degenerate bucket, in every band
  }

  test("simhash banding finds every pair within the declared hamming radius") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val variants = (0 until 12).map { i =>
      (i.toLong, base.split(" ").updated(i, s"weird$i").mkString(" "))
    }
    val df = variants.toDF("doc_id", "text")
    val fps = df.select($"doc_id",
        graft.plans.SimHash64.column(split(lower($"text"), "\\s+")).as("fp"))
      .as[(Long, Long)].collect().toMap
    val maxH = 8
    val expected = (for {
      a <- variants.map(_._1); b <- variants.map(_._1) if a < b
      if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= maxH
    } yield (a, b)).toSet
    val found = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = maxH)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found == expected) // exact recall at radius maxH by pigeonhole
  }

  test("sessionize splits on gaps and keeps within-gap events together") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), // same session (gap 600s)
      (1L, "2024-01-01 12:00:00", 3.0), // new session (gap 6600s)
      (2L, "2024-01-01 09:00:00", 4.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val out = Sessionize.sessionStats(ev, "user_id", "ts", "value", 1800L)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "value_sum")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 0L, 2L, 3.0), (1L, 1L, 1L, 3.0), (2L, 0L, 1L, 4.0)))
  }

  test("dropNearDuplicates keeps each cluster's lowest id plus uniques") {
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // docs 0/1/3 are one near-dup cluster (0=3 exact, 1 near) → keep 0;
    // doc 2 is unique
    assert(kept == Set(0L, 2L))
  }

  // one hot key (7) with most of the rows — the salted shape must not
  // change results for any supported join type
  private lazy val skewBig = ((1L to 500L).map(i => (7L, i)) ++
    (1L to 50L).map(i => (i % 5, 1000L + i))).toDF("k", "payload")
  private lazy val skewSmall =
    Seq((7L, "hot"), (1L, "a"), (2L, "b"), (99L, "unmatched"))
      .toDF("k", "name")

  test("salted join ≡ plain join for inner/left/semi/anti") {
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val plain = skewBig.join(
        if (jt.startsWith("left_s") || jt.startsWith("left_a"))
          skewSmall.select("k") else skewSmall,
        Seq("k"), jt)
      val salted = SkewJoin.saltedJoin(skewBig,
        if (jt.startsWith("left_s") || jt.startsWith("left_a"))
          skewSmall.select("k") else skewSmall,
        "k", salts = 8, joinType = jt)
      val p = plain.collect().map(_.toString).sorted.toSeq
      val s = salted.collect().map(_.toString).sorted.toSeq
      assert(s == p, s"mismatch for join type $jt")
    }
  }

  test("salted join spreads the hot key over multiple salt values") {
    val salted = skewBig
      .withColumn("__salt", pmod(hash(skewBig.columns.map(col): _*), lit(8)))
      .filter($"k" === 7L)
      .select(countDistinct($"__salt")).as[Long].head()
    assert(salted >= 4, s"hot key landed on only $salted salt values")
  }

  test("salted join rejects right/full join types") {
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(skewBig, skewSmall, "k", 4, "full_outer")
    }
  }

  test("sq8 quantization: bounded reconstruction error, strong top-1 recall") {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, sf)
    // mid-rise SQ8 over [-1,1]: per-dim error ≤ step/2 = 1/256
    val maxErr = emb.select(VectorFns.dequantizeSq8(
          VectorFns.quantizeSq8($"embedding")).as("rt"), $"embedding")
      .select(aggregate(
        zip_with($"rt", $"embedding".cast("array<double>"),
          (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)).as("e"))
      .agg(max($"e")).as[Double].head()
    assert(maxErr <= 1.0 / 256 + 1e-12, s"maxErr=$maxErr")

    // the quantized ranking should keep most exact top-1 neighbors
    val sq = emb.select($"vec_id",
      VectorFns.dequantizeSq8(VectorFns.quantizeSq8($"embedding")).as("embedding"))
    def top1(df: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(df.filter($"vec_id" < 20), df, "vec_id", "embedding", 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val (exactT, sqT) = (top1(emb), top1(sq))
    val hits = exactT.count { case (q, n) => sqT.get(q).contains(n) }
    assert(hits >= 16, s"sq8 top-1 recall $hits/20 — quantization too lossy")
  }

  test("knnGraph with one cell ≡ bruteForceTopK; cap guard drops degenerate cells") {
    val emb = Tables.embeddings(spark, sf).filter($"vec_id" < 60)
    // one cell = every pair compared — the graph must equal the exact
    // all-pairs answer (same ranking semantics, self-matches excluded)
    val got = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
        nCells = 1)
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want && want.nonEmpty)
    // a cell past maxCell is DROPPED (observable, like semDedupPairs),
    // not allowed to go quadratic on one task
    val none = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
      nCells = 1, maxCell = 10)
    assert(none.count() == 0)
  }

  test("approx_percentile tracks exact percentile within its accuracy bound") {
    // The 100 TB path for q_percentile: exact percentile is a full sort
    // per group; approx_percentile is a one-pass mergeable sketch. With
    // accuracy a, rank error ≤ n/a — assert the sketch's value lands
    // within the quantity values at rank ± n/a of the exact answer.
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, sf).select(col("l_quantity"))
    val Seq(exact, approx) = df.agg(
      expr("percentile(l_quantity, 0.5)"),
      expr("approx_percentile(l_quantity, 0.5, 1000)")
    ).collect().head.toSeq.map(_.asInstanceOf[Double]).toSeq
    val sorted = df.collect().map(_.getDouble(0)).sorted
    val n = sorted.length
    val slack = math.max(1, n / 1000)
    val lo = sorted(math.max(0, n / 2 - slack))
    val hi = sorted(math.min(n - 1, n / 2 + slack))
    assert(approx >= lo && approx <= hi,
      s"approx median $approx outside rank-error window [$lo,$hi] (exact $exact)")
  }

  test("approx_count_distinct tracks exact countDistinct within HLL rsd") {
    // SURVEY §2.B distinct row's scale path: exact countDistinct
    // shuffles every distinct key; approx_count_distinct is a one-pass
    // mergeable HLL++ sketch whose relative standard deviation is the
    // declared rsd. Assert the estimate lands within 4σ of exact
    // (same pattern as the approx_percentile bound above).
    val rsd = 0.02
    val df = Tables.events(spark, sf).select(col("user_id"))
    val row = df.agg(
      countDistinct(col("user_id")).cast("double"),
      approx_count_distinct(col("user_id"), rsd).cast("double")
    ).collect().head
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    val relErr = math.abs(approx - exact) / exact
    assert(relErr <= 4 * rsd,
      s"HLL estimate $approx vs exact $exact: relative error $relErr > ${4 * rsd}")
  }

  test("ivfTopK with all cells probed reproduces brute-force exactly") {
    // nProbe = nCells makes the candidate set the whole corpus (minus
    // self), so the inverted-file mechanics must return exactly the
    // exhaustive answer — any assignment/probe/ranking fault shows up
    // as a diff.
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 4, nCells = 6, nProbe = 6).orderBy("query_id", "rank")
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 4)
      .orderBy("query_id", "rank")
    assert(ivf.collect().toSeq == brute.collect().toSeq)
  }

  test("kmeansFit migrates cells off a degenerate seed; trained IVF recall beats untrained") {
    // 3 tight clusters on axes e0/e1/e2; the nCells=3 seed — now the 3
    // SMALLEST-md5(id) rows — is arranged to sit ENTIRELY in cluster A,
    // the degenerate case the r6 verdict flagged. The e3 jitter is
    // what decides assignment against the three near-identical A seeds
    // (±0.0001·t·s cosine differences), so each of B and C SPLITS
    // across cells by the sign of t; but true neighbor RANKING is
    // dominated by the larger independent e4 jitter — so a 1-probe
    // search loses the true neighbors stranded in the other half.
    // Lloyd iterations wash out the e3 components (means of ±0.01 → 0),
    // letting the cluster axis decide and pulling each cluster whole
    // into one cell.
    def vec(base: Seq[Double], t: Int, u: Int): Seq[Double] =
      base.zipWithIndex.map { case (v, d) =>
        v + (if (d == 3) 0.01 * t else 0.0) + (if (d == 4) 0.02 * u else 0.0) }
    val e = (0 until 3).map(a => Seq.tabulate(5)(d => if (d == a) 1.0 else 0.0))
    // replay the engine's seeding rule (smallest md5 of the id string)
    // so the test can pin the degenerate trio deliberately
    def h(i: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = (0L until 30L)
    val seedIds = ids.sortBy(i => (h(i), i)).take(3).sorted
    val restIds = ids.filterNot(seedIds.contains).sorted
    val rows =
      seedIds.zipWithIndex.map { case (id, s) => (id, vec(e(0), s - 1, 0)) } ++
      restIds.zipWithIndex.map { case (id, r) =>
        val base = if (r < 13) e(1) else e(2)
        (id, vec(base, if (id % 2 == 0) 1 else -1, (id % 5 - 2).toInt))
      }
    val emb = rows.toDF("vec_id", "embedding")
    val cent = Similarity.kmeansFit(emb, "vec_id", "embedding", nCells = 3, iters = 3).coarse
    // trained centroids cover at least two clusters beyond the seed's
    val dirs = cent.map(_._2.zipWithIndex.maxBy(_._1)._2).toSet
    assert(dirs.size >= 2, s"centroids still degenerate: $cent")

    val q = emb.filter(!$"vec_id".isin(seedIds: _*))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 3))
    val trained = pairs(Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 3, nCells = 3, nProbe = 1, trainIters = 3))
    val untrained = pairs(Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 3, nCells = 3, nProbe = 1, trainIters = 0))
    val rTrained = (trained & brute).size.toDouble / brute.size
    val rUntrained = (untrained & brute).size.toDouble / brute.size
    assert(rTrained > rUntrained,
      s"training must lift 1-probe recall: trained=$rTrained untrained=$rUntrained")
    assert(rTrained >= 0.9, s"trained recall $rTrained too low")
  }

  test("kmeansFit seeds a sparse id space (post-forget: no ids < nCells)") {
    // every id ≥ 100000 — the old filter(id < nCells) seeding returned
    // zero rows here and threw (VERDICT r7 #2); md5 seeding is a pure
    // function of the rows that exist
    val emb = (0 until 40).map(i =>
        (100000L + i * 37L, Seq.tabulate(5)(d => math.sin(i * 5 + d))))
      .toDF("vec_id", "embedding")
    val cent = Similarity.kmeansFit(emb, "vec_id", "embedding", nCells = 4, iters = 1).coarse
    assert(cent.length == 4)
    assert(cent.forall(_._1 >= 100000L), "cell ids are the seeds' corpus ids")
    val out = Similarity.ivfTopK(emb.filter($"vec_id" < 100200L), emb,
      "vec_id", "embedding", k = 2, nCells = 4, nProbe = 4)
    assert(out.count() > 0)
  }

  test("quantizer training on the hash sample is deterministic and keeps the seed cells") {
    val emb = Tables.embeddings(spark, sf)
    val full = Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 2).coarse
    val samp = Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 2,
      trainFraction = 0.25).coarse
    val samp2 = Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 2,
      trainFraction = 0.25).coarse
    assert(samp == samp2, "sample training must be deterministic")
    assert(samp.map(_._1) == full.map(_._1),
      "cell ids (seeds) are independent of the training fraction")
    assert(samp.map(_._2.length).toSet == full.map(_._2.length).toSet)
  }

  test("ivfTopK restricts candidates to probed cells (recall/cost dial)") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 8)
    val narrow = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 4, nCells = 6, nProbe = 1)
    val full = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
      k = 4, nCells = 6, nProbe = 6)
    // 1-probe candidates ⊆ all-probe candidates, so per query the
    // exhaustive best can only be at least as similar as the 1-probe
    // best — and the narrow search returns no more rows.
    val bestNarrow = narrow.filter($"rank" === 1)
      .select("query_id", "sim").as[(Long, Double)].collect().toMap
    val bestFull = full.filter($"rank" === 1)
      .select("query_id", "sim").as[(Long, Double)].collect().toMap
    assert(narrow.count() <= full.count())
    bestNarrow.foreach { case (qid, s) =>
      assert(bestFull(qid) >= s, s"query $qid: full best ${bestFull(qid)} < narrow best $s")
    }
  }

  test("labelCentroids: exact fixed-point means on a known frame") {
    val emb = Seq(
      (1, Seq(1.0f, -0.5f)),
      (1, Seq(3.0f, 0.5f)),
      (2, Seq(2.0f, 2.0f))).toDF("label", "embedding")
    val got = Similarity.labelCentroids(emb, "label", "embedding")
      .orderBy("label", "pos")
      .as[(Int, Int, Long, Long, Double)].collect().toSeq
    val S = 1L << 20
    assert(got == Seq(
      (1, 0, 4 * S, 2L, 2.0),
      // floor(-0.5*2^20) + floor(0.5*2^20) = 0 exactly
      (1, 1, 0L, 2L, 0.0),
      (2, 0, 2 * S, 1L, 2.0),
      (2, 1, 2 * S, 1L, 2.0)))
  }

  test("bruteForceTopK fails fast past the broadcast query cap (VERDICT r4 #7)") {
    val emb = Tables.embeddings(spark, sf)
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        k = 3, maxQueries = 5)
    }
    assert(ex.getMessage.contains("bucketedTopK"))
  }

  test("bucket-cap drops surface in the observe() metric (ADVICE r2)") {
    val capped = Guards.capBuckets(
      (1L to 40L).map(i => (i, if (i <= 30) "hot" else s"cold$i"))
        .toDF("id", "bucket"),
      Seq("bucket"), maxBucket = 10, observeAs = Some("test_guard"))
    // collect(), not a write: a write command builds its own
    // QueryExecution, whose metrics this Dataset's QE can't see
    capped.collect()
    val m = capped.queryExecution.observedMetrics("test_guard")
    assert(m.getAs[Long]("dropped_rows") == 30L)
    assert(m.getAs[Long]("max_bucket_n") == 30L)
  }

  test("packGreedy assigns capacity-reset bins per group") {
    import graft.operators.Packing
    val df = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 100L), // 100+100 fit, 3rd overflows
      ("a", 4L, 300L),                                   // oversized → own bin
      ("a", 5L, 50L),
      ("b", 1L, 10L), ("b", 2L, 10L)                     // fresh state per group
    ).toDF("src", "ord", "sz")
    val bins = Packing.packGreedy(df, "src", "ord", "sz", budget = 250)
      .select("src", "ord", "bin").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(bins == Map(
      ("a", 1L) -> 1L, ("a", 2L) -> 1L, ("a", 3L) -> 2L,
      ("a", 4L) -> 3L, ("a", 5L) -> 4L,
      ("b", 1L) -> 1L, ("b", 2L) -> 1L))
  }

  test("packGreedy invariants: bins contiguous, under budget unless single-oversize") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i =>
      (s"g${i % 5}", i.toLong, 1L + rnd.nextInt(120).toLong)).toDF("src", "ord", "sz")
    val out = Packing.packGreedy(df, "src", "ord", "sz", budget = 200)
      .as[(String, Long, Long, Long)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      val byOrd = rows.sortBy(_._2)
      // bin ids start at 1 and never decrease or skip
      byOrd.map(_._4).foldLeft(0L) { (prev, b) =>
        assert(b == prev || b == prev + 1, s"non-contiguous bin $prev -> $b"); b
      }
      byOrd.groupBy(_._4).foreach { case (_, binRows) =>
        val tot = binRows.map(_._3).sum
        assert(tot <= 200 || binRows.length == 1)
      }
    }
  }

  test("packGreedySharded: per-(group,shard) invariants and shard-local replay") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i =>
      (s"g${i % 3}", i.toLong, 1L + rnd.nextInt(120).toLong)).toDF("src", "ord", "sz")
    val out = Packing.packGreedySharded(df, "src", "ord", "sz",
        budget = 200, nShards = 4)
      .as[(String, Long, Long, Long, Long)].collect()
    // deterministic shard assignment
    out.foreach { case (_, shard, ord, _, _) => assert(shard == ord % 4) }
    out.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      val byOrd = rows.sortBy(_._3)
      // bins 1-based, contiguous, never decreasing within the shard
      byOrd.map(_._5).foldLeft(0L) { (prev, b) =>
        assert(b == prev || b == prev + 1, s"non-contiguous bin $prev -> $b"); b
      }
      // no overflow unless a single oversized row owns the bin
      byOrd.groupBy(_._5).foreach { case (_, binRows) =>
        assert(binRows.map(_._4).sum <= 200 || binRows.length == 1)
      }
    }
    // shard-local equivalence: each (group, shard)'s bins match packGreedy
    // run on just that shard's rows — sharding changes parallelism, not
    // the packing rule
    val oneShard = df.filter($"ord" % 4 === 2)
    val expect = Packing.packGreedy(oneShard, "src", "ord", "sz", budget = 200)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    val got = out.filter(_._2 == 2L).map(r => (r._1, r._3) -> r._5).toMap
    assert(got == expect)
  }

  test("persisted IVF index: probe ≡ direct ivfTopK, scan partition-pruned") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
    val indexDir = tmpDir("ivf_index")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", indexDir, nCells = 16)
    val fromIndex = Similarity.ivfTopKFromIndex(
      queries, indexDir, "vec_id", "embedding", k = 5, nProbe = 2)
    val direct = Similarity.ivfTopK(
      queries, emb, "vec_id", "embedding", k = 5, nCells = 16, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(rows(fromIndex) == rows(direct),
      "index roundtrip must not change rankings")
    // the probe plan reads only probed cells: the assigned scan must
    // carry a NON-EMPTY partition filter on cell. (A bare
    // contains("PartitionFilters") is vacuous — every file scan prints
    // the header even when the bracket is empty.)
    val plan = fromIndex.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(partFilters.exists(f => f.contains("cell") && f.trim.nonEmpty),
      s"expected a non-empty cell partition filter, got $partFilters in:\n$plan")
  }

  test("editNearDups: blocked Levenshtein finds in-place edits, respects threshold") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"), // 3 edits vs 1
      (3L, "the quick brown fox leaps over seventeen lazy dogs!!"), // same block, >10 edits
      (4L, "a completely different document about spark engines"),  // different block
      (5L, "The Quick Brown fox jumps over the lazy dog tonight")   // case-only = dist 0 vs 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.editNearDups(docs, "text", "doc_id",
        blockLen = 16, cmpLen = 64, maxDist = 10)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 2L, 3), (1L, 5L, 0), (2L, 5L, 3)),
      s"got $pairs")
  }

  test("contamination counts shared n-grams; decontaminate drops flagged docs") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // contains bench 3-grams
      (11L, "zeta eta theta iota kappa"),      // disjoint vocabulary
      (12L, "beta gamma delta zeta eta")       // one shared 3-gram
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, bench, "text", "doc_id", n = 3)
      .as[(Long, Long)].collect().toMap
    // bench 3-grams: {alpha beta gamma, beta gamma delta}
    assert(hits == Map(10L -> 2L, 12L -> 1L))
    val clean = Dedup.decontaminate(corpus, bench, "text", "doc_id", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(11L))
  }

  test("contamination never shuffles the corpus side (broadcast-only plan)") {
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq((0L, "c d e f g")).toDF("doc_id", "text")
    val plan = Dedup.contamination(corpus, bench, "text", "doc_id", n = 3)
      .queryExecution.executedPlan.toString
    // the only exchange is the post-join hit aggregation; the join
    // itself must be broadcast (no sort-merge on the gram)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("analytics invariants: benford shares, cusum telescope, autocorr bounds") {
    val d = "/root/testdata/sf0.001"

    // Benford: digits in 1..9 and per-type shares sum to ~1 (each
    // share rounds at 6 dp, so the sum is within 9 half-ulps of 1).
    val ben = SparkEntry.queries("q_benford")(spark, d).collect()
    assert(ben.nonEmpty)
    assert(ben.forall { r =>
      val dg = r.getAs[String]("digit"); dg.length == 1 && dg >= "1" && dg <= "9"
    })
    ben.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Double]("share")).sum
      assert(math.abs(s - 1.0) < 5e-6, s"shares sum $s")
    }

    // CUSUM: the deviation telescopes to exactly zero on each type's
    // last day (D*total - D*total), and every type flags >=1 peak.
    val cus = SparkEntry.queries("q_cusum")(spark, d).collect()
    val byType = cus.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (t, rows) =>
      assert(rows.maxBy(_.getAs[String]("day")).getAs[Long]("dev") == 0L,
        s"$t: last dev nonzero")
      assert(rows.exists(_.getAs[Boolean]("is_peak")), s"$t: no peak")
    }

    // Autocorrelation: defined values are true Pearson coefficients.
    val ac = SparkEntry.queries("q_autocorr")(spark, d).collect()
    assert(ac.nonEmpty)
    for (r <- ac; c <- Seq("ac_lag1", "ac_lag7") if !r.isNullAt(r.fieldIndex(c)))
      assert(math.abs(r.getAs[Double](c)) <= 1.0, s"$c out of range")
  }
}
