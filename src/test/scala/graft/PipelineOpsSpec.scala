package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Profile, Quantizer, Scd2, Sizing}

/** Specs for the r5 pipeline additions: SCD2 history build, table
  * profiling, bigram collocations. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def log = Seq(
    // user 1: A A B B A  → changes at id 1 (A), 3 (B), 5 (A)
    (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"), (1L, 4L, "B"), (1L, 5L, "A"),
    // user 2: single snapshot → one open interval
    (2L, 6L, "X"),
    // user 3: null → value → null (null-safe change detection)
    (3L, 7L, null), (3L, 8L, "Y"), (3L, 9L, null))
    .toDF("user_id", "rec_id", "state")
    .withColumn("ts", timestamp_seconds(col("rec_id") * 100))

  test("scd2 history compacts no-change snapshots and closes intervals") {
    val h = Scd2.history(log, "user_id", "ts", "rec_id", Seq("state"))
      .orderBy("user_id", "rec_id")
      .select("user_id", "rec_id", "state", "is_current")
      .as[(Long, Long, Option[String], Boolean)].collect().toSeq
    assert(h == Seq(
      (1L, 1L, Some("A"), false), (1L, 3L, Some("B"), false),
      (1L, 5L, Some("A"), true),
      (2L, 6L, Some("X"), true),
      (3L, 7L, None, false), (3L, 8L, Some("Y"), false),
      (3L, 9L, None, true)))
  }

  test("scd2 intervals chain: valid_to equals the next change's valid_from") {
    val h = Scd2.history(log, "user_id", "ts", "rec_id", Seq("state"))
      .filter(col("user_id") === 1L).orderBy("rec_id")
      .select(col("valid_from").cast("long"), col("valid_to").cast("long"))
      .as[(Long, Option[Long])].collect().toSeq
    assert(h == Seq((100L, Some(300L)), (300L, Some(500L)), (500L, None)))
  }

  test("scd2 runs on a single exchange (compaction + lead share the sort)") {
    val plan = Scd2.history(log, "user_id", "ts", "rec_id", Seq("state"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
  }

  test("profile reports nulls, exact distincts, native-order min/max") {
    val df = Seq(
      (Some(10L), Some(2.5), Some("b")),
      (Some(9L), None, Some("a")),
      (Some(10L), Some(1.25), None))
      .toDF("k", "v", "s")
    val p = Profile.profile(df)
      .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().toSeq
    assert(p == Seq(
      ("k", 3L, 0L, 2L, Some("9"), Some("10")), // native min: 9 < 10
      ("s", 3L, 1L, 2L, Some("a"), Some("b")),
      ("v", 3L, 1L, 2L, Some("1.250000"), Some("2.500000"))))
  }

  test("profile canonicalizes decimal and date columns at fixed scale (ADVICE r5)") {
    val df = Seq(
      (java.math.BigDecimal.valueOf(12345, 2),   // 123.45
        java.sql.Date.valueOf("2024-03-07")),
      (java.math.BigDecimal.valueOf(-5, 1),      // -0.5
        java.sql.Date.valueOf("2023-11-30")))
      .toDF("d", "dt")
    val p = Profile.profile(df)
      .select("col_name", "min_s", "max_s")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2.get, r._3.get))).toMap
    // decimal renders at the canonical 6-dp scale, not its native scale
    assert(p("d") == (("-0.500000", "123.450000")), p)
    assert(p("dt") == (("2023-11-30", "2024-03-07")), p)
  }

  test("checks: planted violations surface with exact rates; one scan for all metrics") {
    import graft.operators.Checks
    val df = Seq(
      (Some(1L), 10.0), (Some(2L), 20.0), (Some(2L), -5.0), (None, 999.0))
      .toDF("k", "v")
    val report = Checks.run(df, Seq(
        Checks.complete("k_complete", $"k"),
        Checks.distinctness("k_distinct", $"k", threshold = 0.9),
        Checks.inRange("v_range", $"v", 0.0, 100.0)))
      .select("check", "metric", "passed")
      .as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(report("k_complete") == ((0.75, false)))   // 3 of 4 non-null
    // nulls are completeness's concern, not distinctness's: 2 distinct
    // of 3 NON-NULL rows (ADVICE r6)
    assert(report("k_distinct") == ((0.666667, false)))
    assert(report("v_range") == ((0.5, false)))       // 2 of 4 in [0,100]
    // vacuous inputs FAIL (0/0 → null metric → passed false), never pass
    val empty = Checks.run(df.filter($"v" > 1e9), Seq(
        Checks.complete("e_complete", $"k")))
      .select("passed").as[Boolean].head()
    assert(!empty, "empty table must fail the gate, not null through it")
    // all metrics ride one aggregate: the input scans exactly once
    val plan = Checks.run(df, Seq(
      Checks.complete("a", $"k"), Checks.inRange("b", $"v", 0, 1)))
      .queryExecution.executedPlan.toString
    assert("LocalTableScan".r.findAllIn(plan).length == 1, plan)

    val dim = Seq(1L, 3L).toDF("pk")
    val ri = Checks.refIntegrity(df, $"k", dim, $"pk", "k_in_dim")
      .select("metric", "passed").as[(Double, Boolean)].head()
    assert(ri == ((0.333333, false))) // non-null fks 1,2,2 → only 1 hits

    // uniqueness is once-only ROWS, not distinct values: of the 3
    // non-null k rows [1,2,2] only value 1 occurs once → 1/3
    val uq = Checks.uniqueness(df, $"k", "k_unique")
      .select("metric", "passed").as[(Double, Boolean)].head()
    assert(uq == ((0.333333, false)))
    // vacuous all-null column fails, never null-passes the gate
    val uqEmpty = Checks.uniqueness(df.filter($"k".isNull), $"k", "u")
      .select("passed").as[Boolean].head()
    assert(!uqEmpty)
  }

  test("checks verdict uses the unrounded rate: 0.9999995 != 1.0") {
    import graft.operators.Checks
    // 1999999/2000000 = 0.9999995 rounds to 1.000000 at 6 dp — the
    // REPORT metric shows 1.0 but the strict gate must still fail
    // (ADVICE r6: up to ~5e-8 violating rows must not sail through)
    val df = spark.range(2000000).toDF("id")
    val row = Checks.run(df, Seq(
        Checks.satisfies("all_positive", $"id" > 0, threshold = 1.0)))
      .select("metric", "passed").as[(Double, Boolean)].head()
    assert(row._1 == 1.0, "round-6 report metric")
    assert(!row._2, "verdict must come from the unrounded rate")
  }

  test("profile is a single job: one aggregate, no per-column scans") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("a", "b")
    val plan = Profile.profile(df).queryExecution.executedPlan.toString
    // multiple countDistinct plan through one Expand feeding one
    // aggregate chain — the scan must appear exactly once
    assert("LocalTableScan".r.findAllIn(plan).length == 1, plan)
  }

  test("collocations rank by count and score by exact rational lift") {
    val docs = Seq(
      (0L, "new york new york city"),
      (1L, "york new york is big"),
      (2L, "big city big city big")).toDF("doc_id", "text")
    val out = CorpusStats.collocations(docs, "text", 3)
      .orderBy("rank")
      .select("bg", "cnt", "lift")
      .as[(String, Long, Double)].collect().toSeq
    // token counts (15 total): new=3 york=4 city=3 big=4 is=1
    // "new york" appears 3× → lift = 3·15/(3·4) = 3.75
    assert(out.head == ("new york", 3L, 3.75))
    assert(out.map(_._1).distinct.length == 3)
  }

  test("collocations of a sub-2-token doc are empty, not an error") {
    val docs = Seq((0L, "solo"), (1L, "")).toDF("doc_id", "text")
    assert(CorpusStats.collocations(docs, "text", 5).count() == 0)
  }

  test("knnLabel takes the neighbor majority; ties go to the smallest label") {
    import graft.operators.Similarity
    // 1-d embeddings: queries at 0.1 and 0.9; corpus clustered around
    // each end with known labels
    val corpus = Seq(
      (100L, Seq(0.11f), 1), (101L, Seq(0.12f), 1), (102L, Seq(0.13f), 2),
      (103L, Seq(0.88f), 3), (104L, Seq(0.89f), 4), (105L, Seq(0.91f), 4))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((0L, Seq(0.1f), 0), (1L, Seq(0.9f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabel(queries, corpus,
        "vec_id", "embedding", "label", k = 3)
      .orderBy("query_id")
      .select("query_id", "pred_label", "n_votes")
      .as[(Long, Int, Long)].collect().toSeq
    // 1-d cosine of positive values is 1.0 everywhere → every corpus row
    // ties at sim 1.0 and the k=3 cut keeps the lowest neighbor ids:
    // query 0 → {100,101,102} → label 1 (2 votes);
    // query 1 → same neighbors → label 1 again
    assert(out == Seq((0L, 1, 2L), (1L, 1, 2L)))
  }

  test("balanceByHash cuts every stratum to the smallest stratum's size") {
    import graft.operators.Sampling
    val df = (1L to 30L).map(i => (i, if (i <= 20) "big" else "small"))
      .toDF("id", "cls")
    val kept = Sampling.balanceByHash(df, col("cls"), col("id"), seed = "s")
    val byCls = kept.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(byCls == Map("big" -> 10L, "small" -> 10L))
    // determinism: same seed → same membership
    val again = Sampling.balanceByHash(df, col("cls"), col("id"), seed = "s")
      .select("id").as[Long].collect().toSet
    assert(again == kept.select("id").as[Long].collect().toSet)
  }

  test("keySkew buckets by bit length (exact at powers of two)") {
    val df = (Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(7)("d")).toDF("k")
    val out = Profile.keySkew(df, "k")
      .select("bucket", "n_keys", "min_n", "max_n")
      .as[(Int, Long, Long, Long)].collect().toSeq
    // counts 1,2,4,7 → bit lengths 1,2,3,3
    assert(out == Seq((1, 1L, 1L, 1L), (2, 1L, 2L, 2L), (3, 2L, 4L, 7L)))
  }

  test("pqTopK ranks by reconstructed inner product and finds true neighbors") {
    import graft.operators.Similarity
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the declared config: m=16 trained — at m=4 a trained codebook
    // collapses each label cluster onto one code per subspace and
    // within-cluster ADC ranking turns to noise (measured r7)
    val pq = Similarity.pqTopK(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "embedding", k = 10, m = 16, trainIters = 2)
    val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "embedding", k = 10)
    // quantized recall@10 vs exact: a 16-centroid codebook is coarse,
    // but each query must still recover a decent share of true top-10
    val pqSet = pq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exSet = exact.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    for ((q, ex) <- exSet) {
      val rec = (pqSet(q) & ex).size
      assert(rec >= 2, s"query $q: PQ recall@10 = $rec/10 — codebook broken")
    }
    // self never appears as its own neighbor
    assert(pq.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("kmeansFitSub training monotonically shrinks quantization error") {
    import graft.operators.Similarity
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect()
    val m = 16; val subDim = vecs.head.length / m
    // total squared reconstruction error of the whole corpus under a
    // codebook: per subvector, distance to its NEAREST centroid (the
    // encode rule); Lloyd must not increase this on the train set
    def mse(cb: Seq[(Int, Long, Seq[Double])]): Double = {
      val byJ = cb.groupBy(_._1)
      vecs.map { v =>
        (0 until m).map { j =>
          val sv = v.slice(j * subDim, (j + 1) * subDim)
          byJ(j).map { case (_, _, cv) =>
            sv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
          }.min
        }.sum
      }.sum
    }
    val e0 = mse(Similarity.kmeansFitSub(emb, "vec_id", "embedding", m, 16, 0))
    val e1 = mse(Similarity.kmeansFitSub(emb, "vec_id", "embedding", m, 16, 1))
    val e2 = mse(Similarity.kmeansFitSub(emb, "vec_id", "embedding", m, 16, 2))
    assert(e1 < e0, s"iteration 1 must shrink error: $e1 vs $e0")
    assert(e2 <= e1, s"iteration 2 must not increase error: $e2 vs $e1")
  }

  test("knnLabel plan broadcasts the small frames — corpus side never sort-merges") {
    import graft.operators.Similarity
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Similarity.knnLabel(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "embedding", "label", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("rrfFuse: items missing from one list contribute zero, not null") {
    import graft.operators.Retrieval
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(a, b, "id").orderBy(col("rrf").desc)
      .select("id", "rrf").as[(Long, Double)].collect().toSeq
    // id 2: 1/62 + 1/61 = .032523; id 1: 1/61 = .016393; id 3: 1/62 = .016129
    assert(out.map(_._1) == Seq(2L, 1L, 3L))
    assert(out.head._2 == BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("incrementalNew drops batch docs colliding with the corpus or each other") {
    import graft.operators.Dedup
    val existing = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA   beta"),   // normalizes to an existing fingerprint
      (11L, "epsilon zeta"),   // genuinely new
      (12L, "epsilon zeta"),   // dup within the batch → keep 11 only
      (13L, "eta theta")).toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(existing, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("incrementalNew: null texts are incomparable — never vetoed, never collapsed") {
    import graft.operators.Dedup
    val existing = Seq((1L, Option("alpha")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val batch = Seq((10L, Option.empty[String]), (11L, Option.empty[String]),
      (12L, Option("beta"))).toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(existing, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // the existing null must not veto anything; both null batch rows
    // survive (not duplicates of each other), and beta is new
    assert(kept == Set(10L, 11L, 12L))
  }

  test("histogram bins in exact integer space: full range covered, edges stable") {
    val df = (0 to 99).map(i => Tuple1(i / 100.0 * 10)).toDF("value")
    val out = Profile.histogram(df, "value", k = 10)
      .select("bin", "n").as[(Int, Long)].collect().toSeq
    // 100 values 0.0..9.9 → 10 bins of 10
    assert(out == (0 to 9).map(b => (b, 10L)))
  }

  test("histogram puts the max value in the last bin, not an overflow bin") {
    val df = Seq(0.0, 5.0, 10.0).toDF("value")
    val bins = Profile.histogram(df, "value", k = 4)
      .select("bin").as[Int].collect().toSeq
    assert(bins.max == 3 && bins.min == 0)
  }

  test("exact-moment sigma agrees with stddev_samp (the formula, not the drift)") {
    val df = Seq(1.25, 2.50, 3.75, 10.00, 7.25).map(Tuple1(_)).toDF("value")
    val m = df.agg(
      sum(col("value").cast("decimal(18,2)")).cast("double").as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,4)")).cast("double").as("s2"),
      count(col("value")).as("cnt"),
      stddev_samp(col("value")).as("ref")).collect()(0)
    val (s1, s2, n) = (m.getDouble(0), m.getDouble(1), m.getLong(2))
    val sigma = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
    assert(math.abs(sigma - m.getDouble(3)) < 1e-9)
  }

  test("multiprobe LSH recall dominates single-bucket recall") {
    import graft.operators.Similarity
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = hits(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    val single = hits(Similarity.bucketedTopK(q, emb, "vec_id", "embedding", 5))
    val multi = hits(Similarity.multiprobeTopK(q, emb, "vec_id", "embedding", 5))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (k, ex) =>
        (approx.getOrElse(k, Set.empty) & ex).size.toDouble / ex.size }
      per.sum / per.size
    }
    assert(recall(multi) >= recall(single),
      s"multiprobe ${recall(multi)} < single ${recall(single)}")
    // probing 9 of 256 buckets must find strictly more candidates than 1
    assert(multi.values.map(_.size).sum >= single.values.map(_.size).sum)
  }

  test("pageRank fixed-point: a cycle is stationary at the initial mass") {
    import graft.operators.PageRank
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    // every node forwards 85% and restarts with 15%: a 1-regular cycle
    // keeps exactly scale = 10^12 per node, every iteration
    val s = PageRank.pageRank(edges, nodes, iters = 3)
      .select("score").as[Long].collect().toSeq
    assert(s == Seq.fill(3)(1000000000000L))
  }

  test("pageRank star: the hub accumulates its spokes' mass, spokes keep the base") {
    import graft.operators.PageRank
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val s = PageRank.pageRank(edges, nodes, iters = 2)
      .orderBy("id").select("id", "score").as[(Long, Long)].collect().toSeq
    // iter1: spokes → 1.5e11; hub = 1.5e11 + 2·(1e12·85 div 100) = 1.85e12
    // iter2: hub = 1.5e11 + 2·(1.5e11·85 div 100) = 4.05e11
    assert(s == Seq((1L, 150000000000L), (2L, 405000000000L),
      (3L, 150000000000L)))
  }

  test("results are AQE-invariant: plans may re-shape, rows may not") {
    // the determinism conventions promise results independent of
    // physical planning; flipping AQE is the cheapest planning shake.
    // EVERY declared query runs under both settings (r8 verdict #8) —
    // plan-shape-sensitive queries like q_stable_ids (two-phase offset
    // ids chained across partition counts) and q_pq_index (persisted
    // index re-read) could silently depend on AQE's runtime coalescing.
    val names = SparkEntry.queryOrder
    val sfDir = sf
    def run(): Map[String, Array[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, sfDir).collect().map(_.toString)
    }.toMap
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key)
    val on = run()
    try {
      spark.conf.set(key, "false")
      val off = run()
      val drifted = names.filterNot(n => on(n).sameElements(off(n)))
      assert(drifted.isEmpty, s"queries drifted under AQE flip: $drifted")
    } finally spark.conf.set(key, orig)
  }

  test("bigram LM surprisal matches the hand-computed add-1 model") {
    import graft.operators.LangModel
    // corpus: doc1 "a b", doc2 "a b a", doc3 "x" →
    //   uni: a=3, b=2, x=1 → V=3; bi: (a,b)=2, (b,a)=1
    //   P(b|a) = (2+1)/(3+3) → nll .693147
    //   P(a|b) = (1+1)/(2+3) → nll .916291
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x")).toDF("doc_id", "text")
    val got = LangModel.bigramNll(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nllAB = r6(-math.log(3.0 / 6.0))
    val nllBA = r6(-math.log(2.0 / 5.0))
    assert(got == Seq(
      (1L, 1L, nllAB),
      // exact decimal sum of the two rounded terms, then one division
      (2L, 2L, r6((BigDecimal(nllAB) + BigDecimal(nllBA)).toDouble / 2))),
      s"got $got")
    // doc3 has one token → no bigram → undefined fluency, absent (not 0)
    assert(!got.exists(_._1 == 3L))
  }

  test("cross-corpus LM smooths unseen bigrams and heads to the add-1 floor") {
    import graft.operators.LangModel
    // train "a b": uni a=1, b=1, V=2; bi (a,b)=1.
    // score "c a b": (c,a) unseen head+bigram → P = 1/(0+2);
    //                (a,b) seen → P = (1+1)/(1+2)
    val train = Seq((1L, "a b")).toDF("doc_id", "text")
    val score = Seq((4L, "c a b")).toDF("doc_id", "text")
    val got = LangModel.bigramNllAgainst(train, score, "doc_id", "text")
      .select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nllCA = r6(-math.log(1.0 / 2.0))
    val nllAB = r6(-math.log(2.0 / 3.0))
    assert(got == Seq(
      (4L, 2L, r6((BigDecimal(nllCA) + BigDecimal(nllAB)).toDouble / 2))),
      s"got $got")
  }

  test("interpolated LM mixes ML bigram with add-1 unigram at rational lambda") {
    import graft.operators.LangModel
    // corpus "a b", "a b a", "x": uni a=3, b=2, x=1 → V=3, N=6;
    // bigram (a,b): cb=2, c(a)=3 → P = .8·(2/3) + .2·(3/9)
    // bigram (b,a): cb=1, c(b)=2 → P = .8·(1/2) + .2·(4/9)
    val docs = Seq((1L, "a b"), (2L, "a b a"), (3L, "x")).toDF("doc_id", "text")
    val got = LangModel.bigramNllInterpolated(docs, docs, "doc_id", "text",
        lamNum = 8, lamDen = 10)
      .orderBy("doc_id").select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = (8 * (2.0 / 3) + 2 * (3.0 / 9)) / 10
    val pBA = (8 * (1.0 / 2) + 2 * (4.0 / 9)) / 10
    val nAB = r6(-math.log(pAB)); val nBA = r6(-math.log(pBA))
    assert(got == Seq(
      (1L, 1L, nAB),
      (2L, 2L, r6((BigDecimal(nAB) + BigDecimal(nBA)).toDouble / 2))),
      s"got $got")
    // unseen head backs off to pure unigram mass, never 0-probability
    val other = Seq((9L, "z a")).toDF("doc_id", "text")
    val off = LangModel.bigramNllInterpolated(docs, other, "doc_id", "text")
      .select("avg_nll").as[Double].head()
    assert(off == r6(-math.log(2 * (4.0 / 9) / 10)), s"got $off")
  }

  test("hash split is leak-proof: a key never lands on both sides") {
    import graft.operators.Sampling
    val rows = (1L to 50L).flatMap(u => Seq((u, u * 10), (u, u * 10 + 1)))
      .toDF("user_id", "event_id")
    val (tr, va) = Sampling.splitByHash(rows, col("user_id"), 0.5, "split")
    val overlap = tr.select("user_id").intersect(va.select("user_id")).count()
    assert(overlap == 0)
    assert(tr.count() + va.count() == 100)
  }

  test("majority vote picks the heaviest label, ties break to the smallest") {
    import graft.operators.Labels
    val votes = Seq(
      // ex 1: B wins 2-1
      (1L, "A"), (1L, "B"), (1L, "B"),
      // ex 2: tie A-B → smallest label A wins
      (2L, "A"), (2L, "B"),
      // ex 3: unanimous; a null vote is ignored
      (3L, "C"), (3L, "C"), (3L, null))
      .toDF("ex", "label")
    val got = Labels.majorityVote(votes, "ex", "label")
      .orderBy("ex")
      .select("ex", "label", "votes", "total_votes", "agreement")
      .as[(Long, String, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, "B", 2.0, 3.0, 0.666667),
      (2L, "A", 1.0, 2.0, 0.5),
      (3L, "C", 2.0, 2.0, 1.0)), s"got $got")
  }

  test("weighted vote: reliability outweighs headcount") {
    import graft.operators.Labels
    val votes = Seq(
      (1L, "A", 1.0), (1L, "A", 1.0), (1L, "B", 5.0))
      .toDF("ex", "label", "w")
    val got = Labels.majorityVote(votes, "ex", "label", Some(col("w")))
      .select("label", "votes", "total_votes").as[(String, Double, Double)]
      .head()
    assert(got == (("B", 5.0, 7.0)))
  }

  test("weighted vote: a label carried only by NULL weights cannot win (ADVICE r9)") {
    import graft.operators.Labels
    // "Z" outnumbers "A" 2:1 but both its weights are NULL — its vote
    // sum would be NULL, whose negated struct field sorts FIRST
    // ascending, so the unfixed min_by crowned the weightless label
    val votes = Seq(
      (1L, "A", Some(1.0)), (1L, "Z", None), (1L, "Z", None))
      .toDF("ex", "label", "w")
    val got = Labels.majorityVote(votes, "ex", "label", Some(col("w")))
      .select("label", "votes", "total_votes")
      .as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 1.0, 1.0)))
  }

  test("q_cuped: adjustment is variance-reducing and arm-mean-preserving on average") {
    val r = SparkEntry.queries("q_cuped")(spark, sf)
      .as[(Int, Long, Double, Double, Double, Double)].collect().toSeq
    assert(r.map(_._1) == Seq(0, 1), "one row per arm")
    r.foreach { case (arm, n, meanPost, meanAdj, theta, varRed) =>
      assert(n > 1, s"arm $arm too small")
      // pre-activity predicts post-activity on this data, so CUPED
      // must strictly help — and can never hurt by construction
      // (theta is the pooled OLS minimizer)
      assert(varRed > 0.0 && varRed <= 1.0, s"arm $arm var_reduction $varRed")
      assert(theta == r.head._5, "theta is pooled, identical across arms")
      // adjustment re-centers by the POOLED pre mean, so each arm's
      // shift is bounded by theta times its pre-mean offset — sanity:
      // the adjusted mean stays within 50% of the raw mean's scale
      assert(math.abs(meanAdj - meanPost) < math.abs(meanPost) * 0.5 + 1.0,
        s"arm $arm adjusted mean $meanAdj implausibly far from $meanPost")
    }
  }

  test("q_mixture_plan: weights normalize, planned tokens respect the budget") {
    val r = SparkEntry.queries("q_mixture_plan")(spark, sf)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSeq
    assert(r.nonEmpty)
    val wSum = r.map(_._4).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    assert(r.map(_._5).sum <= 1000000L, "floor'd plan never exceeds the budget")
    r.foreach { case (src, nDocs, tok, w, planned, epochs) =>
      assert(nDocs > 0 && tok > 0 && w > 0)
      assert(planned == math.floor(w * 1000000).toLong)
      assert(math.abs(epochs - planned.toDouble / tok) < 1e-5)
    }
    // temperature flattens: the largest source's weight share is below
    // its raw token share, the smallest's above
    val big = r.maxBy(_._3); val small = r.minBy(_._3)
    val tokAll = r.map(_._3).sum.toDouble
    assert(big._4 < big._3 / tokAll, "alpha=0.5 must down-weight the head")
    assert(small._4 > small._3 / tokAll, "alpha=0.5 must up-weight the tail")
  }

  test("aucRankSum: hand-computed AUC with average-rank ties") {
    import graft.operators.Eval
    // ascending: 0.2(−) r1, {0.5(+), 0.5(−)} avg rank 2.5, 0.8(+) r4
    // R_pos = 2.5 + 4 = 6.5; U = 6.5 − 2·3/2 = 3.5; AUC = 3.5/4
    val df = Seq((0.5, true), (0.5, false), (0.2, false), (0.8, true))
      .toDF("s", "y")
    val r = Eval.aucRankSum(df, col("s"), col("y"))
      .as[(Long, Long, Double)].head()
    assert(r == ((2L, 2L, 0.875)))
  }

  test("aucRankSum: perfect separation and pure noise anchor at 1 and 1/2") {
    import graft.operators.Eval
    val perfect = Seq((0.1, false), (0.2, false), (0.3, true), (0.4, true))
      .toDF("s", "y")
    assert(Eval.aucRankSum(perfect, col("s"), col("y"))
      .select("auc").as[Double].head() == 1.0)
    // all scores identical: every pair is a tie → AUC exactly 1/2
    val flat = Seq((0.7, true), (0.7, false), (0.7, true), (0.7, false))
      .toDF("s", "y")
    assert(Eval.aucRankSum(flat, col("s"), col("y"))
      .select("auc").as[Double].head() == 0.5)
  }

  test("aucRankSum fails loudly on out-of-[0,1] scores (VERDICT r10 #3)") {
    import graft.operators.Eval
    // The precision bound on the rank window holds only for [0,1]
    // scores; an unbounded score (raw counts, logits) must fail the
    // job, not silently re-create a data-sized one-task sort.
    val logits = Seq((3.7, true), (-1.2, false), (0.5, true))
      .toDF("s", "y")
    val ex = intercept[Exception] {
      Eval.aucRankSum(logits, col("s"), col("y")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("out of [0,1]")), msgs(ex).mkString("; "))
    // boundary values and NULLs stay in-contract
    val edge = Seq((Some(0.0), false), (Some(1.0), true), (None, true))
      .toDF("s", "y")
    val r = Eval.aucRankSum(edge, col("s"), col("y"))
      .select("n_pos", "n_neg").as[(Long, Long)].head()
    assert(r == ((2L, 1L)))
  }

  test("bootstrapMeanCI keeps fractional metrics exact (ADVICE r10)") {
    import graft.operators.Eval
    // The old long cast collapsed a [0,1]-valued metric to all zeros
    // → degenerate [0,0] CI. With decimal accumulation the interval
    // must bracket values of the metric's real magnitude.
    val df = (0 until 200).map(i => ("g", i.toLong, 0.4 + (i % 10) / 50.0))
      .toDF("src", "id", "score")
    val r = Eval.bootstrapMeanCI(df, col("src"), col("id"), col("score"))
      .as[(String, Long, Double, Double)].head()
    assert(r._3 > 0.3 && r._4 < 0.7 && r._3 <= r._4,
      s"CI [${r._3}, ${r._4}] must bracket the ~0.49 mean, not collapse to 0")
  }

  test("calibrationBins: hand-computed bins, 1.0 clamps into the top bin") {
    import graft.operators.Eval
    val df = Seq((0.05, false), (0.15, true), (0.95, true), (1.0, true))
      .toDF("p", "y")
    val r = Eval.calibrationBins(df, col("p"), col("y"))
      .orderBy("bin")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(r == Seq(
      (0, 1L, 0.05, 0.0, 0.05),
      (1, 1L, 0.15, 1.0, 0.85),
      (9, 2L, 0.975, 1.0, 0.025)))
  }

  test("bootstrapMeanCI: deterministic, ordered, group-complete") {
    import graft.operators.Eval
    val docs = Tables.documents(spark, sf).limit(300)
    def ci() = Eval.bootstrapMeanCI(docs, col("source"), col("doc_id"),
        col("n_chars"))
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    val a = ci()
    assert(a == ci(), "hash bootstrap must replay identically")
    assert(a.map(_._1) == a.map(_._1).sorted && a.nonEmpty)
    a.foreach { case (g, nReps, lo, hi) =>
      assert(nReps == 32L, s"$g: $nReps replicates")
      assert(lo <= hi, s"$g: interval inverted [$lo, $hi]")
    }
  }

  test("bradleyTerry fails fast past the pair-collect cap (ADVICE r9)") {
    import graft.operators.Labels
    // 3 players generate 6 symmetric distinct pairs > maxPairs = 2;
    // the limit bounds the collect itself, the require names the dial
    val m = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("w", "l")
    val ex = intercept[IllegalArgumentException] {
      Labels.bradleyTerry(m, "w", "l", maxPairs = 2)
    }
    assert(ex.getMessage.contains("maxPairs"))
  }

  test("preference pairs: margin gate and singleton groups drop out") {
    import graft.operators.Labels
    val responses = Seq(
      // prompt 1: clear margin 9
      (1L, 10L, 1.0), (1L, 11L, 5.0), (1L, 12L, 10.0),
      // prompt 2: margin 0.5 < gate
      (2L, 20L, 4.5), (2L, 21L, 5.0),
      // prompt 3: singleton — no pair
      (3L, 30L, 7.0),
      // prompt 4: all-tied scores — ids break the tie, margin 0 < gate
      (4L, 40L, 2.0), (4L, 41L, 2.0))
      .toDF("prompt", "resp", "reward")
    val got = Labels.preferencePairs(responses, "prompt", "resp", "reward",
        minMargin = 1.0)
      .select("prompt", "chosen_id", "rejected_id", "margin")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 12L, 10L, 9.0)), s"got $got")
  }

  test("dsir: target-like docs carry higher weights than off-domain docs") {
    import graft.operators.LangModel
    // target style: "a b" bigrams; off-domain: "x y" bigrams
    val corpus = Seq(
      (1L, "a b a b a b"), (2L, "a b a b"), (3L, "x y x y x y"))
      .toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") <= 2)
    val w = LangModel.dsirWeights(corpus, target, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "weight").as[(Long, Double)].collect().toSeq
    val byId = w.toMap
    // docs 1-2 match the target LM → weight above the off-domain doc 3
    assert(byId(1L) > byId(3L) && byId(2L) > byId(3L), s"got $w")
    // weights are probabilities
    assert(w.forall { case (_, p) => p > 0.0 && p <= 1.0 }, s"got $w")
  }

  test("dsir self-target degenerates to the base rate") {
    import graft.operators.LangModel
    val corpus = Seq((1L, "a b c"), (2L, "b c a")).toDF("doc_id", "text")
    // target == corpus → nll_raw == nll_target → logw 0, weight = base·e⁰
    val w = LangModel.dsirWeights(corpus, corpus, "doc_id", "text",
        baseRate = 0.5)
      .select("logw", "weight").as[(Double, Double)].collect().toSeq
    assert(w.forall(_ == ((0.0, 0.5))), s"got $w")
  }

  test("random projection: hand-computed signs and exact integer output") {
    import graft.functions.VectorFns
    val vecs = Seq((1L, Seq(0.5f, -0.25f)), (2L, Seq(0.5f, -0.25f)))
      .toDF("vec_id", "v")
    val proj = vecs.select(col("vec_id"),
        VectorFns.randomProject(col("v"), 2, 3, "t").as("p"))
      .orderBy("vec_id")
      .select("vec_id", "p").as[(Long, Seq[Long])].collect().toSeq
    val signs = (0 until 3).map(j =>
      (0 until 2).map(i => VectorFns.projSign("t", j, i)))
    val fix = Seq(500000L, -250000L)
    val expect = (0 until 3).map(j =>
      signs(j)(0) * fix(0) + signs(j)(1) * fix(1))
    // identical vectors project identically; values match the driver math
    assert(proj.map(_._2) == Seq(expect, expect), s"got $proj vs $expect")
  }

  test("projected top-k ranks by exact sketch dot with id tie-breaks") {
    import graft.operators.Similarity
    // corpus of near-copies of the query + one far vector
    val q = Seq((0L, Seq.fill(8)(1.0f))).toDF("id", "v")
    val corpus = Seq(
      (0L, Seq.fill(8)(1.0f)),
      (1L, Seq.fill(8)(1.0f)),           // same as query
      (2L, Seq.fill(8)(0.9f)),
      (3L, Seq.fill(8)(-1.0f)))          // anti-aligned
      .toDF("id", "v")
    val got = Similarity.projectedTopK(corpus, q, "id", "v",
        inDim = 8, outDim = 4, k = 3, seed = "t")
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
      .sortBy(_._2)
    // self (id 0) is excluded; exact copy ranks first, anti-aligned last
    assert(got.map(_._1) == Seq(1L, 2L, 3L), s"got $got")
  }

  test("cross-source overlap counts shared distinct grams, capped grams drop") {
    import graft.operators.Dedup
    val docs = Seq(
      ("s1", "alpha beta gamma delta"),   // grams: abg, bgd
      ("s2", "alpha beta gamma other"),   // shares "alpha beta gamma"
      ("s3", "unrelated words entirely x"))
      .toDF("source", "text")
    val got = Dedup.crossSourceOverlap(docs, "text", "source")
      .select("source_a", "source_b", "n_shared")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("s1", "s2", 1L)), s"got $got")
    // a gram in every source vanishes at maxSources = 2
    val all3 = Seq(("s1", "x y z"), ("s2", "x y z"), ("s3", "x y z"))
      .toDF("source", "text")
    assert(Dedup.crossSourceOverlap(all3, "text", "source",
      maxSources = 2).count() == 0)
    assert(Dedup.crossSourceOverlap(all3, "text", "source",
      maxSources = 3).count() == 3) // all three pairs share the gram
  }

  test("bradley-terry: undefeated player tops, winless player floors") {
    import graft.operators.Labels
    // a beats b twice, b beats c twice, a beats c once
    val m = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("b", "c"), ("a", "c"))
      .toDF("w", "l")
    val got = Labels.bradleyTerry(m, "w", "l", iters = 3)
      .orderBy(col("rating").desc, col("player"))
      .select("player", "wins", "losses", "rating")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq("a", "b", "c"), s"got $got")
    assert(got.head._4 == 1.0, s"max-normalized top rating: $got")
    val byP = got.map(g => g._1 -> g).toMap
    assert(byP("a")._2 == 3 && byP("a")._3 == 0)
    assert(byP("c")._2 == 0 && byP("c")._3 == 3)
    // winless rating collapses to the floor (may round to 0 at 6 dp
    // after max-normalization — the 1e-6 floor protects the MID-
    // iteration divisions, not the display value)
    assert(byP("c")._4 >= 0.0 && byP("c")._4 < byP("b")._4)
    assert(byP("b")._4 < byP("a")._4)
  }

  test("bradley-terry self-matches and nulls are ignored") {
    import graft.operators.Labels
    val m = Seq(("a", "a"), ("a", "b"), (null, "b"), ("b", null))
      .toDF("w", "l")
    val got = Labels.bradleyTerry(m, "w", "l", iters = 2)
      .select("player", "wins", "losses").as[(String, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq(("a", 1L, 0L), ("b", 0L, 1L)), s"got $got")
  }

  test("label propagation fills unlabeled nodes from seeded neighbors") {
    import graft.operators.Labels
    // two tight clusters in 2D; one seed per cluster
    val pts = Seq(
      (1L, Seq(1.0f, 0.1f), 7),  (2L, Seq(1.0f, 0.2f), 7),
      (3L, Seq(0.9f, 0.1f), 7),
      (10L, Seq(-1.0f, -0.1f), 3), (11L, Seq(-1.0f, -0.2f), 3),
      (12L, Seq(-0.9f, -0.1f), 3))
      .toDF("id", "v", "label")
    // seed only ids 1 and 10
    val got = Labels.labelPropagate(pts, "id", "v", "label",
        col("id") === 1L || col("id") === 10L,
        k = 2, nBits = 2, rounds = 2)
      .orderBy("id")
      .select("id", "is_seed", "label")
      .as[(Long, Boolean, Option[Int])].collect().toSeq
    assert(got == Seq(
      (1L, true, Some(7)), (2L, false, Some(7)), (3L, false, Some(7)),
      (10L, true, Some(3)), (11L, false, Some(3)), (12L, false, Some(3))),
      s"got $got")
  }

  test("label propagation clamps seeds against hostile neighborhoods") {
    import graft.operators.Labels
    // a seeded node surrounded by opposite-labeled seeds keeps its label
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.01f), 2),
      (3L, Seq(1.0f, -0.01f), 2), (4L, Seq(0.99f, 0.0f), 2))
      .toDF("id", "v", "label")
    val got = Labels.labelPropagate(pts, "id", "v", "label",
        lit(true), k = 3, nBits = 2, rounds = 2)
      .filter(col("id") === 1L)
      .select("label").as[Int].head()
    assert(got == 1)
  }

  test("bm25 saturates tf and penalizes long documents") {
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "cat"),                                        // short, tf 1
      (2L, "cat cat cat cat cat cat cat cat cat cat"),    // tf 10
      (3L, ("cat " + "filler " * 99).trim))               // tf 1, long
      .toDF("doc_id", "text")
    val got = Retrieval.bm25Search(docs, "doc_id", "text", Seq("cat"), 3)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    val byId = got.toMap
    // tf 10 beats tf 1, but at far less than 10x (saturation)
    assert(byId(2L) > byId(1L) && byId(2L) < 10 * byId(1L), s"got $got")
    // same tf, longer doc scores lower (length normalization)
    assert(byId(3L) < byId(1L), s"got $got")
  }

  test("persisted keyword index: build+append probe ≡ direct bm25Search (r11)") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf).filter($"doc_id" < 120)
    val dir = s"/tmp/graft_kwidx_spec_${java.util.UUID.randomUUID()}"
    // split the corpus across build and append: totals/df/dl must fold
    // back to exactly the whole-corpus statistics
    Retrieval.buildKeywordIndex(docs.filter($"doc_id" < 60),
      "doc_id", "text", dir)
    Retrieval.appendToKeywordIndex(docs.filter($"doc_id" >= 60),
      "doc_id", "text", dir, batchId = 0L)
    val terms = Seq("vector", "hash", "window", "stream")
    val got = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id", terms, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    val want = Retrieval.bm25Search(docs, "doc_id", "text", terms, 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    assert(got == want && want.nonEmpty,
      s"index roundtrip must be score-identical:\n got $got\nwant $want")
  }

  test("keyword index serves tf-idf too: probe ≡ direct tfidfSearch (r11)") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf).filter($"doc_id" < 120)
    val dir = s"/tmp/graft_kwidx_spec2_${java.util.UUID.randomUUID()}"
    Retrieval.buildKeywordIndex(docs, "doc_id", "text", dir)
    val terms = Seq("vector", "hash", "window", "stream")
    val got = Retrieval.tfidfSearchFromIndex(spark, dir, "doc_id", terms, 10)
      .select("doc_id", "score").as[(Long, Long)].collect().toSeq
    val want = Retrieval.tfidfSearch(docs, "doc_id", "text", terms, 10)
      .select("doc_id", "score").as[(Long, Long)].collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("keyword index build splits a Zipf hot term across range " +
      "partitions (r12, VERDICT r11 weak #1)") {
    import graft.operators.Retrieval
    // every doc carries the stopword 'the' plus one unique rare term —
    // the Zipf shape. A hash repartition(term) would land ALL 'the'
    // postings (half the table) in ONE task and one file; the
    // composite (term, id) range layout must split them across files
    // while keeping rare-term probes identical.
    val docs = (0L until 512L).map(i => (i, s"the w$i"))
      .toDF("doc_id", "text")
    val dir = s"/tmp/graft_kwidx_zipf_${java.util.UUID.randomUUID()}"
    // AQE's small-data partition coalescing folds a 1024-row shuffle
    // to one partition and hides the layout under test; at real scale
    // it SIZES partitions by bytes instead (the hot term spans many).
    // Pin coalescing off for the build only, to observe the declared
    // range layout at toy scale.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      Retrieval.buildKeywordIndex(docs, "doc_id", "text", dir)
    } finally spark.conf.set(coalesceKey, prev)
    val hotFiles = spark.read.parquet(s"$dir/postings")
      .filter($"term" === "the")
      .select(input_file_name()).distinct().count()
    assert(hotFiles >= 2,
      s"hot term landed in $hotFiles file(s) — the straggler layout")
    // rows per file stay balanced: no file holds more than half the
    // hot term's postings (512 rows would all share one task before)
    val maxPerFile = spark.read.parquet(s"$dir/postings")
      .filter($"term" === "the")
      .groupBy(input_file_name()).count()
      .agg(max("count")).as[Long].head()
    assert(maxPerFile <= 256, s"one file holds $maxPerFile hot postings")
    // and the probe is still score-identical to the direct search
    val got = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
      Seq("w7", "w300"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSeq
    val want = Retrieval.bm25Search(docs, "doc_id", "text",
      Seq("w7", "w300"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSeq
    assert(got == want && want.nonEmpty, s"\n got $got\nwant $want")
  }

  test("keyword index maxDf cap prunes ubiquitous terms, keeps " +
      "doclens and rare-term ranking intact (r12)") {
    import graft.operators.Retrieval
    val docs = (0L until 64L).map(i => (i, s"the the w$i"))
      .toDF("doc_id", "text")
    val capped = s"/tmp/graft_kwidx_cap_${java.util.UUID.randomUUID()}"
    val full = s"/tmp/graft_kwidx_nocap_${java.util.UUID.randomUUID()}"
    Retrieval.buildKeywordIndex(docs, "doc_id", "text", capped,
      maxDf = Some(10L))
    Retrieval.buildKeywordIndex(docs, "doc_id", "text", full)
    // the stopword's postings are gone; rare terms survive
    val terms = spark.read.parquet(s"$capped/postings")
      .select("term").distinct().as[String].collect().toSet
    assert(!terms.contains("the") && terms.contains("w3"), s"got $terms")
    // doclens still count the capped term (length normalization is a
    // property of the DOC, not of which terms the index serves)
    val dl = spark.read.parquet(s"$capped/doclens")
      .filter($"doc_id" === 0L).select("dl").as[Long].head()
    assert(dl == 3L, s"dl=$dl")
    // rare-term probes rank identically against capped and full index
    val got = Retrieval.bm25SearchFromIndex(spark, capped, "doc_id",
      Seq("w3", "w9"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSeq
    val want = Retrieval.bm25SearchFromIndex(spark, full, "doc_id",
      Seq("w3", "w9"), 5).select("doc_id", "score")
      .as[(Long, Double)].collect().toSeq
    assert(got == want && want.nonEmpty, s"\n got $got\nwant $want")
  }

  test("ngram novelty: unique text scores 1, a copy zeroes both twins") {
    import graft.operators.CorpusStats
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),     // exact copy of 1
      (3L, "entirely different words here"))
      .toDF("doc_id", "text")
    val got = CorpusStats.ngramNovelty(docs, "doc_id", "text", 3)
      .orderBy("id").select("id", "novelty")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 0.0), (2L, 0.0), (3L, 1.0)), s"got $got")
  }

  test("dedup-aware split keeps every paired doc on one side") {
    import graft.operators.Sampling
    val docs = (1L to 40L).toDF("doc_id")
    // chain pairs (1,2)(2,3) → cluster {1,2,3}; (10,11); rest singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Sampling.splitDedupAware(docs, "doc_id", pairs, "a", "b",
        leftFraction = 0.5, seed = "t")
      .select("doc_id", "split_key", "split")
      .as[(Long, Long, String)].collect().toSeq
    val byId = got.map(g => g._1 -> g).toMap
    // whole cluster shares the min-id key and therefore the side
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    assert(byId(10L)._3 == byId(11L)._3 && byId(10L)._2 == 10L)
    // unpaired docs key on themselves and both sides are populated
    assert(byId(40L)._2 == 40L)
    assert(got.map(_._3).distinct.toSet == Set("train", "eval"))
  }

  test("ivf append: probes find appended vectors without retraining") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    // two obvious clusters; index built WITHOUT vector 100
    val corpus = Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(3, 0.95, 0.05),
      mk(10, 0.0, 1.0), mk(11, 0.1, 0.9), mk(12, 0.05, 0.95))
      .toDF("id", "v")
    Similarity.buildIvfIndex(corpus, "id", "v", dir, nCells = 2,
      trainIters = 2)
    // new batch lands in the x-cluster's cell
    val batch = Seq(mk(100, 0.98, 0.02)).toDF("id", "v")
    Similarity.appendToIvfIndex(batch, "id", "v", dir, batchId = 0L)
    val got = Similarity.ivfTopKFromIndex(
        Seq(mk(1, 1.0, 0.0)).toDF("id", "v"), dir, "id", "v",
        k = 4, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.contains(100L), s"appended vector missing from probe: $got")
    assert(!got.contains(1L), "self must stay excluded")
  }

  test("staged IVF retrain: garbage stage discarded, retrain swaps in " +
      "whole, a marked crashed stage is recovered (r12)") {
    import graft.operators.{IndexLayout, Similarity}
    val root = java.nio.file.Files.createTempDirectory("ivf_rebuild").toString
    val dir = s"$root/idx"
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    val v1 = Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
      mk(11, 0.1, 0.9)).toDF("id", "v")
    Similarity.buildIvfIndex(v1, "id", "v", dir, nCells = 2, trainIters = 2)
    def probe() = Similarity.ivfTopKFromIndex(
        Seq(mk(99, 1.0, 0.0)).toDF("id", "v"), dir, "id", "v",
        k = 10, nProbe = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(probe() == Set(1L, 2L, 10L, 11L))
    // a pre-marker crash left an UNMARKED stage — garbage, discarded
    assert(new java.io.File(s"${dir}__staged/centroids").mkdirs())
    val v2 = v1.union(Seq(mk(50, 0.7, 0.7)).toDF("id", "v"))
    Similarity.rebuildIvfIndex(v2, "id", "v", dir, nCells = 2,
      trainIters = 2)
    assert(probe() == Set(1L, 2L, 10L, 11L, 50L),
      "retrained index must serve the new corpus")
    assert(!new java.io.File(s"${dir}__staged").exists(),
      "stage must be gone after the swap")
    // a post-marker crash with live still standing: the stage, though
    // durable, is DISCARDED — live may hold appends from after the
    // crash, and the retrain is re-derivable (recoverCompact's rule)
    val v3 = Seq(mk(7, 0.5, 0.5)).toDF("id", "v")
    Similarity.buildIvfIndex(v3, "id", "v", s"$root/stagebuild",
      nCells = 1, trainIters = 1)
    assert(new java.io.File(s"$root/stagebuild")
      .renameTo(new java.io.File(s"${dir}__staged")))
    new java.io.File(s"${dir}__staged/_STAGED").createNewFile()
    IndexLayout.recoverCompact(spark, dir)
    assert(probe() == Set(1L, 2L, 10L, 11L, 50L),
      "live must win over a stale marked stage")
    assert(!new java.io.File(s"${dir}__staged").exists(),
      "stale marked stage must be discarded")
    // the MID-SWAP crash (live already deleted): the marked stage is
    // the sole surviving copy — recovery must finish the rename
    Similarity.buildIvfIndex(v3, "id", "v", s"$root/stagebuild2",
      nCells = 1, trainIters = 1)
    assert(new java.io.File(s"$root/stagebuild2")
      .renameTo(new java.io.File(s"${dir}__staged")))
    new java.io.File(s"${dir}__staged/_STAGED").createNewFile()
    IndexLayout.clear(spark, dir) // the mid-swap state: live is gone
    IndexLayout.recoverCompact(spark, dir)
    assert(probe() == Set(7L),
      "a mid-swap crash's marked stage must become the live index")
  }

  test("semdedup against index: corpus + earlier-batch matches flagged, " +
      "keep-lowest-id orientation, replay-safe exclusion (r12)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("semdedup_idx").toString
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(10, 1.0, 0.0), mk(11, 0.9, 0.1), mk(12, 0.95, 0.05),
      mk(20, 0.0, 1.0), mk(21, 0.1, 0.9), mk(22, 0.05, 0.95))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir,
      nCells = 2, trainIters = 2)
    // 1 near-copies the corpus x-cluster; 2 is novel; 3 near-copies 2
    val batch = Seq(mk(1, 0.99, 0.01), mk(2, 0.6, 0.8), mk(3, 0.61, 0.79))
      .toDF("vec_id", "embedding")
    def probe(excl: Option[Long]) = Similarity.semDedupAgainstIndex(
        batch, dir, "vec_id", "embedding", threshold = 0.98,
        excludeBatchId = excl)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairs = probe(None)
    assert(pairs.map(_._2) == Set(1L, 3L),
      s"flagged batch docs (id_b) wrong: $pairs")
    assert(pairs.contains((2L, 3L)),
      s"within-batch keep-lowest-id pair (2,3) missing: $pairs")
    // replay contract: the batch's own appended partition must be
    // invisible to its probe — same pairs as before the append
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir,
      batchId = 7L)
    assert(probe(Some(7L)) == pairs, "replay saw its own prior append")
  }

  test("keyword index compaction: probe-identical, file count " +
      "collapses, garbage stage discarded (r12, VERDICT r11 #7)") {
    import graft.operators.{IndexLayout, Retrieval}
    val docs = Tables.documents(spark, sf).filter($"doc_id" < 120)
    val dir = s"/tmp/graft_kwidx_compact_${java.util.UUID.randomUUID()}"
    Retrieval.buildKeywordIndex(docs.filter($"doc_id" < 40),
      "doc_id", "text", dir)
    Retrieval.appendToKeywordIndex(docs.filter($"doc_id" >= 40 &&
      $"doc_id" < 80), "doc_id", "text", dir, batchId = 0L)
    Retrieval.appendToKeywordIndex(docs.filter($"doc_id" >= 80),
      "doc_id", "text", dir, batchId = 1L)
    val terms = Seq("vector", "hash", "window", "stream")
    def probe() = Retrieval.bm25SearchFromIndex(spark, dir, "doc_id",
      terms, 10).select("doc_id", "score").as[(Long, Double)]
      .collect().toSeq
    val before = probe()
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/postings")
    // a crashed previous compact left an UNMARKED stage — recovery
    // must discard it, not swap garbage in
    val garbage = new java.io.File(s"$dir/postings__staged/batch_id=-1")
    garbage.mkdirs()
    Retrieval.compactKeywordIndex(spark, dir, "doc_id")
    val after = probe()
    assert(after == before && before.nonEmpty,
      s"compaction changed scores:\n$before\n$after")
    val filesAfter = IndexLayout.dataFileCount(spark, s"$dir/postings")
    assert(filesAfter < filesBefore,
      s"postings files: $filesBefore -> $filesAfter (no collapse)")
    assert(IndexLayout.dataFileCount(spark, s"$dir/totals") == 1,
      "totals must fold to one file")
    assert(!new java.io.File(s"$dir/postings__staged").exists(),
      "stage dir must not survive")
  }

  test("keyword index durable maxDf: a build-capped term stays absent " +
      "across appends, a crossing term is tombstoned and compact " +
      "sheds it, replay is idempotent (r13, VERDICT r12 #2)") {
    import graft.operators.Retrieval
    val dir = s"/tmp/graft_kwidx_maxdf_${java.util.UUID.randomUUID()}"
    // "common" df=8 > cap=5 → build-pruned+tombstoned; "warm" df=4 ≤ 5
    val build = (1 to 8).map(i =>
        (i.toLong, s"common token$i" + (if (i <= 4) " warm" else "")))
      .toDF("doc_id", "text")
    Retrieval.buildKeywordIndex(build, "doc_id", "text", dir,
      maxDf = Some(5L))
    def hits(term: String) = Retrieval.bm25SearchFromIndex(spark, dir,
      "doc_id", Seq(term), 20).select("doc_id").as[Long].collect().toSet
    assert(hits("common").isEmpty, "build-capped term must be absent")
    assert(hits("warm") == Set(1L, 2L, 3L, 4L), "under-cap term kept")
    // append re-introduces "common" (tombstoned → must stay absent,
    // NOT resurrect at batch-local df), adds "fresh", and pushes
    // "warm" over the cap (4 + 2 = 6 > 5 → batch rows dropped,
    // tombstoned; standing rows keep serving until compact)
    val batch = Seq((11L, "common fresh warm"), (12L, "common fresh warm"))
      .toDF("doc_id", "text")
    Retrieval.appendToKeywordIndex(batch, "doc_id", "text", dir,
      batchId = 0L)
    assert(hits("common").isEmpty,
      "append resurrected a build-capped term (the inverted-idf bug)")
    assert(hits("fresh") == Set(11L, 12L), "novel under-cap term kept")
    assert(hits("warm") == Set(1L, 2L, 3L, 4L),
      "crossing term must freeze its standing postings, not grow")
    // at-least-once replay: same batchId re-judges against the state
    // the first attempt saw and overwrites its partitions — no change
    Retrieval.appendToKeywordIndex(batch, "doc_id", "text", dir,
      batchId = 0L)
    assert(hits("common").isEmpty && hits("fresh") == Set(11L, 12L) &&
      hits("warm") == Set(1L, 2L, 3L, 4L), "replay changed the index")
    // compaction heals the crossing term: folded df honors tombstones
    Retrieval.compactKeywordIndex(spark, dir, "doc_id")
    assert(hits("warm").isEmpty,
      "compact must shed a tombstoned term's standing postings")
    assert(hits("common").isEmpty, "tombstone must survive compaction")
    assert(hits("fresh") == Set(11L, 12L), "compact dropped a live term")
    // a post-compact append still honors the folded tombstones
    Retrieval.appendToKeywordIndex(
      Seq((13L, "common warm again")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 1L)
    assert(hits("common").isEmpty && hits("warm").isEmpty,
      "tombstones must keep binding after compaction")
    assert(hits("again") == Set(13L))
  }

  test("keyword index compact TOMBSTONES the over-cap terms it sheds — " +
      "no post-compact resurrection at batch-local df (r14, ADVICE " +
      "r13)") {
    import graft.operators.Retrieval
    val dir = s"/tmp/graft_kwidx_healtomb_${java.util.UUID.randomUUID()}"
    // build: "hot" df=2 ≤ cap=3 — legitimately kept, never tombstoned
    Retrieval.buildKeywordIndex(
      Seq((1L, "hot alpha"), (2L, "hot beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, maxDf = Some(3L))
    def hits(term: String) = Retrieval.bm25SearchFromIndex(spark, dir,
      "doc_id", Seq(term), 20).select("doc_id").as[Long].collect().toSet
    assert(hits("hot") == Set(1L, 2L))
    // two UNLOCKED appends racing the same term each judge
    // index(2)+self(1) = 3 ≤ cap while their union is 4 > cap — no
    // append tombstones it. Simulate the race's outcome by landing the
    // second batch's partition directly (its first-attempt judgment
    // frame didn't see the first batch).
    Retrieval.appendToKeywordIndex(
      Seq((10L, "hot gamma")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 0L)
    Seq((11L, "hot", 1L)).toDF("doc_id", "term", "tf")
      .write.mode("overwrite").parquet(s"$dir/postings/batch_id=1")
    Seq((11L, 2L)).toDF("doc_id", "dl")
      .write.mode("overwrite").parquet(s"$dir/doclens/batch_id=1")
    Seq((1L, 2L)).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$dir/totals/batch_id=1")
    // folded total df("hot") = 4 > 3: compact must shed the postings
    // AND write the tombstone the racing appends never did
    Retrieval.compactKeywordIndex(spark, dir, "doc_id")
    assert(hits("hot").isEmpty, "compact kept an over-cap term")
    val tombs = spark.read.parquet(s"$dir/pruned")
      .select("term").as[String].collect().toSet
    assert(tombs.contains("hot"),
      s"compact shed 'hot' without tombstoning it: $tombs")
    // the resurrection probe: a fresh append re-introducing the term
    // at batch-local df must stay pruned — before the fix this came
    // back with df=1 and an inverted idf
    Retrieval.appendToKeywordIndex(
      Seq((20L, "hot delta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 2L)
    assert(hits("hot").isEmpty,
      "over-cap term resurrected after compact (the inverted-idf bug)")
    assert(hits("delta") == Set(20L), "live term lost")
  }

  test("ivf append replay: a redelivered batch replaces its partition — " +
      "no duplicate neighbors (r12)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("ivf_replay").toString
    val mk = (id: Long, x: Double, y: Double) => (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(3, 0.95, 0.05),
      mk(10, 0.0, 1.0), mk(11, 0.1, 0.9), mk(12, 0.05, 0.95))
      .toDF("id", "v")
    Similarity.buildIvfIndex(corpus, "id", "v", dir, nCells = 2,
      trainIters = 2)
    val batch = Seq(mk(100, 0.98, 0.02)).toDF("id", "v")
    Similarity.appendToIvfIndex(batch, "id", "v", dir, batchId = 0L)
    // at-least-once redelivery under the SAME batchId: the old append
    // mode double-inserted vector 100 (two probe rows); the overwrite
    // layout must leave exactly one
    Similarity.appendToIvfIndex(batch, "id", "v", dir, batchId = 0L)
    val neighbors = Similarity.ivfTopKFromIndex(
        Seq(mk(1, 1.0, 0.0)).toDF("id", "v"), dir, "id", "v",
        k = 6, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(neighbors.count(_ == 100L) == 1,
      s"replayed batch duplicated its vectors: $neighbors")
    // compaction folds build+append partitions to one cell-partitioned
    // base: probe-identical, file count collapses (r12, VERDICT r11 #7)
    import graft.operators.IndexLayout
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/assigned")
    Similarity.compactIvfIndex(spark, dir)
    val afterCompact = Similarity.ivfTopKFromIndex(
        Seq(mk(1, 1.0, 0.0)).toDF("id", "v"), dir, "id", "v",
        k = 6, nProbe = 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(afterCompact == neighbors, "compaction changed the probe")
    val filesAfter = IndexLayout.dataFileCount(spark, s"$dir/assigned")
    assert(filesAfter < filesBefore,
      s"assigned files: $filesBefore -> $filesAfter (no collapse)")
  }

  test("index append after a mid-swap compact crash finishes the " +
      "recovery first — the staged corpus survives (r12 review fix)") {
    import graft.operators.Dedup
    val dir = s"/tmp/graft_spanidx_recover_${java.util.UUID.randomUUID()}"
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    Dedup.buildSpanIndex(
      Seq((100L, s"$shared iota kappa")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir)
    // simulate the MID-SWAP compact crash: the live table is deleted,
    // the marked stage is the sole surviving copy of the corpus
    val live = new java.io.File(s"$dir/spans")
    val stage = new java.io.File(s"$dir/spans__staged")
    assert(live.renameTo(stage))
    new java.io.File(stage, "_STAGED").createNewFile()
    // an append arriving now must RECOVER first: without it, the new
    // batch partition would recreate the live dir and the next
    // maintenance run's stale-stage rule would discard the corpus
    Dedup.appendToSpanIndex(
      Seq((1L, "totally new words about recovery protocols here"))
        .toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir, batchId = 0L)
    assert(!stage.exists, "append must finish the interrupted swap")
    // the corpus spans survived: a corpus near-copy still gates high
    val stats = Dedup.spanDupStatsAgainst(
        Seq((9L, s"$shared nu")).toDF("doc_id", "text"),
        "text", "doc_id", k = 4, dir)
      .select("doc_id", "dup_ratio").as[(Long, Double)].collect().toMap
    assert(stats.getOrElse(9L, 0.0) > 0.5,
      s"staged corpus lost by the append: $stats")
  }

  test("null-contract guards: hash-keyed membership, eval domains, and " +
      "packing fail loudly instead of silently corrupting (r12 review fixes)") {
    import graft.operators.{Eval, Packing, Sampling}
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    def mustRaise(frag: String)(body: => Unit): Unit = {
      val ex = intercept[Exception](body)
      assert(msgs(ex).exists(_.contains(frag)),
        s"expected '$frag' in: ${msgs(ex).mkString("; ")}")
    }
    val nullKey = Seq((Some(1L), 0.5), (None: Option[Long], 0.7))
      .toDF("k", "v")
    // a null key previously fell out of BOTH split sides (train+eval
    // lost the row with no error) — now the membership op raises
    mustRaise("NULL key")(
      Sampling.sampleByHash(nullKey, $"k", 0.5).collect())
    mustRaise("NULL key")(
      nullKey.select(Sampling.foldId($"k", 5)).collect())
    mustRaise("NULL key")(
      nullKey.select(Sampling.rendezvousShard($"k", 4)).collect())
    // eval domain guards: the aucRankSum convention on the siblings
    mustRaise("NULL label")(Eval.aucRankSum(
      Seq((Some(0.5), Some(true)), (Some(0.6), None: Option[Boolean]))
        .toDF("s", "y"), col("s"), col("y")).collect())
    mustRaise("out of [0,1]")(Eval.calibrationBins(
      Seq((5.0, true)).toDF("p", "y"), col("p"), col("y")).collect())
    mustRaise("NULL key")(Eval.bootstrapMeanCI(
      Seq(("g", None: Option[Long], 1.0)).toDF("g", "k", "v"),
      col("g"), col("k"), col("v")).collect())
    // packGreedy: a NULL group previously emitted bin 0 on the first
    // rows (null == null skipped the reset) — now it packs as its own
    // ordinary group with 1-based bins
    val packed = Packing.packGreedy(
      Seq((None: Option[String], 1L, 5L), (None, 2L, 6L),
        (Some("a"), 3L, 5L)).toDF("g", "o", "sz"),
      "g", "o", "sz", budget = 8)
    val nullBins = packed.filter($"g".isNull)
      .select("bin").as[Long].collect().sorted.toSeq
    assert(nullBins == Seq(1L, 2L),
      s"null group must pack 1-based with overflow: $nullBins")
    assert(packed.filter($"g" === "a").select("bin").as[Long].head() == 1L)
    // and a null size names the column instead of a bare NPE
    mustRaise("NULL sz")(Packing.packGreedy(
      Seq((Some("a"), 1L, None: Option[Long])).toDF("g", "o", "sz"),
      "g", "o", "sz", budget = 8).collect())
    // splitDedupAware: a null UNPAIRED id coalesces to the split key →
    // the same hash-membership guard fires (r13 sweep, VERDICT r12 #8
    // — already safe transitively, pinned by spec)
    mustRaise("NULL key")(Sampling.splitDedupAware(
      Seq((Some(1L), "a"), (None: Option[Long], "b")).toDF("doc_id", "t"),
      "doc_id",
      Seq((10L, 11L)).toDF("id_a", "id_b"), "id_a", "id_b",
      leftFraction = 0.5).collect())
    // index probe/append id columns (r13): a NULL id would silently
    // fall out of the pair joins — a never-flagged duplicate
    import graft.operators.Similarity
    val mkv = (id: java.lang.Long, x: Double, y: Double) =>
      (Option(id).map(Long.unbox), Seq(x.toFloat, y.toFloat))
    val vecs = Seq(mkv(1L, 1.0, 0.0), mkv(2L, 0.9, 0.1),
      mkv(10L, 0.0, 1.0), mkv(11L, 0.1, 0.9)).toDF("id", "v")
    val nullIdBatch = Seq(mkv(null, 0.95, 0.05)).toDF("id", "v")
    val ivfDir = java.nio.file.Files
      .createTempDirectory("nullid_ivf").toString
    Similarity.buildIvfIndex(vecs, "id", "v", ivfDir, nCells = 2,
      trainIters = 1)
    mustRaise("NULL id")(Similarity.appendToIvfIndex(
      nullIdBatch, "id", "v", ivfDir, batchId = 0L))
    mustRaise("NULL id")(Similarity.semDedupAgainstIndex(
      nullIdBatch, ivfDir, "id", "v", threshold = 0.5).collect())
    val knnDir = java.nio.file.Files
      .createTempDirectory("nullid_knn").toString
    Similarity.buildKnnGraphIndex(vecs, "id", "v", knnDir, k = 2,
      nCells = 2, trainIters = 1)
    mustRaise("NULL id")(Similarity.appendToKnnGraphIndex(
      nullIdBatch, "id", "v", knnDir, batchId = 0L))
    // BUILD paths enforce the same contract (r14, VERDICT r13 #3): a
    // null id in the build corpus would otherwise enter the persisted
    // index silently and fall out of every pair join downstream
    val dirty = vecs.unionByName(nullIdBatch)
    mustRaise("NULL id")(Similarity.buildIvfIndex(dirty, "id", "v",
      java.nio.file.Files.createTempDirectory("nullid_bivf").toString,
      nCells = 2, trainIters = 1))
    mustRaise("NULL id")(Similarity.buildPqIndex(dirty, "id", "v",
      java.nio.file.Files.createTempDirectory("nullid_bpq").toString,
      m = 2, nCents = 2, trainIters = 1))
    mustRaise("NULL id")(Similarity.buildKnnGraphIndex(dirty, "id", "v",
      java.nio.file.Files.createTempDirectory("nullid_bknn").toString,
      k = 2, nCells = 2, trainIters = 1))
    // guards stay DORMANT on clean data: the build above succeeded for
    // vecs, and the probes keep their rows (oracle-hash invariance is
    // the declared queries' job; this pins the no-false-positive side)
    assert(Similarity.ivfTopKFromIndex(vecs.limit(1), ivfDir, "id", "v",
      k = 2, nProbe = 2).count() > 0)
  }

  test("dir lock on a NON-file FileSystem scheme: acquire through " +
      "FileSystem.create(overwrite=false), steal an aged orphan via " +
      "rename, heartbeat via setTimes, release (r13, VERDICT r12 #5)") {
    // file: paths dispatch to the proven O_EXCL nio create; this
    // drives the OTHER branch — the Hadoop-API create/steal/release
    // protocol a cluster store (HDFS et al.) would run — through a
    // mock scheme backed by the local FS (graft.MockHadoopFs).
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockgraft.impl", classOf[graft.MockHadoopFs].getName)
    val local = java.nio.file.Files
      .createTempDirectory("dirlock_mockfs").toString
    val dir = s"mockgraft:$local"
    val lockLocal = java.nio.file.Paths.get(local, "_LOCK")
    graft.fs.DirLock.withLock(dir) {
      assert(java.nio.file.Files.exists(lockLocal),
        "Hadoop-API create must have landed the lock file")
      val t0 = java.nio.file.Files.getLastModifiedTime(lockLocal).toMillis
      Thread.sleep(graft.fs.DirLock.HeartbeatMs + 2000)
      val t1 = java.nio.file.Files.getLastModifiedTime(lockLocal).toMillis
      assert(t1 > t0, "heartbeat must refresh mtime through setTimes")
    }
    assert(!java.nio.file.Files.exists(lockLocal),
      "release must drop the lock through the Hadoop API")
    // an aged foreign orphan is stolen via FileSystem.rename
    java.nio.file.Files.write(lockLocal, "999999 dead 0".getBytes)
    java.nio.file.Files.setLastModifiedTime(lockLocal,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - graft.fs.DirLock.StealAfterMs - 1000))
    var ran = false
    graft.fs.DirLock.withLock(dir) { ran = true }
    assert(ran, "steal through the Hadoop API must admit the waiter")
    assert(!java.nio.file.Files.exists(lockLocal))
  }

  test("dir lock heartbeat keeps a LIVE holder's lock fresh past the " +
      "steal horizon's beat period (r12 review fix)") {
    // without the heartbeat, any critical section longer than
    // StealAfterMs (a cluster-sized index write trivially is) would be
    // stolen MID-WRITE by a contender; the beat refreshes mtime so
    // age-based stealing targets only dead owners
    import graft.fs.DirLock
    val dir = java.nio.file.Files
      .createTempDirectory("dirlock_beat").toString
    val lock = java.nio.file.Paths.get(dir, "_LOCK")
    DirLock.withLock(dir) {
      val t0 = java.nio.file.Files.getLastModifiedTime(lock).toMillis
      Thread.sleep(DirLock.HeartbeatMs + 3000)
      val t1 = java.nio.file.Files.getLastModifiedTime(lock).toMillis
      assert(t1 > t0, s"heartbeat never refreshed the lock ($t0 -> $t1)")
    }
    assert(!java.nio.file.Files.exists(lock), "release must drop the lock")
  }

  test("locked span append: a surviving writer steals a crashed " +
      "writer's index lock and completes (r12, VERDICT r11 #8)") {
    import graft.operators.Dedup
    val dir = s"/tmp/graft_spanidx_lock_${java.util.UUID.randomUUID()}"
    val shared = "alpha beta gamma delta"
    Dedup.buildSpanIndex(
      Seq((100L, s"$shared epsilon zeta eta theta")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir)
    // a second REAL JVM takes the index's SIBLING lock dir (r13: the
    // lock can't live inside the index — a staged whole-index rebuild
    // swap would destroy the holder's own lock) and halts inside the
    // critical section — the crashed-ingest-writer state
    val lockDir = graft.operators.IndexLayout.lockDir(dir)
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-cp",
        System.getProperty("java.class.path"),
        "graft.CatalogLockChild", "crash", lockDir)
      .redirectErrorStream(true).start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.getInputStream))
    val deadline = System.currentTimeMillis() + 30000
    var line = out.readLine()
    while (line != null && !line.contains("HOLDING")) {
      assert(System.currentTimeMillis() < deadline, "child never held")
      line = out.readLine()
    }
    assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    val lock = java.nio.file.Paths.get(lockDir, "_LOCK")
    assert(java.nio.file.Files.exists(lock), "crashed child left its lock")
    // present the crash as a minute old, then the locked append must
    // steal, run, and release
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - graft.fs.DirLock.StealAfterMs - 1000))
    graft.operators.IndexLayout.locked(dir)(Dedup.appendToSpanIndex(
      Seq((200L, s"$shared tail words")).toDF("doc_id", "text"),
      "text", "doc_id", k = 4, dir, batchId = 0L))
    assert(!java.nio.file.Files.exists(lock), "lock released after steal")
    // the append landed: the shared span's folded doc count is now 2
    val maxDocs = spark.read.parquet(s"$dir/spans")
      .groupBy("h").agg(sum("n_docs").as("n"))
      .agg(max("n")).as[Long].head()
    assert(maxDocs == 2L, s"appended deltas missing: max n_docs=$maxDocs")
  }

  test("maintainIvfIndex: healthy index untouched, drifted index " +
      "staged-rebuilt with a rescaled quantizer under the PINNED meta " +
      "contract — two maintain calls cannot disagree (r14, VERDICT " +
      "r13 #2)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_maintain").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1),
      mk(10, 0.0, 1.0), mk(11, 0.1, 0.9)).toDF("id", "v")
    // the thresholds are pinned AT BUILD — maintain takes none
    Similarity.buildIvfIndex(corpus, "id", "v", dir, nCells = 2,
      trainIters = 2, maxCell = 4,
      sizing = graft.operators.Sizing.Balanced(2))
    // healthy (2 per cell ≤ pinned 4): the monitor must NOT rebuild
    assert(!Similarity.maintainIvfIndex(spark, dir),
      "healthy index was rebuilt")
    assert(spark.read.parquet(s"$dir/centroids").count() == 2)
    // the report reads the same pinned cap
    assert(Similarity.ivfOccupancyReport(spark, dir)
      .filter(col("oversized")).count() == 0)
    // drift: 12 spread vectors crowd the 2 FROZEN cells (appends never
    // retrain) → at least one cell holds ≥ 8 > 4
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    Similarity.appendToIvfIndex(flood, "id", "v", dir, batchId = 0L)
    assert(Similarity.ivfOccupancyReport(spark, dir)
      .filter(col("oversized")).count() > 0, "monitor missed the drift")
    assert(Similarity.maintainIvfIndex(spark, dir),
      "drifted index not rebuilt")
    // the retrain re-derived nCells from the grown corpus (16 rows →
    // balanced occupancy 4 → 4 cells) and swapped in whole
    val nCellsAfter = spark.read.parquet(s"$dir/centroids").count()
    assert(nCellsAfter > 2, s"quantizer not rescaled: $nCellsAfter cells")
    assert(!new java.io.File(s"${dir}__staged").exists(),
      "stage must be gone after the swap")
    // the rebuild RE-pinned a healthy cap (skewFactor × new occupancy),
    // so a second maintenance job — same call, no caller dials to
    // disagree over — reads the updated contract and is a no-op
    // instead of re-firing against the stale build-time cap forever
    assert(Similarity.ivfIndexMeta(spark, dir)._1 > 4,
      "rebuild did not re-pin max_cell")
    assert(!Similarity.maintainIvfIndex(spark, dir),
      "second maintain re-fired against the re-pinned contract")
    // probes over the rebuilt index serve old AND appended vectors
    val served = Similarity.ivfTopKFromIndex(
        Seq(mk(999, 0.7, 0.7)).toDF("id", "v"), dir, "id", "v",
        k = 20, nProbe = nCellsAfter.toInt)
      .select("neighbor_id").as[Long].collect().toSet
    assert(served == (corpus.select("id").as[Long].collect().toSet ++
        (0 until 12).map(100L + _)),
      s"rebuilt index lost vectors: $served")
  }

  test("hierarchical quantizer: one coarse cell degenerates to EXACTLY " +
      "the flat path — semDedupPairs and knnGraph hash-identical (r14, " +
      "VERDICT r13 #1)") {
    import graft.operators.Similarity
    // deterministic 60-vector 4-d corpus with real cluster structure
    val bases = Vector(
      Vector(1.0, 0.1, 0.0, 0.0), Vector(0.0, 1.0, 0.1, 0.0),
      Vector(0.0, 0.0, 1.0, 0.1))
    val corpus = (0 until 60).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      val vec: Seq[Float] = bases(c).zipWithIndex.map { case (x, j) =>
        (x + (if (j == c) jit else jit / 3)).toFloat }
      (i.toLong, vec)
    }.toDF("id", "v")
    val flatPairs = Similarity.semDedupPairs(corpus, "id", "v",
        nCells = 6, trainIters = 2, trainFraction = 0.5,
        threshold = 0.8, maxCell = 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val hierPairs = Similarity.semDedupPairs(corpus, "id", "v",
        nCells = Quantizer.Levels(Seq(1, 6)), trainIters = 2,
        trainFraction = 0.5, threshold = 0.8, maxCell = 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(flatPairs.nonEmpty, "degenerate fixture: no pairs at all")
    assert(hierPairs == flatPairs,
      s"hier(nCoarse=1) != flat:\n$hierPairs\n$flatPairs")
    val flatGraph = Similarity.knnGraph(corpus, "id", "v", k = 3,
        nCells = 6, trainIters = 2, trainFraction = 0.5, maxCell = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val hierGraph = Similarity.knnGraph(corpus, "id", "v", k = 3,
        nCells = Quantizer.Levels(Seq(1, 6)), trainIters = 2,
        trainFraction = 0.5, maxCell = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(hierGraph == flatGraph,
      s"hier knnGraph(nCoarse=1) != flat")
    // multi-coarse smoke: CONSTANT-occupancy sizing covers every row
    // (no silent drop through the assignment join) and respects the
    // pair contract
    val (nc, nf) = Similarity.hierCells(60L, targetOccupancy = 8)
    assert(nc == 3 && nf == 3, s"hierCells(60, 8) = ($nc, $nf)") // 8 cells
    val cent = Similarity.kmeansFit(corpus, "id", "v",
      Quantizer.Levels(Seq(nc, nf)), iters = 2, trainFraction = 0.5)
    val assigned = Similarity.assignCells(corpus, "id", "v", cent)
    assert(assigned.count() == 60, "hier assignment dropped rows")
    assert(assigned.filter(col("cell").isNull || col("cell") < 0)
      .count() == 0, "unassigned rows")
    // fine cells nest inside coarse cells: distinct fine cells ≤ nCells
    assert(assigned.select("cell").distinct().count() <= nc.toLong * nf)
    val pairsH = Similarity.semDedupPairs(corpus, "id", "v",
      nCells = Quantizer.Levels(Seq(nc, nf)), trainIters = 2,
      trainFraction = 0.5, threshold = 0.8, maxCell = 100)
    assert(pairsH.filter(col("sim") < 0.8).count() == 0)
    assert(pairsH.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("maintainKnnGraphIndex: drift under the pinned maxCell triggers " +
      "a rescaled staged retrain; healthy index untouched (r13)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("knn_maintain").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val corpus = Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1),
      mk(10, 0.0, 1.0), mk(11, 0.1, 0.9)).toDF("id", "v")
    Similarity.buildKnnGraphIndex(corpus, "id", "v", dir, k = 2,
      nCells = 2, trainIters = 2, maxCell = 4)
    assert(!Similarity.maintainKnnGraphIndex(spark, dir),
      "healthy index was rebuilt")
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    Similarity.appendToKnnGraphIndex(flood, "id", "v", dir, batchId = 0L)
    assert(Similarity.maintainKnnGraphIndex(spark, dir,
      minOccupancy = 2), "drifted index not rebuilt")
    assert(spark.read.parquet(s"$dir/centroids").count() > 2,
      "quantizer not rescaled")
    assert(!new java.io.File(s"${dir}__staged").exists())
    // every node (old + appended) is served with k rows after the swap
    val got = Similarity.knnGraphFromIndex(spark, dir)
      .select("query_id").as[Long].collect().toSet
    assert(got == (corpus.select("id").as[Long].collect().toSet ++
      (0 until 12).map(100L + _)), s"rebuilt graph lost nodes: $got")
  }

  test("log-depth tree quantizer: nCells <= branch degenerates to " +
      "EXACTLY the flat path; deeper trees cover every row at the " +
      "pinned occupancy (r14)") {
    import graft.operators.Similarity
    val bases = Vector(
      Vector(1.0, 0.1, 0.0, 0.0), Vector(0.0, 1.0, 0.1, 0.0),
      Vector(0.0, 0.0, 1.0, 0.1))
    val corpus = (0 until 60).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      val vec: Seq[Float] = bases(c).zipWithIndex.map { case (x, j) =>
        (x + (if (j == c) jit else jit / 3)).toFloat }
      (i.toLong, vec)
    }.toDF("id", "v")
    // sizing: within one branch = one level; past it, pinned-branch
    // levels with a partial top
    assert(Similarity.treeLevelSizes(60, 32, branch = 64) == Seq(2))
    assert(Similarity.treeLevelSizes(500, 32, branch = 64) == Seq(16))
    assert(Similarity.treeLevelSizes(500000, 32, branch = 64)
      == Seq(4, 64, 64)) // 15625 cells -> depth 3
    assert(Similarity.treeLevelSizes(5000000, 32, branch = 64)
      == Seq(39, 64, 64)) // 156250 cells -> depth 3, sims/row 167
    // depth-1 tree == flat, hash-identical (branch >= nCells): the
    // declared q_semdedup_t oracle replays exactly this instance
    val flat = Similarity.semDedupPairs(corpus, "id", "v",
        nCells = 8, trainIters = 2, trainFraction = 0.5,
        threshold = 0.8, maxCell = 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val tree1 = Similarity.semDedupPairs(corpus, "id", "v",
        nCells = Sizing.Tree(8, branch = 64).quantizer(corpus.count()),
        trainIters = 2, trainFraction = 0.5, threshold = 0.8,
        maxCell = 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(flat.nonEmpty && tree1 == flat,
      s"depth-1 tree != flat quantizer")
    val flatG = Similarity.knnGraph(corpus, "id", "v", k = 3,
        nCells = 8, trainIters = 2, trainFraction = 0.5, maxCell = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val tree1G = Similarity.knnGraph(corpus, "id", "v", k = 3,
        nCells = Sizing.Tree(8, branch = 64).quantizer(corpus.count()),
        trainIters = 2, trainFraction = 0.5, maxCell = 100)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(tree1G == flatG, "depth-1 tree knnGraph != flat")
    // depth-3 coverage smoke (branch 2 forces real depth on 60 rows:
    // 30 cells -> levels [8, 2, 2]): every row assigned, pair
    // contract held
    val sizes = Similarity.treeLevelSizes(60, 2, branch = 2)
    assert(sizes.length >= 3 && sizes.product >= 30, s"sizes=$sizes")
    val cent = Similarity.kmeansFit(corpus, "id", "v",
      Quantizer.Levels(sizes), iters = 2, trainFraction = 0.5)
    assert(cent.levels.length == sizes.length - 1)
    val assigned = Similarity.assignCells(corpus, "id", "v", cent)
    assert(assigned.count() == 60, "tree assignment dropped rows")
    assert(assigned.filter(col("cell").isNull).count() == 0)
    val pairsT = Similarity.semDedupPairs(corpus, "id", "v",
      nCells = Quantizer.Levels(sizes), trainIters = 2,
      trainFraction = 0.5, threshold = 0.8, maxCell = 100)
    assert(pairsT.filter(col("sim") < 0.8 ||
      col("id_a") >= col("id_b")).count() == 0)
  }

  test("hierarchical knn-graph index: append+serve equals the frozen-" +
      "two-level-quantizer full recompute, replay and compact are " +
      "invisible, maintain retrains at the PINNED constant occupancy " +
      "(r14, VERDICT r13 #1 — the index-family scale mode)") {
    import graft.operators.Similarity
    import graft.functions.VectorFns
    val dir = java.nio.file.Files
      .createTempDirectory("knn_hier").toString + "/idx"
    val bases = Vector(
      Vector(1.0, 0.1, 0.0, 0.0), Vector(0.0, 1.0, 0.1, 0.0),
      Vector(0.0, 0.0, 1.0, 0.1))
    val all = (0 until 60).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      val vec: Seq[Float] = bases(c).zipWithIndex.map { case (x, j) =>
        (x + (if (j == c) jit else jit / 3)).toFloat }
      (i.toLong, vec)
    }.toDF("id", "v")
    val corpusA = all.filter(col("id") < 40)
    val batchB = all.filter(col("id") >= 40)
    buildKnnUnder(corpusA, dir, k = 3, Sizing.TwoLevel(8),
      trainFraction = 0.5)
    // the constant dial is pinned in meta; the fine table persists
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Int]("occupancy") == 8 && meta.getAs[Int]("k") == 3)
    assert(spark.read.parquet(s"$dir/centroids_level_1").count() > 0)
    // the shared append path detects the hier quantizer
    Similarity.appendToKnnGraphIndex(batchB, "id", "v", dir, batchId = 0L)
    def served() = Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val s1 = served()
    // reference: assign the UNION under the PERSISTED frozen quantizer
    // (read back from the index), within-cell top-k via window rank —
    // build + append must equal the full recompute exactly
    val assigned = Similarity.assignCells(all, "id", "v",
        persistedCentroids(dir, Seq(s"$dir/centroids_level_1")))
      .localCheckpoint(false)
    val ref = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(VectorFns.cosineFast(col("a.v"), col("b.v")), 6).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(s1 == ref, "hier index serve != frozen-quantizer recompute")
    // replay: same batchId overwrites both partitions — serve unchanged
    Similarity.appendToKnnGraphIndex(batchB, "id", "v", dir, batchId = 0L)
    assert(served() == s1, "replay changed the served graph")
    // compaction is serve-invisible and family-blind
    Similarity.compactKnnGraphIndex(spark, dir)
    assert(served() == s1, "compact changed the served graph")
    // maintain keeps the PINNED occupancy: a tight-cap hier index
    // drifts, retrains hierarchically, stays at its constant dial
    val dir2 = java.nio.file.Files
      .createTempDirectory("knn_hier_m").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    buildKnnUnder(
      Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
        mk(11, 0.1, 0.9)).toDF("id", "v"),
      dir2, k = 2, Sizing.TwoLevel(4),
      skewFactor = 2) // pinned max_cell = 8; 4-row corpus → 1 cell
    assert(!Similarity.maintainKnnGraphIndex(spark, dir2),
      "healthy hier index was rebuilt")
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    // 16 rows crowd the single frozen cell past the pinned cap=8
    Similarity.appendToKnnGraphIndex(flood, "id", "v", dir2, batchId = 0L)
    assert(Similarity.maintainKnnGraphIndex(spark, dir2),
      "drifted hier index not rebuilt")
    val meta2 = spark.read.parquet(s"$dir2/meta").collect()(0)
    assert(meta2.getAs[Int]("occupancy") == 4,
      "maintain moved the pinned constant-occupancy dial")
    assert(spark.read.parquet(s"$dir2/centroids_level_1").count() > 1,
      "retrain did not rescale the fine layer")
    // every node in a cell with >= 2 members is served (a singleton
    // cell has no within-cell neighbors — the documented recall
    // contract); the rescaled quantizer must keep most cells social
    val social = spark.read.parquet(s"$dir2/assigned")
      .groupBy("cell").agg(collect_list("neighbor_id").as("ids"))
      .collect().flatMap { r =>
        val ids = r.getSeq[Long](1); if (ids.size >= 2) ids else Nil
      }.toSet
    val got = Similarity.knnGraphFromIndex(spark, dir2)
      .select("query_id").as[Long].collect().toSet
    assert(got == social,
      s"served nodes != social-cell members: $got vs $social")
    assert(social.size >= 12,
      s"rescaled quantizer fragmented the corpus: ${social.size}/16")
    // the retrain did NOT re-fire on the healthy rebuilt index
    assert(!Similarity.maintainKnnGraphIndex(spark, dir2),
      "maintain re-fired against the rescaled hier index")
  }

  test("locked appends, every index family: a surviving writer steals " +
      "a crashed writer's lock and completes (r13, VERDICT r12 #6)") {
    // the shared parameterized contention spec: for each persisted
    // index family, a REAL second JVM (CatalogLockChild — the same
    // forked driver the catalog specs prove) takes the index-dir
    // DirLock and halts inside the critical section; the family's
    // Locked append must steal the aged orphan, land its batch, and
    // release. One scenario per family over the same proven protocol.
    import graft.operators.{Dedup, IndexLayout, Retrieval, Similarity}
    val mkv = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    val vecs = Seq(mkv(1, 1.0, 0.0), mkv(2, 0.9, 0.1),
      mkv(10, 0.0, 1.0), mkv(11, 0.1, 0.9)).toDF("id", "v")
    val vbatch = Seq(mkv(100, 0.95, 0.05)).toDF("id", "v")
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val dbatch = Seq((3L, "iota kappa lambda mu")).toDF("doc_id", "text")
    val families: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("keyword",
        dir => Retrieval.buildKeywordIndex(docs, "doc_id", "text", dir),
        dir => IndexLayout.locked(dir)(Retrieval.appendToKeywordIndex(
          dbatch, "doc_id", "text", dir, batchId = 0L))),
      ("minhash",
        dir => Dedup.buildMinhashIndex(docs, "text", "doc_id", dir),
        dir => IndexLayout.locked(dir)(Dedup.appendToMinhashIndex(
          dbatch, "text", "doc_id", dir, batchId = 0L))),
      ("ivf",
        dir => Similarity.buildIvfIndex(vecs, "id", "v", dir,
          nCells = 2, trainIters = 1),
        dir => IndexLayout.locked(dir)(Similarity.appendToIvfIndex(
          vbatch, "id", "v", dir, batchId = 0L))),
      ("pq",
        dir => Similarity.buildPqIndex(vecs, "id", "v", dir, m = 2,
          nCents = 2, trainIters = 1),
        dir => IndexLayout.locked(dir)(Similarity.appendToPqIndex(
          vbatch, "id", "v", dir, batchId = 0L))),
      ("knngraph",
        dir => Similarity.buildKnnGraphIndex(vecs, "id", "v", dir,
          k = 2, nCells = 2, trainIters = 1),
        dir => IndexLayout.locked(dir)(Similarity.appendToKnnGraphIndex(
          vbatch, "id", "v", dir, batchId = 0L))))
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    for ((family, build, lockedAppend) <- families) {
      val dir = s"/tmp/graft_lockfam_${family}_${java.util.UUID.randomUUID()}"
      build(dir)
      // the index's SIBLING lock dir (r13: a lock inside the index
      // would be destroyed by a staged whole-index rebuild swap)
      val lockDir = graft.operators.IndexLayout.lockDir(dir)
      val child = new ProcessBuilder(javaBin, "-cp",
          System.getProperty("java.class.path"),
          "graft.CatalogLockChild", "crash", lockDir)
        .redirectErrorStream(true).start()
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream))
      val deadline = System.currentTimeMillis() + 30000
      var line = out.readLine()
      while (line != null && !line.contains("HOLDING")) {
        assert(System.currentTimeMillis() < deadline,
          s"$family: child never held")
        line = out.readLine()
      }
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      val lock = java.nio.file.Paths.get(lockDir, "_LOCK")
      assert(java.nio.file.Files.exists(lock),
        s"$family: crashed child left no lock")
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - graft.fs.DirLock.StealAfterMs - 1000))
      lockedAppend(dir)
      assert(!java.nio.file.Files.exists(lock),
        s"$family: lock not released after steal+append")
      // the batch landed under its own partition
      val sub = family match {
        case "keyword" => "postings"; case "minhash" => "bands"
        case "pq" => "codes"; case _ => "assigned"
      }
      assert(new java.io.File(s"$dir/$sub/batch_id=0").exists(),
        s"$family: appended batch partition missing")
    }
  }

  test("staged rebuild under IndexLayout.locked: probe-identical to a " +
      "plain rebuild of the same corpus, lock released, no stage left") {
    import graft.operators.{IndexLayout, Similarity}
    val all = annFixture
    def mkDir(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
    val lockedDir = mkDir("ivf_locked_rebuild")
    val plainDir = mkDir("ivf_plain_rebuild")
    Seq(lockedDir, plainDir).foreach(d => Similarity.buildIvfIndex(
      all.filter(col("id") < 40), "id", "v", d, nCells = 2,
      trainIters = 1))
    IndexLayout.locked(lockedDir)(Similarity.rebuildIvfIndex(all, "id",
      "v", lockedDir, nCells = 4, trainIters = 2))
    Similarity.rebuildIvfIndex(all, "id", "v", plainDir, nCells = 4,
      trainIters = 2)
    val queries = all.filter(col("id").isin(0L, 1L, 50L))
    def probe(dir: String) = Similarity.ivfTopKFromIndex(queries, dir,
        "id", "v", k = 5, nProbe = 2)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val got = probe(lockedDir)
    assert(got.nonEmpty && got == probe(plainDir),
      "locked rebuild probe != plain rebuild probe")
    assert(spark.read.parquet(s"$lockedDir/centroids").count() == 4,
      "the locked rebuild did not swap in the retrained quantizer")
    assert(!new java.io.File(
      s"${IndexLayout.lockDir(lockedDir)}/_LOCK").exists,
      "locked rebuild left its _LOCK behind")
    assert(!new java.io.File(s"${lockedDir}__staged").exists,
      "locked rebuild left its stage behind")
  }

  test("pq append: probes find appended vectors under the frozen " +
      "codebooks (r12)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50)
    val dir = java.nio.file.Files.createTempDirectory("pq_append").toString
    Similarity.buildPqIndex(build, "vec_id", "embedding", dir,
      m = 16, trainIters = 2, trainFraction = 0.25)
    // append a CLONE of a build vector under a new id: its codes under
    // the frozen codebooks equal the original's, so the original's
    // probe must surface it at the original's own ADC similarity —
    // deterministic proof the appended codes are probe-visible
    val clone = build.filter($"vec_id" === 60)
      .select(lit(9999L).as("vec_id"), $"embedding")
    Similarity.appendToPqIndex(clone, "vec_id", "embedding", dir,
      batchId = 0L)
    val top = Similarity.pqTopKFromIndex(
        build.filter($"vec_id" === 60), dir, "vec_id", "embedding", k = 10)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top.contains(9999L), s"appended clone missing from probe: $top")
    // compaction: value-preserving code rewrite — probe rows identical
    // (scores included), file count collapses (r12, VERDICT r11 #7)
    import graft.operators.IndexLayout
    def probeRows() = Similarity.pqTopKFromIndex(
        build.filter($"vec_id" === 60), dir, "vec_id", "embedding", k = 10)
      .select("neighbor_id", "sim").as[(Long, Double)].collect().toSet
    val beforeCompact = probeRows()
    val filesBefore = IndexLayout.dataFileCount(spark, s"$dir/codes")
    Similarity.compactPqIndex(spark, dir)
    assert(probeRows() == beforeCompact, "compaction changed ADC scores")
    val filesAfter = IndexLayout.dataFileCount(spark, s"$dir/codes")
    assert(filesAfter < filesBefore,
      s"codes files: $filesBefore -> $filesAfter (no collapse)")
  }

  test("pq wide/legacy code layouts: a pre-r18 long-form table probes, " +
      "appends and compacts to the same rows as the wide twin (r18)") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val build = emb.filter($"vec_id" >= 50)
    val batch = emb.filter($"vec_id" < 50)
    val queries = emb.filter($"vec_id" < 5)
    def lifecycle(dir: String, legacy: Boolean): Set[(Long, Long, Double, Int)] = {
      Similarity.buildPqIndex(build, "vec_id", "embedding", dir,
        m = 16, trainIters = 2, trainFraction = 0.25)
      if (legacy) { // devolve the fresh wide table to the pre-r18 layout
        val wide = spark.read.parquet(s"$dir/codes/batch_id=-1")
          .select($"neighbor_id", posexplode($"codes").as(Seq("j", "cid")))
          .collect()
        val long = spark.createDataFrame(
          spark.sparkContext.parallelize(wide.toIndexedSeq),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("neighbor_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("j",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("cid",
              org.apache.spark.sql.types.LongType))))
        graft.operators.IndexLayout.clear(spark, s"$dir/codes")
        long.write.mode("overwrite").parquet(s"$dir/codes/batch_id=-1")
      }
      Similarity.appendToPqIndex(batch, "vec_id", "embedding", dir, 0L)
      // the delta follows the table's own layout
      val delta = spark.read.parquet(s"$dir/codes/batch_id=0")
      assert(delta.columns.contains("j") == legacy,
        s"delta layout did not follow the table (legacy=$legacy)")
      Similarity.compactPqIndex(spark, dir)
      Similarity.pqTopKFromIndex(queries, dir, "vec_id", "embedding",
          k = 10)
        .select("query_id", "neighbor_id", "sim", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    }
    val wideDir = java.nio.file.Files.createTempDirectory("pq_wide").toString
    val legacyDir = java.nio.file.Files.createTempDirectory("pq_long").toString
    val wideRows = lifecycle(wideDir, legacy = false)
    val legacyRows = lifecycle(legacyDir, legacy = true)
    assert(wideRows == legacyRows,
      "wide and legacy PQ layouts diverged after append+compact+probe")
    assert(wideRows.nonEmpty)
  }

  test("two-phase weighted median matches the hand-computed crossing row") {
    import graft.operators.WeightedStats
    // group A: values 1..4 with weights 1,1,1,5 → total 8, half 4;
    // cum: 1,2,3,8 → crossing at v=4. group B: uniform weights → v=2
    // (cum 1,2,3; 2*2 >= 3 first at v=2)
    val rows = Seq(
      ("A", 1.0, 1.0, 1L), ("A", 2.0, 1.0, 2L), ("A", 3.0, 1.0, 3L),
      ("A", 4.0, 5.0, 4L),
      ("B", 1.0, 1.0, 5L), ("B", 2.0, 1.0, 6L), ("B", 3.0, 1.0, 7L))
      .toDF("g", "v", "w", "id")
    val got = WeightedStats.weightedMedian(rows, "g", "v", "w",
        bucketWidth = 2.0, tieBreak = Seq("id"))
      .orderBy("g").select("g", "wmedian", "total_w")
      .as[(String, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 4.0, 8.0), ("B", 2.0, 3.0)), s"got $got")
    // a crossing INSIDE a bucket: one bucket holds everything
    val one = WeightedStats.weightedMedian(rows, "g", "v", "w",
        bucketWidth = 100.0, tieBreak = Seq("id"))
      .orderBy("g").select("wmedian").as[Double].collect().toSeq
    assert(one == Seq(4.0, 2.0), s"got $one")
  }

  test("ngram containment flags a quote the jaccard misses") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox " +
        "jumped over many lazy dogs in a very long unrelated story " +
        "that keeps going with fresh words"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.ngramContainment(pairs, docs, "text", "doc_id", 3)
      .select("containment_a", "containment_b")
      .as[(Double, Double)].head()
    assert(got._1 == 1.0, s"short side fully contained: $got")
    assert(got._2 < 0.2, s"long side barely overlaps: $got")
  }

  test("funnel requires strictly-ordered steps; out-of-order never counts") {
    import graft.operators.Funnel
    val ev = Seq(
      // user 1 completes a -> b -> c in order
      (1L, "a", 100L), (1L, "b", 200L), (1L, "c", 300L),
      // user 2 has b BEFORE a: reaches a, never b-after-a
      (2L, "b", 100L), (2L, "a", 200L),
      // user 3 same-timestamp b (not strictly after a): excluded
      (3L, "a", 100L), (3L, "b", 100L))
      .toDF("u", "t", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    val got = Funnel.funnelCounts(ev, "u", "ts", "t", Seq("a", "b", "c"))
      .orderBy("step").select("step", "n_entities")
      .as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 3L), (2, 1L), (3, 1L)), s"got $got")
  }

  test("cohort retention counts an entity once per active week") {
    import graft.operators.Funnel
    val wk = 604800L
    val ev = Seq(
      (1L, 0L), (1L, 10L), (1L, wk + 5L),     // cohort 0, active wks 0,1
      (2L, 5L),                               // cohort 0, active wk 0
      (3L, wk + 1L), (3L, wk + 2L))           // cohort 1, active wk 0
      .toDF("u", "s").withColumn("ts", timestamp_seconds(col("s")))
    val got = Funnel.cohortRetention(ev, "u", "ts")
      .orderBy("cohort", "offset")
      .select("cohort", "offset", "n_active", "cohort_size", "retention")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0)), s"got $got")
  }

  test("rendezvous hashing: removing a shard moves only that shard's keys") {
    import graft.operators.Sampling
    val keys = (1L to 300L).toDF("k")
    val with4 = keys.withColumn("s",
        Sampling.rendezvousShard(col("k"), 4, "rv"))
      .as[(Long, Int)].collect().toMap
    // re-assign over shards 0..2 (shard 3 removed): survivors' argmax
    // among the remaining hashes is unchanged for keys not on shard 3
    val with3 = keys.withColumn("s",
        Sampling.rendezvousShard(col("k"), 3, "rv"))
      .as[(Long, Int)].collect().toMap
    val moved = with4.filter { case (k, s) => s != 3 && with3(k) != s }
    assert(moved.isEmpty, s"non-removed keys moved: $moved")
    // all shards are populated (sanity on the hash spread)
    assert(with4.values.toSet == Set(0, 1, 2, 3))
  }

  test("json quarantine detector fires on non-object payloads") {
    // Spark 4's PERMISSIVE from_json(STRUCT) never nulls — the MAP
    // schema is what makes the dead-letter counter live (review r9f)
    import org.apache.spark.sql.types.{MapType, StringType}
    val rows = Seq("""{"k": 1}""", "not json", "[1,2]", "123", null)
      .toDF("props")
    val got = rows
      .withColumn("__p", from_json(col("props"),
        MapType(StringType, StringType)))
      .agg(
        sum(when(col("props").isNotNull && col("__p").isNull, 1L)
          .otherwise(0L)).as("malformed"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("nulls"))
      .as[(Long, Long)].head()
    assert(got == ((3L, 1L)), s"got $got")
  }

  test("image dHash: near-copies stay close, different content far") {
    import graft.multimodal.Multimodal
    def img(id: Long, f: (Int, Int) => Int) =
      (id, Multimodal.encodeBmpGray(36, 24, f))
    val base = (x: Int, y: Int) => (x * 7 + y * 3) % 256
    val media = Seq(
      img(1L, base),
      img(2L, (x, y) => (base(x, y) + 2) % 256),      // mild brightness
      img(3L, (x, y) => (255 - x * 11 + y * 5) % 256 match {
        case v if v < 0 => v + 256
        case v => v
      }))                                             // reversed gradient
      .toDF("media_id", "payload")
    val hs = Multimodal.imageDHash(spark, media).collect()
      .map(h => h.media_id -> h.dhash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L), hs(2L)) <= 8,
      s"near-copy distance ${ham(hs(1L), hs(2L))}")
    assert(ham(hs(1L), hs(3L)) >= 16,
      s"different-content distance ${ham(hs(1L), hs(3L))}")
  }

  test("windowed funnel: conversions outside the window are drop-off") {
    import graft.operators.Funnel
    val ev = Seq(
      (1L, "a", 0L), (1L, "b", 100L),        // inside window
      (2L, "a", 0L), (2L, "b", 5000L))       // outside 1000s window
      .toDF("u", "t", "s")
      .withColumn("ts", timestamp_seconds(col("s")))
    val got = Funnel.funnelCounts(ev, "u", "ts", "t", Seq("a", "b"),
        maxSpanSeconds = Some(1000L))
      .orderBy("step").select("step", "n_entities")
      .as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 2L), (2, 1L)), s"got $got")
  }

  test("padding efficiency: padded tokens equal n*max - sum per bucket") {
    import graft.operators.Packing
    val docs = Seq(3L, 5L, 8L, 17L, 19L).toDF("len")
    val got = Packing.paddingEfficiency(docs, col("len"), 10)
      .orderBy("bucket")
      .select("bucket", "n_seqs", "sum_len", "max_len", "padded", "pad_ratio")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // bucket 0: lens 3,5,8 → max 8, padded 24-16=8; bucket 1: 17,19 → 2
    assert(got == Seq(
      (0L, 3L, 16L, 8L, 8L, 0.333333),
      (1L, 2L, 36L, 19L, 2L, 0.052632)), s"got $got")
  }

  /** Shared 60-row, 3-cluster, 4-d embedding fixture for the persisted
    * ANN index family specs. */
  /** The constant-occupancy index builds the declared queries make:
    * quantizer and skew cap derived from the corpus count under
    * `sizing`, which meta pins. */
  private def buildIvfUnder(corpus: org.apache.spark.sql.DataFrame,
      dir: String, sizing: Sizing, skewFactor: Int = 64,
      trainFraction: Double = 1.0): Unit = {
    val n = corpus.count()
    graft.operators.Similarity.buildIvfIndex(corpus, "id", "v", dir,
      sizing.quantizer(n), trainIters = 2, trainFraction,
      sizing.maxCell(n, skewFactor), sizing)
  }

  private def buildKnnUnder(corpus: org.apache.spark.sql.DataFrame,
      dir: String, k: Int, sizing: Sizing, skewFactor: Int = 64,
      trainFraction: Double = 1.0): Unit = {
    val n = corpus.count()
    graft.operators.Similarity.buildKnnGraphIndex(corpus, "id", "v", dir,
      k, sizing.quantizer(n), trainIters = 2, trainFraction,
      sizing.maxCell(n, skewFactor), sizing)
  }

  /** A persisted index's quantizer read back from disk. */
  private def persistedCentroids(dir: String,
      levelDirs: Seq[String]): graft.operators.Similarity.Centroids =
    graft.operators.Similarity.Centroids(
      spark.read.parquet(s"$dir/centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq,
      levelDirs.map(p => spark.read.parquet(p)
        .select(col("ccell"), col("cell_id"), col("cv"))))

  private def annFixture = {
    val bases = Vector(
      Vector(1.0, 0.1, 0.0, 0.0), Vector(0.0, 1.0, 0.1, 0.0),
      Vector(0.0, 0.0, 1.0, 0.1))
    (0 until 60).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      val vec: Seq[Float] = bases(c).zipWithIndex.map { case (x, j) =>
        (x + (if (j == c) jit else jit / 3)).toFloat }
      (i.toLong, vec)
    }.toDF("id", "v")
  }

  test("hierarchical IVF index: family-blind append/probe/members/" +
      "maintain under the persisted two-level quantizer; full-probe " +
      "serve equals brute force (r15, VERDICT r14 #1 — the streaming " +
      "semantic gate's constant-occupancy mode)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_hier").toString + "/idx"
    val all = annFixture
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val corpusA = all.filter(col("id") < 40)
    val batchB = all.filter(col("id") >= 40)
    buildIvfUnder(corpusA, dir, Sizing.TwoLevel(8), trainFraction = 0.5)
    // the constant dial is pinned in meta; the fine table persists
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Int]("occupancy") == 8, "occupancy not pinned")
    assert(spark.read.parquet(s"$dir/centroids_level_1").count() > 0)
    // the SHARED append path detects the hier quantizer: the batch's
    // cells equal the persisted coarse+fine walk's assignment
    Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
    val cent = persistedCentroids(dir, Seq(s"$dir/centroids_level_1"))
    val refCells = Similarity.assignCells(batchB, "id", "v", cent)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toSet
    def appended() = spark.read.parquet(s"$dir/assigned")
      .filter(col("batch_id") === 0L)
      .select(col("neighbor_id"), col("cell"))
      .as[(Long, Long)].collect().toSet
    assert(appended() == refCells,
      "append assigned under something other than the persisted hier quantizer")
    // replay: the overwrite-per-batchId append is idempotent
    Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
    assert(appended() == refCells, "replay changed the appended cells")
    // full-coarse, full-fine probe == brute force over the whole corpus
    val queries = all.filter(col("id").isin(0L, 1L, 50L))
    val nFineTotal = cent.levels.head.count().toInt
    def serve() = Similarity.ivfTopKFromIndex(queries, dir, "id", "v",
        k = 5, nProbe = nFineTotal, nProbeCoarse = cent.coarse.size)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val bf = Similarity.bruteForceTopK(queries, all, "id", "v", k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val s1 = serve()
    assert(s1 == bf, "full-probe hier serve != brute force")
    // compaction is serve-invisible and family-blind
    Similarity.compactIvfIndex(spark, dir)
    assert(serve() == s1, "compact changed the served top-k")
    // gate probe: semDedupAgainstIndex pairs equal the frozen-hier
    // full-recompute restricted to batch-involving pairs
    val batchC = Seq(
      (100L, Seq(1.0, 0.1, 0.0, 0.0)),   // clone of cluster-0 base
      (101L, Seq(-5.0, 0.2, -4.0, 1.0))  // far from everything
    ).toDF("id", "v")
    val gotPairs = Similarity.semDedupAgainstIndex(batchC, dir, "id",
        "v", threshold = 0.99, maxCell = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unionAssign = Similarity.assignCells(all.unionByName(batchC),
        "id", "v", cent).localCheckpoint(false)
    val refPairs = unionAssign.as("a").join(unionAssign.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.id") =!= col("b.id") && col("b.id") >= 100L &&
          (col("a.id") < 100L || col("a.id") < col("b.id")))
      .withColumn("sim", round(
        graft.functions.VectorFns.cosineFast(col("a.v"), col("b.v")), 6))
      .filter(col("sim") >= 0.99)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(gotPairs == refPairs,
      s"hier gate probe != frozen full recompute: $gotPairs vs $refPairs")
    assert(gotPairs.exists(_._2 == 100L) && !gotPairs.exists(_._2 == 101L),
      "fixture must catch the clone and pass the novel vector")
    // maintain: healthy hier index untouched; a drifted one retrains
    // at the PINNED constant occupancy
    val dir2 = java.nio.file.Files
      .createTempDirectory("ivf_hier_m").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    buildIvfUnder(
      Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
        mk(11, 0.1, 0.9)).toDF("id", "v"),
      dir2, Sizing.TwoLevel(4), skewFactor = 2) // pinned max_cell = 8
    assert(!Similarity.maintainIvfIndex(spark, dir2),
      "healthy hier IVF index was rebuilt")
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    Similarity.appendToIvfIndex(flood, "id", "v", dir2, batchId = 0L)
    assert(Similarity.maintainIvfIndex(spark, dir2),
      "drifted hier IVF index not rebuilt")
    val meta2 = spark.read.parquet(s"$dir2/meta").collect()(0)
    assert(meta2.getAs[Int]("occupancy") == 4,
      "maintain moved the pinned constant-occupancy dial")
    assert(spark.read.parquet(s"$dir2/centroids_level_1").count() > 1,
      "retrain did not rescale the fine layer")
    // nothing lost: every vector (build + flood) is still assigned
    assert(spark.read.parquet(s"$dir2/assigned")
      .select("neighbor_id").as[Long].collect().toSet ==
      (Set(1L, 2L, 10L, 11L) ++ (0 until 12).map(100L + _)),
      "rebuild lost vectors")
  }

  test("tree knn-graph index at branch 2: append+serve equals the " +
      "frozen-tree full recompute, replay and compact are invisible, " +
      "maintain retrains at the PINNED (occupancy, branch) (r15, " +
      "VERDICT r14 #3 — the asymptotic mode persisted)") {
    import graft.operators.Similarity
    import graft.functions.VectorFns
    val dir = java.nio.file.Files
      .createTempDirectory("knn_tree").toString + "/idx"
    val all = annFixture
    val corpusA = all.filter(col("id") < 40)
    val batchB = all.filter(col("id") >= 40)
    // occ 2, branch 2 on 40 rows → 20 cells → level sizes force REAL
    // depth (≥ 3 levels), not the depth-1 flat degeneration
    buildKnnUnder(corpusA, dir, k = 3, Sizing.Tree(2, branch = 2),
      trainFraction = 0.5)
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Int]("occupancy") == 2 &&
      meta.getAs[Int]("branch") == 2 && meta.getAs[Int]("k") == 3,
      "tree dials not pinned in meta")
    val levelDirs = Iterator.from(1)
      .map(i => s"$dir/centroids_level_$i")
      .takeWhile(p => new java.io.File(p).exists).toSeq
    assert(levelDirs.size >= 2,
      s"branch-2 fixture must persist a real multi-level tree: $levelDirs")
    // the shared append path walks the persisted levels
    Similarity.appendToKnnGraphIndex(batchB, "id", "v", dir, batchId = 0L)
    def served() = Similarity.knnGraphFromIndex(spark, dir)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val s1 = served()
    // reference: assign the UNION under the PERSISTED frozen tree,
    // within-cell top-k — build + append must equal the recompute
    val assigned = Similarity.assignCells(all, "id", "v",
      persistedCentroids(dir, levelDirs)).localCheckpoint(false)
    val ref = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(VectorFns.cosineFast(col("a.v"), col("b.v")), 6).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(s1 == ref, "tree index serve != frozen-tree recompute")
    // replay + compact are serve-invisible
    Similarity.appendToKnnGraphIndex(batchB, "id", "v", dir, batchId = 0L)
    assert(served() == s1, "replay changed the served graph")
    Similarity.compactKnnGraphIndex(spark, dir)
    assert(served() == s1, "compact changed the served graph")
    // maintain: drift retrains at the PINNED (occupancy, branch)
    val dir2 = java.nio.file.Files
      .createTempDirectory("knn_tree_m").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    buildKnnUnder(
      Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
        mk(11, 0.1, 0.9)).toDF("id", "v"),
      dir2, k = 2, Sizing.Tree(4, branch = 2),
      skewFactor = 2) // pinned max_cell = 8
    assert(!Similarity.maintainKnnGraphIndex(spark, dir2),
      "healthy tree index was rebuilt")
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    Similarity.appendToKnnGraphIndex(flood, "id", "v", dir2, batchId = 0L)
    assert(Similarity.maintainKnnGraphIndex(spark, dir2),
      "drifted tree index not rebuilt")
    val meta2 = spark.read.parquet(s"$dir2/meta").collect()(0)
    assert(meta2.getAs[Int]("occupancy") == 4 &&
      meta2.getAs[Int]("branch") == 2,
      "maintain moved the pinned (occupancy, branch) dials")
    // 16 rows at occ 4 → 4 cells at branch 2 → a REAL level table now
    assert(new java.io.File(s"$dir2/centroids_level_1").exists,
      "rescaled tree retrain did not persist its level table")
    assert(Similarity.knnGraphFromIndex(spark, dir2)
      .select("query_id").as[Long].collect().toSet.size >= 12,
      "rescaled tree quantizer fragmented the corpus")
  }

  test("pair-volume re-key: the graph builders' heap aggregation is " +
      "result-identical when the pair stream re-keys by query_id " +
      "(r15 — the per-task fallback-sorter bound behind the sf100 " +
      "32-thread completion)") {
    import graft.operators.Similarity
    val corpus = annFixture
    def graphs() = (
      Similarity.knnGraph(corpus, "id", "v", k = 3, nCells = 6,
          trainIters = 2, trainFraction = 0.5, maxCell = 100)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq,
      Similarity.knnGraph(corpus, "id", "v", k = 3,
          nCells = Quantizer.Levels(Seq(3, 3)), trainIters = 2,
          trainFraction = 0.5, maxCell = 100)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq,
      Similarity.knnGraph(corpus, "id", "v", k = 3,
          nCells = Sizing.Tree(8, branch = 4).quantizer(corpus.count()),
          trainIters = 2, trainFraction = 0.5, maxCell = 100)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Double, Int)].collect().toSeq)
    val (flat0, hier0, tree0) = graphs()
    assert(flat0.nonEmpty && hier0.nonEmpty && tree0.nonEmpty)
    // one pair row per task, hash regime disabled (r16: a session
    // whose fallbackThreshold can hash the key load skips the re-key
    // entirely — threshold 1 forces the sort/re-key regime so this
    // spec keeps exercising the re-keyed plan): every builder takes
    // the re-keyed plan
    val thresholdKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevThreshold = spark.conf.get(thresholdKey)
    sys.props("graft.pairRowsPerTask") = "1"
    spark.conf.set(thresholdKey, "1")
    try {
      val (flat1, hier1, tree1) = graphs()
      assert(flat1 == flat0, "re-keyed flat graph != default plan")
      assert(hier1 == hier0, "re-keyed hier graph != default plan")
      assert(tree1 == tree0, "re-keyed tree graph != default plan")
    } finally {
      sys.props.remove("graft.pairRowsPerTask")
      spark.conf.set(thresholdKey, prevThreshold)
    }
    // hash regime (r16, VERDICT r15 #2): a threshold above the key
    // load skips the re-key — the partial agg hash-combines map-side
    // — and must be result-identical too
    spark.conf.set(thresholdKey,
      graft.GraftConf.recommendedHashAggKeys().toString)
    try {
      val (flat2, hier2, tree2) = graphs()
      assert(flat2 == flat0, "hash-regime flat graph != default plan")
      assert(hier2 == hier0, "hash-regime hier graph != default plan")
      assert(tree2 == tree0, "hash-regime tree graph != default plan")
    } finally spark.conf.set(thresholdKey, prevThreshold)
    // MID-threshold regime (r17): a threshold that lets an agg map
    // grow and THEN dump into the external sorter — the shape the
    // derived session conf put the hier Lloyd reassembly fold in at
    // sf100 before that fold was clustered on its key (the
    // trainFineLevel repartition). Values must not depend on where
    // the fallback lands mid-map.
    spark.conf.set(thresholdKey, "4")
    try {
      val (flat3, hier3, tree3) = graphs()
      assert(flat3 == flat0, "mid-fallback flat graph != default plan")
      assert(hier3 == hier0, "mid-fallback hier graph != default plan")
      assert(tree3 == tree0, "mid-fallback tree graph != default plan")
    } finally spark.conf.set(thresholdKey, prevThreshold)
  }

  test("fine-side shuffle-join regime: assignments and serves are " +
      "identical when the deepest level exceeds the broadcast dial " +
      "(r15, VERDICT r14 #2 — uncapped constant occupancy)") {
    import graft.operators.Similarity
    val all = annFixture
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_hier_shuffle").toString + "/idx"
    buildIvfUnder(all.filter(col("id") < 40), dir, Sizing.TwoLevel(8),
      trainFraction = 0.5)
    val queries = all.filter(col("id").isin(0L, 1L, 50L))
    val nFineTotal = spark.read.parquet(s"$dir/centroids_level_1")
      .count().toInt
    def serve() = Similarity.ivfTopKFromIndex(queries, dir, "id", "v",
        k = 5, nProbe = nFineTotal, nProbeCoarse = 64)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    def treePairs() = Similarity.semDedupPairs(all, "id", "v",
        nCells = Sizing.Tree(2, branch = 2).quantizer(all.count()),
        trainIters = 2, trainFraction = 0.5, threshold = 0.8,
        maxCell = 100)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val broadcastServe = serve()
    val broadcastPairs = treePairs()
    // force the parent-keyed shuffle join on every fine-level walk
    sys.props("graft.fineBroadcastMaxRows") = "1"
    try {
      assert(serve() == broadcastServe,
        "shuffle-regime hier probe != broadcast-regime probe")
      assert(treePairs() == broadcastPairs,
        "shuffle-regime tree descent != broadcast-regime descent")
      // the uncapped dial also feeds appends: same cells either way
      val batchB = all.filter(col("id") >= 40)
      Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
      val shuffled = spark.read.parquet(s"$dir/assigned")
        .filter(col("batch_id") === 0L)
        .select("neighbor_id", "cell").as[(Long, Long)].collect().toSet
      sys.props.remove("graft.fineBroadcastMaxRows")
      Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
      val broadcasted = spark.read.parquet(s"$dir/assigned")
        .filter(col("batch_id") === 0L)
        .select("neighbor_id", "cell").as[(Long, Long)].collect().toSet
      assert(shuffled == broadcasted,
        "append assignment depends on the join-strategy dial")
    } finally sys.props.remove("graft.fineBroadcastMaxRows")
  }

  test("tree IVF index at branch 2: family-blind append/probe/gate/" +
      "maintain under the persisted log-depth quantizer; full-probe " +
      "serve equals brute force and maintain retrains at the PINNED " +
      "(occupancy, branch) (r16, VERDICT r15 #1 — the production " +
      "semantic gate's asymptotic mode persisted)") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_tree").toString + "/idx"
    val all = annFixture
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val corpusA = all.filter(col("id") < 40)
    val batchB = all.filter(col("id") >= 40)
    // occ 2, branch 2 on 40 rows → 20 cells → REAL depth (≥ 2 fine
    // levels), not the depth-1 flat degeneration
    buildIvfUnder(corpusA, dir, Sizing.Tree(2, branch = 2),
      trainFraction = 0.5)
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Int]("occupancy") == 2 &&
      meta.getAs[Int]("branch") == 2,
      "tree dials not pinned in meta")
    val levelDirs = Iterator.from(1)
      .map(i => s"$dir/centroids_level_$i")
      .takeWhile(p => new java.io.File(p).exists).toSeq
    assert(levelDirs.size >= 2,
      s"branch-2 fixture must persist a real multi-level tree: $levelDirs")
    // the SHARED append path walks the persisted levels: the batch's
    // cells equal the frozen-tree walk's assignment
    Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
    val cent = persistedCentroids(dir, levelDirs)
    val refCells = Similarity.assignCells(batchB, "id", "v", cent)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toSet
    def appended() = spark.read.parquet(s"$dir/assigned")
      .filter(col("batch_id") === 0L)
      .select(col("neighbor_id"), col("cell"))
      .as[(Long, Long)].collect().toSet
    assert(appended() == refCells,
      "append assigned under something other than the persisted tree")
    // replay: the overwrite-per-batchId append is idempotent
    Similarity.appendToIvfIndex(batchB, "id", "v", dir, batchId = 0L)
    assert(appended() == refCells, "replay changed the appended cells")
    // full-probe serve (every level fully probed) == brute force
    val queries = all.filter(col("id").isin(0L, 1L, 50L))
    val nDeepest = cent.levels.last.count().toInt
    def serve() = Similarity.ivfTopKFromIndex(queries, dir, "id", "v",
        k = 5, nProbe = nDeepest, nProbeCoarse = corpusA.count().toInt)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val bf = Similarity.bruteForceTopK(queries, all, "id", "v", k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val s1 = serve()
    assert(s1 == bf, "full-probe tree serve != brute force")
    // compaction is serve-invisible and family-blind
    Similarity.compactIvfIndex(spark, dir)
    assert(serve() == s1, "compact changed the served top-k")
    // gate probe: semDedupAgainstIndex pairs equal the frozen-tree
    // full-recompute restricted to batch-involving pairs
    val batchC = Seq(
      (100L, Seq(1.0, 0.1, 0.0, 0.0)),   // clone of cluster-0 base
      (101L, Seq(-5.0, 0.2, -4.0, 1.0))  // far from everything
    ).toDF("id", "v")
    val gotPairs = Similarity.semDedupAgainstIndex(batchC, dir, "id",
        "v", threshold = 0.99, maxCell = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unionAssign = Similarity.assignCells(all.unionByName(batchC),
        "id", "v", cent).localCheckpoint(false)
    val refPairs = unionAssign.as("a").join(unionAssign.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.id") =!= col("b.id") && col("b.id") >= 100L &&
          (col("a.id") < 100L || col("a.id") < col("b.id")))
      .withColumn("sim", round(
        graft.functions.VectorFns.cosineFast(col("a.v"), col("b.v")), 6))
      .filter(col("sim") >= 0.99)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(gotPairs == refPairs,
      s"tree gate probe != frozen full recompute: $gotPairs vs $refPairs")
    assert(gotPairs.exists(_._2 == 100L) && !gotPairs.exists(_._2 == 101L),
      "fixture must catch the clone and pass the novel vector")
    // maintain: healthy tree index untouched; a drifted one retrains
    // at the PINNED (occupancy, branch) — the r16 dispatch arm
    val dir2 = java.nio.file.Files
      .createTempDirectory("ivf_tree_m").toString + "/idx"
    val mk = (id: Long, x: Double, y: Double) =>
      (id, Seq(x.toFloat, y.toFloat))
    buildIvfUnder(
      Seq(mk(1, 1.0, 0.0), mk(2, 0.9, 0.1), mk(10, 0.0, 1.0),
        mk(11, 0.1, 0.9)).toDF("id", "v"),
      dir2, Sizing.Tree(4, branch = 2), skewFactor = 2) // pinned max_cell = 8
    assert(!Similarity.maintainIvfIndex(spark, dir2),
      "healthy tree IVF index was rebuilt")
    val flood = (0 until 12).map { i =>
      val a = i * (math.Pi / 2) / 12
      mk(100L + i, math.cos(a), math.sin(a))
    }.toDF("id", "v")
    Similarity.appendToIvfIndex(flood, "id", "v", dir2, batchId = 0L)
    assert(Similarity.maintainIvfIndex(spark, dir2),
      "drifted tree IVF index not rebuilt")
    val meta2 = spark.read.parquet(s"$dir2/meta").collect()(0)
    assert(meta2.getAs[Int]("occupancy") == 4 &&
      meta2.getAs[Int]("branch") == 2,
      "maintain moved the pinned (occupancy, branch) dials")
    // 16 rows at occ 4 → 4 cells at branch 2 → a REAL level table now
    assert(new java.io.File(s"$dir2/centroids_level_1").exists,
      "rescaled tree retrain did not persist its level table")
    // nothing lost: every vector (build + flood) is still assigned
    assert(spark.read.parquet(s"$dir2/assigned")
      .select("neighbor_id").as[Long].collect().toSet ==
      (Set(1L, 2L, 10L, 11L) ++ (0 until 12).map(100L + _)),
      "rebuild lost vectors")
    // depth-1 degeneration: nCells ≤ branch persists NO level table —
    // exactly the flat buildIvfIndex layout (family marker absent)
    val dir3 = java.nio.file.Files
      .createTempDirectory("ivf_tree_d1").toString + "/idx"
    buildIvfUnder(Seq(mk(1, 1.0, 0.0), mk(2, 0.0, 1.0)).toDF("id", "v"),
      dir3, Sizing.Tree(4, branch = 64))
    assert(!new java.io.File(s"$dir3/centroids_level_1").exists,
      "depth-1 tree build persisted a level table")
  }

  test("hash-regime heap guard: the re-key skip is bounded in BYTES, " +
      "not just key count — a session whose heap budget cannot hold " +
      "the expected aggregation maps routes back to the memory-safe " +
      "re-key, result-identical (r17, VERDICT r16 #1)") {
    import graft.operators.Similarity
    val corpus = annFixture
    def graph() = Similarity.knnGraph(corpus, "id", "v", k = 3,
      nCells = Sizing.Tree(8, branch = 4).quantizer(corpus.count()),
      trainIters = 2, trainFraction = 0.5, maxCell = 100)
    def collected(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    def rekeyed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.toString
        .contains("RepartitionByExpression")
    val baseline = collected(graph())
    assert(baseline.nonEmpty)
    // raise the threshold so the KEY-COUNT term always passes and one
    // pair row per task so the re-key, when taken, is plan-visible
    val thresholdKey =
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prevThreshold = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, (1L << 21).toString)
    sys.props("graft.pairRowsPerTask") = "1"
    try {
      // ample budget: the load hashes — no re-key in the plan (the
      // r16 regime, now passing through the byte bound too)
      sys.props("graft.hashAggHeapBudgetBytes") = Long.MaxValue.toString
      val hashed = graph()
      assert(!rekeyed(hashed),
        "ample-budget plan took the re-key despite a hashable load")
      assert(collected(hashed) == baseline, "hash regime changed values")
      // starved budget: the SAME key count no longer fits in bytes —
      // the guard must route to the re-key even though the session
      // threshold would hash it (the exact fifth-decade bypass the
      // count-only r16 condition had)
      sys.props("graft.hashAggHeapBudgetBytes") = "1"
      val guarded = graph()
      assert(rekeyed(guarded),
        "starved-budget plan skipped the re-key — the heap guard " +
          "is not bounding bytes")
      assert(collected(guarded) == baseline, "re-key regime changed values")
    } finally {
      sys.props.remove("graft.hashAggHeapBudgetBytes")
      sys.props.remove("graft.pairRowsPerTask")
      spark.conf.set(thresholdKey, prevThreshold)
    }
  }

  test("q_semdedup_h_sj storage contract: the declared shuffle-regime " +
      "query pins its output DISK-backed, never memory-unrolled — the " +
      "r16 sf100 MemoryStore OOM cannot silently regress (r17, VERDICT " +
      "r16 #4); the forced regime rides the fineBroadcastRows " +
      "PARAMETER, no sys.props mutation (VERDICT r16 #3)") {
    val before = sys.props.get("graft.fineBroadcastMaxRows")
    assert(before.isEmpty, s"dial leaked into the suite: $before")
    val out = SparkEntry.queries("q_semdedup_h_sj")(spark, sf)
    try {
      val lvl = out.storageLevel
      assert(lvl.useDisk && !lvl.useMemory,
        s"q_semdedup_h_sj must pin DISK_ONLY, got $lvl")
      assert(sys.props.get("graft.fineBroadcastMaxRows").isEmpty,
        "declared query mutated the process-global dial")
      assert(out.count() > 0, "shuffle-regime query returned no pairs")
    } finally out.unpersist()
  }

  test("keyword index compact at a streaming boundary judges WITHOUT " +
      "the excluded batch on the capped keep-list too: batch-local " +
      "tombstones from the replayed batch must not shed the base's " +
      "under-cap postings (r16 minusBatch fix, regression per ADVICE " +
      "r16)") {
    import graft.operators.Retrieval
    val dir = s"/tmp/graft_kwidx_boundary_${java.util.UUID.randomUUID()}"
    // base: "hot" df=2 ≤ cap=3 — legitimately served
    Retrieval.buildKeywordIndex(
      Seq((1L, "hot alpha"), (2L, "hot beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, maxDf = Some(3L))
    def hits(term: String) = Retrieval.bm25SearchFromIndex(spark, dir,
      "doc_id", Seq(term), 20).select("doc_id").as[Long].collect().toSet
    assert(hits("hot") == Set(1L, 2L))
    // batch 7 pushes "hot" over the cap (2 + 2 > 3): its own rows are
    // dropped and a BATCH-LOCAL tombstone lands under pruned/batch_id=7
    val batch = Seq((30L, "hot gamma"), (31L, "hot delta"))
      .toDF("doc_id", "text")
    Retrieval.appendToKeywordIndex(batch, "doc_id", "text", dir,
      batchId = 7L)
    assert(spark.read.parquet(s"$dir/pruned")
        .filter($"batch_id" === 7L).select("term")
        .as[String].collect().toSet == Set("hot"),
      "fixture broken: batch 7 wrote no batch-local tombstone")
    // the boundary compact EXCLUDES batch 7 (a streaming gate
    // compacting at its own micro-batch boundary): the fold must judge
    // as a first attempt would — without batch 7, "hot" is under cap
    // and has NO standing tombstone, so its base postings survive.
    // Pre-fix, the keep-list anti-join read batch 7's tombstone and
    // permanently dropped them (the idf resurrection's mirror image).
    Retrieval.compactKeywordIndex(spark, dir, "doc_id",
      excludeBatchId = Some(7L))
    assert(hits("hot") == Set(1L, 2L),
      "boundary compact shed base postings on a batch-local tombstone")
    // the replayed batch re-judges against exactly what its first
    // attempt saw: rows dropped again, tombstone rewritten — no drift
    Retrieval.appendToKeywordIndex(batch, "doc_id", "text", dir,
      batchId = 7L)
    assert(hits("hot") == Set(1L, 2L), "replay changed the index")
    // only the over-cap TERM's postings are dropped — the batch docs'
    // under-cap terms keep serving (the append contract)
    assert(hits("gamma") == Set(30L) && hits("delta") == Set(31L),
      "under-cap terms from the replayed batch must keep serving")
    // beyond the replay horizon a FULL compact folds batch 7's
    // standing tombstone and sheds the term everywhere — the durable
    // cap contract, unchanged
    Retrieval.compactKeywordIndex(spark, dir, "doc_id")
    assert(hits("hot").isEmpty,
      "full compact must honor the standing tombstone")
  }

  test("tree level sizes at FORCED dials pin the depth-sweep geometry " +
      "(r17, VERDICT r16 #4): smaller branches trade deeper trees for " +
      "fewer assignment sims, and the persisted build walks exactly " +
      "those levels") {
    import graft.operators.Similarity
    // the sf100 corpus (2M vectors, occ 32 → 62,500 cells) under the
    // production dial and the two forced sweep dials — the shapes the
    // BASELINE.md depth-sweep rows measure
    assert(Similarity.treeLevelSizes(2000000L, 32, 64) ==
      Seq(16, 64, 64), "natural sf100 tree moved")
    assert(Similarity.treeLevelSizes(2000000L, 32, 16) ==
      Seq(16, 16, 16, 16), "forced branch-16 depth-4 tree moved")
    assert(Similarity.treeLevelSizes(2000000L, 32, 8) ==
      Seq(2, 8, 8, 8, 8, 8), "forced branch-8 depth-6 tree moved")
    // sf10 (200k vectors) at branch 4: depth 7, the deepest measured
    assert(Similarity.treeLevelSizes(200000L, 32, 4) ==
      Seq(2, 4, 4, 4, 4, 4, 4), "forced branch-4 depth-7 tree moved")
    // per-row assignment work is Σ sizes: the sweep's model column
    assert(Seq(64, 16, 8).map(b =>
      Similarity.treeLevelSizes(2000000L, 32, b).sum) == Seq(144, 64, 42))
    // and a PERSISTED build at a forced deep dial walks exactly the
    // predicted levels: 60 rows, occ 2, branch 2 → [2,2,2,2,2] —
    // 4 persisted fine levels under the driver-literal coarse layer
    val sizes = Similarity.treeLevelSizes(60L, 2, 2)
    assert(sizes == Seq(2, 2, 2, 2, 2))
    val dir = java.nio.file.Files
      .createTempDirectory("ivf_tree_deep").toString + "/idx"
    val all = annFixture
      .select(col("id"), col("v").cast("array<double>").as("v"))
    buildIvfUnder(all, dir, Sizing.Tree(2, branch = 2),
      trainFraction = 0.5)
    val levelDirs = Iterator.from(1)
      .map(i => s"$dir/centroids_level_$i")
      .takeWhile(p => new java.io.File(p).exists).toSeq
    assert(levelDirs.size == sizes.length - 1,
      s"depth-5 build persisted ${levelDirs.size} levels, " +
        s"expected ${sizes.length - 1}")
    // every level's per-parent fan-out respects the pinned branch
    levelDirs.foreach { p =>
      val over = spark.read.parquet(p).groupBy("ccell")
        .count().filter($"count" > 2).count()
      assert(over == 0, s"$p has a parent wider than branch=2")
    }
    // full-probe serve through the deep tree equals brute force
    val queries = all.filter(col("id").isin(0L, 7L, 23L))
    val nFineTotal = spark.read.parquet(levelDirs.last).count().toInt
    val served = Similarity.ivfTopKFromIndex(queries, dir, "id", "v",
        k = 3, nProbe = nFineTotal, nProbeCoarse = 64)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val brute = Similarity.bruteForceTopK(queries, all, "id", "v", k = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(served == brute,
      "depth-5 full-probe serve diverged from brute force")
  }
}
