package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval, Similarity}
import graft.streaming.StreamingFeatures

/** Daily LLM-corpus ingest through the six persisted index families.
  *
  * The timed part first builds every family over the bootstrap corpus
  * (span, MinHash, IVF, keyword, PQ, k-NN graph), then runs
  * `compactEvery` days, so that every run folds real deltas once: each
  * day's documents go through the span gate, the MinHash gate and the
  * keyword index; its vectors through the semantic (IVF) gate, the PQ
  * index and the k-NN-graph index; every family compacts every
  * `compactEvery` days before the day's gates, excluding the day's own
  * batch id (the placement the gates' own `compactEvery` uses); the
  * day ends with one IVF, one BM25 and one k-NN-graph probe.
  *
  * After the timed region every family compacts, and its final probe
  * must equal the same probe over an index rebuilt in one shot from
  * the bootstrap corpus plus everything the gates let through. */
final class CorpusIngest(spark: SparkSession, data: String, work: String,
    seed: Long, trace: Trace, p: Map[String, String]) extends Workload {
  import spark.implicits._

  private val compactEvery = 2 // days
  private val rnd = new scala.util.Random(seed)
  private val Families = Seq("span", "minhash", "ivf", "keyword", "pq", "knn")
  private val Gates = Seq("span_gate", "minhash_gate", "semantic_gate",
    "keyword_index", "pq_index", "knn_index")
  private val Terms = Seq("spark", "join", "vector", "window", "hash", "query")

  private def docs(name: String) = spark.read.parquet(s"$data/$name")
  private val bootDocs = docs("documents.parquet").select("doc_id", "text")
  private val bootVecs = docs("embeddings.parquet").select("vec_id", "embedding")
  private def dayDocs(d: Int) = docs(f"days/docs_$d%03d.parquet").select("doc_id", "text")
  private def dayVecs(d: Int) = docs(f"days/vecs_$d%03d.parquet").select("vec_id", "embedding")

  /** One set of index directories plus what the gates let through. */
  private final class State(val root: String) {
    def dir(f: String) = s"$root/$f"
    var corpusText: DataFrame = bootDocs
    val spanKept, mhKept, semKept = ArrayBuffer.empty[DataFrame]
  }
  private var st: State = _
  private var days = 0
  private var lastQids = Seq.empty[Long]
  private val keptIn = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val keptOut = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var recall = 0.0

  private def ivfCells(n: Long) = Similarity.cellsForOccupancy(n, Similarity.balancedOccupancy(n))
  private def knnMaxCell(n: Long) = math.min(Int.MaxValue.toLong, 64L * Similarity.balancedOccupancy(n)).toInt

  private def buildAll(s: State, d: DataFrame, v: DataFrame): Unit = {
    val n = v.count()
    def b(f: String)(body: => Unit): Unit = trace.span(s"operators.${f}_build")(body)
    b("span")(Dedup.buildSpanIndex(d, "text", "doc_id", 8, s.dir("span")))
    b("minhash")(Dedup.buildMinhashIndex(d, "text", "doc_id", s.dir("minhash")))
    b("ivf")(Similarity.buildIvfIndex(v, "vec_id", "embedding", s.dir("ivf"), nCells = ivfCells(n)))
    b("keyword")(Retrieval.buildKeywordIndex(d, "doc_id", "text", s.dir("keyword")))
    b("pq")(Similarity.buildPqIndex(v, "vec_id", "embedding", s.dir("pq")))
    b("knn")(Similarity.buildKnnGraphIndex(v, "vec_id", "embedding", s.dir("knn"), k = 5,
      nCells = ivfCells(n), trainIters = 2, trainFraction = 0.25, maxCell = knnMaxCell(n)))
  }

  /** Every family's compaction, one after the other (as a day runs
    * them, traced), or on parallel driver threads (the untimed check). */
  private def compactAll(s: State, exclude: Option[Long], parallel: Boolean = false): Unit = {
    def c(f: String)(body: => Unit): () => Unit =
      () => trace.span(s"operators.${f}_compact")(body)
    val all = Seq(
      c("span")(Dedup.compactSpanIndex(spark, s.dir("span"), excludeBatchId = exclude)),
      c("minhash")(Dedup.compactMinhashIndex(spark, s.dir("minhash"), excludeBatchId = exclude)),
      c("ivf")(Similarity.compactIvfIndex(spark, s.dir("ivf"), excludeBatchId = exclude)),
      c("keyword")(Retrieval.compactKeywordIndex(spark, s.dir("keyword"), "doc_id",
        excludeBatchId = exclude)),
      c("pq")(Similarity.compactPqIndex(spark, s.dir("pq"), excludeBatchId = exclude)),
      c("knn")(Similarity.compactKnnGraphIndex(spark, s.dir("knn"), excludeBatchId = exclude)))
    if (parallel) par(all) else all.foreach(_())
  }

  /** One gate call: the kept frame, with rows in/out counted. */
  private def gate(name: String, in: Long)(body: => DataFrame): (DataFrame, Long) =
    trace.span(s"streaming.$name") {
      val out = body
      val n = out.count() // the sink: the gate's output is pinned
      if (trace.on) { keptIn(name) += in; keptOut(name) += n }
      (out, n)
    }

  private def probes(s: State, qv: DataFrame, qids: Seq[Long],
      terms: Seq[String]): Seq[Array[Row]] =
    trace.span("operators.probe") {
      Seq(
        Similarity.ivfTopKFromIndex(qv, s.dir("ivf"), "vec_id", "embedding", k = 10).collect(),
        Retrieval.bm25SearchFromIndex(spark, s.dir("keyword"), "doc_id", terms, k = 10).collect(),
        Similarity.knnGraphFromIndex(spark, s.dir("knn"))
          .filter(col("query_id").isin(qids: _*)).collect())
    }

  private def day(s: State, d: Int, dd: DataFrame, dv: DataFrame): Unit = {
    if ((d + 1) % compactEvery == 0) compactAll(s, Some(d.toLong))
    val (nd, nv) = (p("day_docs").toLong, p("day_vecs").toLong)
    val (k1, n1) = gate("span_gate", nd)(
      StreamingFeatures.spanGateBatch(dd, "text", "doc_id", s.dir("span"), d, k = 8))
    val (k2, n2) = gate("minhash_gate", n1)(
      StreamingFeatures.minhashGateBatch(k1, s.corpusText, "text", "doc_id", s.dir("minhash"), d))
    gate("keyword_index", n2)(
      StreamingFeatures.keywordIndexBatch(k2, "text", "doc_id", s.dir("keyword"), d))
    val (k3, n3) = gate("semantic_gate", nv)(
      StreamingFeatures.semanticGateBatch(dv, "vec_id", "embedding", s.dir("ivf"), d))
    gate("pq_index", n3)(StreamingFeatures.pqIndexBatch(k3, "vec_id", "embedding", s.dir("pq"), d))
    gate("knn_index", n3)(
      StreamingFeatures.knnGraphIndexBatch(k3, "vec_id", "embedding", s.dir("knn"), d))
    s.spanKept += k1; s.mhKept += k2; s.semKept += k3
    s.corpusText = s.corpusText.unionByName(k2.select("doc_id", "text"))
    lastQids = k3.select("vec_id").as[Long].collect().take(10).toSeq
    probes(s, dv.limit(10), lastQids, rnd.shuffle(Terms).take(3))
  }

  def prepare(): Unit = {
    // the inputs the timed part reads, pulled through the page cache
    bootDocs.write.format("noop").mode("overwrite").save()
    bootVecs.write.format("noop").mode("overwrite").save()
  }

  /** No separate warm-up: the build that opens the timed part is the
    * workload's cold start, as a daily ingest job sees it. */
  def warmup(): Unit = ()

  /** The build, then `compactEvery` days. */
  def run(): Unit = {
    st = new State(s"$work/ix")
    op("build_ms")(trace.span("build")(buildAll(st, bootDocs, bootVecs)))
    for (d <- 0 until compactEvery) {
      op("day_ms")(trace.span("day", d.toLong)(day(st, d, dayDocs(d), dayVecs(d))))
      days = d + 1
    }
  }

  /** The day's three probes again, against the final indexes. */
  def probe(): Unit = probes(st, dayVecs(days - 1).limit(10), lastQids, Terms.take(3))

  private def digest(rows: Array[Row]): String = Workload.digest(rows, {
    case d: Double => f"$d%.6f"
    case v         => String.valueOf(v)
  })

  private val checks = ArrayBuffer.empty[String]
  private var indexBytes = 0L

  /** Final probe of every family: after compaction, over an index
    * rebuilt from bootstrap plus everything the gates kept. */
  private def finalProbes(s: State, pd: DataFrame, pv: DataFrame): Map[String, String] = {
    val probes = Seq(
      "span" -> Dedup.spanDupStatsAgainst(pd, "text", "doc_id", 8, s.dir("span")),
      "minhash" -> Dedup.minhashNearDupsAgainstIndex(pd, s.corpusText, "text", "doc_id",
        s.dir("minhash")),
      "keyword" -> Retrieval.bm25SearchFromIndex(spark, s.dir("keyword"), "doc_id",
        Seq("spark", "join", "vector"), k = 20),
      "ivf" -> Similarity.ivfTopKFromIndex(pv, s.dir("ivf"), "vec_id", "embedding", k = 10),
      "pq" -> Similarity.pqTopKFromIndex(pv, s.dir("pq"), "vec_id", "embedding", k = 10),
      "knn" -> Similarity.knnGraphFromIndex(spark, s.dir("knn"))
    )
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]
    par(probes.map { case (f, df) => () => { out.put(f, digest(df.collect())); () } })
    Families.map(f => f -> out.get(f)).toMap
  }

  private def par(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  def check(): Unit = {
    compactAll(st, None, parallel = true)
    indexBytes = Workload.parquetBytes(st.root)
    val (pd, pv) = (dayDocs(days), dayVecs(days).limit(20).localCheckpoint())
    val got = finalProbes(st, pd, pv)
    // one-shot rebuild: exact families from the union; the quantized
    // families keep their bootstrap-trained quantizer and take every
    // kept vector in a single append
    val r = new State(s"$work/rebuild")
    def union(xs: Seq[DataFrame], base: DataFrame) = xs.foldLeft(base)(_ unionByName _)
    val allMh = union(st.mhKept.toSeq.map(_.select("doc_id", "text")), bootDocs)
    val allSem = union(st.semKept.toSeq, bootVecs.limit(0))
    val n = bootVecs.count()
    // the families are independent: rebuild them on parallel driver
    // threads (the check is untimed)
    par(Seq(
      () => Dedup.buildSpanIndex(union(st.spanKept.toSeq, bootDocs), "text", "doc_id", 8,
        r.dir("span")),
      () => Dedup.buildMinhashIndex(allMh, "text", "doc_id", r.dir("minhash")),
      () => Retrieval.buildKeywordIndex(allMh, "doc_id", "text", r.dir("keyword")),
      () => {
        Similarity.buildIvfIndex(bootVecs, "vec_id", "embedding", r.dir("ivf"),
          nCells = ivfCells(n))
        Similarity.appendToIvfIndex(allSem, "vec_id", "embedding", r.dir("ivf"), 0L)
      },
      () => {
        Similarity.buildPqIndex(bootVecs, "vec_id", "embedding", r.dir("pq"))
        Similarity.appendToPqIndex(allSem, "vec_id", "embedding", r.dir("pq"), 0L)
      },
      () => {
        Similarity.buildKnnGraphIndex(bootVecs, "vec_id", "embedding", r.dir("knn"), k = 5,
          nCells = ivfCells(n), trainIters = 2, trainFraction = 0.25, maxCell = knnMaxCell(n))
        Similarity.appendToKnnGraphIndex(allSem, "vec_id", "embedding", r.dir("knn"), 0L)
      }))
    r.corpusText = allMh
    val want = finalProbes(r, pd, pv)
    Families.foreach { f =>
      attempted += 1
      val ok = got(f) == want(f)
      if (!ok) failed += 1
      checks += Json.obj(Seq("family" -> Json.str(f), "ok" -> ok.toString))
    }
    // IVF recall against exact search over every indexed vector
    val k = 10
    val approx = Similarity.ivfTopKFromIndex(pv, st.dir("ivf"), "vec_id", "embedding", k = k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(pv, union(Seq(allSem), bootVecs), "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nq = exact.map(_._1).size
    recall = if (nq == 0) 0.0 else (approx intersect exact).size.toDouble / (k * nq)
  }

  override def tracedExtras(): Map[String, Double] = PlansBench.run(spark, bootDocs, bootVecs)

  def report: Map[String, String] = Map(
    "days" -> days.toString,
    "checks" -> Json.arr(checks),
    "index_bytes" -> indexBytes.toString)

  def layer: Map[String, Double] = {
    val kept = Gates.map(g => s"streaming.${g}_kept_ratio" ->
      (if (keptIn(g) == 0) 0.0 else keptOut(g).toDouble / keptIn(g)))
    (kept :+ ("operators.ivf_recall_at_k" -> recall)).toMap
  }
}
