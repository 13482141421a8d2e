package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}
import graft.operators.Dedup
import graft.plans._

/** ns/row of each native Catalyst expression in `graft.plans`, taken
  * by a projection-only pass (noop sink) of its public column function
  * over the corpus, replicated to `rows` rows and pinned first — with
  * the expression's array input (tokens, shingles) already computed —
  * so the pass costs the scan of cached blocks plus the expression. The
  * aggregate (`BoundedTopK`) runs as a grouped aggregation. Each figure
  * is the median of `passes` passes. */
object PlansBench {
  def run(spark: SparkSession, docs: DataFrame, vecs: DataFrame,
      rows: Long = 16000L, passes: Int = 3): Map[String, Double] = {
    def replicate(df: DataFrame): DataFrame = {
      val n = df.count()
      val k = math.max(1L, rows / math.max(1L, n))
      df.crossJoin(spark.range(k).withColumnRenamed("id", "rep"))
        .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    }
    val d = replicate(docs.select(col("doc_id"), col("text"),
      TextFns.tokens(lower(col("text"))).as("toks"), Dedup.shingles(col("text"), 3).as("sh3")))
    val v = replicate(vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding")))
    val (nd, nv) = (d.count(), v.count())
    val rng = new scala.util.Random(7)
    def unit(dim: Int) = Seq.fill(dim)(rng.nextGaussian())
    val q = typedLit(unit(64))
    val cents = array((0 until 64).map(i =>
      struct(lit(i.toLong).as("cell_id"), typedLit(unit(64)).as("cv"))): _*)
    // codebook entries carry their squared norm (CodebookArgmin's layout)
    val book = array((0 until 16).map { i =>
      val c = unit(16)
      struct(lit(i.toLong).as("cid"), typedLit(c).as("cv"), lit(c.map(x => x * x).sum).as("n2"))
    }: _*)
    val projections: Seq[(String, DataFrame, Column)] = Seq(
      ("hashed_shingles", d, Dedup.hashedShingles(col("text"), 8)),
      ("minhash_bands", d, MinHashBands.column(col("sh3"), 4, 4)),
      ("simhash64", d, SimHash64.column(col("toks"))),
      ("winnow_fps", d, TextFns.winnowFingerprints(col("text"))),
      ("md5_hex_val", d, Md5HexVal.column48(col("text"))),
      ("cosine_sim", v, VectorFns.cosineFast(col("embedding"), q)),
      ("centroid_argmax", v, CentroidArgmax.column(cents, col("embedding"))),
      ("codebook_argmin", v, CodebookArgmin.column(book, slice(col("embedding"), 1, 16))))
    def timed(df: => DataFrame, n: Long): Double = {
      val ms = (0 until passes).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ms(ms.length / 2) / n
    }
    val proj = projections.map { case (name, df, c) =>
      s"plans.${name}_ns_per_row" -> timed(df.select(c.as("x")), if (df eq d) nd else nv)
    }
    val topk = "plans.bounded_topk_ns_per_row" -> timed(
      v.groupBy((col("vec_id") % 64).as("g"))
        .agg(BoundedTopK.column(VectorFns.cosineFast(col("embedding"), q), col("vec_id"), 10)),
      nv)
    (proj :+ topk).toMap
  }
}
