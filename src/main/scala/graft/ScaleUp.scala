package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-calibration data generator (VERDICT r6 item 6).
  *
  * The driver ships sf0.001/0.01/0.1; every 100 TB claim in this repo
  * rests on plan-shape asserts at sf0.1. This tool manufactures the
  * next decade locally — `ScaleUp <inDir> <outDir> <factor>` replicates
  * the FACT tables factor× with shifted keys (so entity cardinality
  * scales, not just rows-per-entity) and copies the dims unchanged
  * (dimension tables don't grow 10× when the fact data does; join
  * fan-out per dim key grows instead, which is the realistic shape).
  * Replica texts get a per-replica suffix so dedup/near-dup queries see
  * scaled-but-not-degenerate duplicate structure instead of a 10-way
  * copy of every bucket.
  *
  * Output is for Bench scaling runs ONLY (`SPARK_GRAFT_SF_DIR=outDir`)
  * — correctness stays gated on the driver's own parquet, per
  * TESTDATA.md.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    require(factor >= 2, "factor must be >= 2")
    // shuffle stays on disk: a scaled copy's shuffle is GBs
    val spark = GraftConf.localSession(localDir = None)

    def in(name: String) = spark.read.parquet(s"$inDir/$name.parquet")
    def out(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // dims: verbatim
    Seq("region", "nation", "supplier", "part").foreach { n =>
      out(in(n), n, 1)
    }

    /** factor copies with each key column shifted by replica × stride,
      * stride = max(key)+1 — replicas never collide, and co-referenced
      * keys (o_custkey/c_custkey, l_orderkey/o_orderkey) shift by the
      * SAME stride so referential structure survives. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val r = spark.range(factor).toDF("__r")
      shifts.foldLeft(df.crossJoin(broadcast(r))) { case (acc, (c, stride)) =>
        acc.withColumn(c, col(c) + col("__r") * stride)
      }
    }

    val ev = in("events")
    val evStride = Map(
      "event_id" -> (ev.agg(max("event_id")).head.getLong(0) + 1L),
      "user_id" -> (ev.agg(max("user_id")).head.getLong(0) + 1L))
    out(replicate(ev, evStride).drop("__r"), "events", 4 * factor)

    val docs = in("documents")
    val docStride = Map(
      "doc_id" -> (docs.agg(max("doc_id")).head.getLong(0) + 1L))
    out(replicate(docs, docStride)
      .withColumn("text",
        when(col("__r") > 0, concat(col("text"), lit(" r"), col("__r")))
          .otherwise(col("text")))
      .drop("__r"), "documents", 4 * factor)

    val emb = in("embeddings")
    val embStride = Map(
      "vec_id" -> (emb.agg(max("vec_id")).head.getLong(0) + 1L))
    out(replicate(emb, embStride).drop("__r"), "embeddings", 4 * factor)

    val cust = in("customer")
    val custStride = cust.agg(max("c_custkey")).head.getLong(0) + 1L
    out(replicate(cust, Map("c_custkey" -> custStride)).drop("__r"),
      "customer", 2 * factor)

    val ord = in("orders")
    val ordStride = ord.agg(max("o_orderkey")).head.getLong(0) + 1L
    out(replicate(ord,
      Map("o_orderkey" -> ordStride, "o_custkey" -> custStride)).drop("__r"),
      "orders", 2 * factor)

    out(replicate(in("lineitem"), Map("l_orderkey" -> ordStride)).drop("__r"),
      "lineitem", 4 * factor)

    println(s"""{"scaled": $factor, "out": "$outDir"}""")
    spark.stop()
  }
}
