package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Dedup, Retrieval, Similarity}

/** The append contract every persisted-index family shares through
  * `IndexLayout.beginAppend`, checked once over all six families: a
  * reserved batchId is rejected with one message, and an append after
  * a mid-swap compact crash swaps the marked stage in before it
  * writes. */
class IndexAppendContractSpec extends SparkSpec {
  import IndexAppendContractSpec.Family
  import spark.implicits._

  private val words = Seq("spark", "join", "vector", "index", "shard",
    "corpus", "token", "stream", "batch", "probe", "merge", "delta")

  private def docs(from: Int, n: Int): DataFrame =
    (from until from + n).map { i =>
      (i.toLong, (0 until 12).map(j => words((i * 7 + j * j) % words.size)).mkString(" "))
    }.toDF("doc_id", "text")

  private def vecs(from: Int, n: Int): DataFrame =
    (from until from + n).map { i =>
      val c = i % 3
      val jit = (i * 37 % 11) / 100.0
      (i.toLong, (0 until 4).map(j => (if (j == c) 1.0 else 0.0) + jit / (j + 1)))
    }.toDF("id", "v")

  private val probeDocs = docs(3, 6)
  private val probeVecs = vecs(5, 6)
  private val corpusText = docs(0, 60)

  private val families = Seq(
    Family("span", "appendToSpanIndex", "spans",
      dir => Dedup.buildSpanIndex(docs(0, 40), "text", "doc_id", 4, dir),
      (from, dir, id) => Dedup.appendToSpanIndex(docs(from, 10), "text", "doc_id", 4, dir, id),
      dir => Dedup.compactSpanIndex(spark, dir),
      dir => Dedup.spanDupStatsAgainst(probeDocs, "text", "doc_id", 4, dir).collect()),
    Family("minhash", "appendToMinhashIndex", "bands",
      dir => Dedup.buildMinhashIndex(docs(0, 40), "text", "doc_id", dir),
      (from, dir, id) => Dedup.appendToMinhashIndex(docs(from, 10), "text", "doc_id", dir, id),
      dir => Dedup.compactMinhashIndex(spark, dir),
      dir => Dedup.minhashNearDupsAgainstIndex(probeDocs, corpusText, "text", "doc_id", dir)
        .collect()),
    Family("keyword", "appendToKeywordIndex", "postings",
      dir => Retrieval.buildKeywordIndex(docs(0, 40), "doc_id", "text", dir, maxDf = Some(25L)),
      (from, dir, id) => Retrieval.appendToKeywordIndex(docs(from, 10), "doc_id", "text", dir, id),
      dir => Retrieval.compactKeywordIndex(spark, dir, "doc_id"),
      dir => Retrieval.bm25SearchFromIndex(spark, dir, "doc_id", Seq("spark", "delta", "probe"),
        k = 20).collect()),
    Family("ivf", "appendToIvfIndex", "assigned",
      dir => Similarity.buildIvfIndex(vecs(0, 40), "id", "v", dir, nCells = 2, trainIters = 1),
      (from, dir, id) => Similarity.appendToIvfIndex(vecs(from, 10), "id", "v", dir, id),
      dir => Similarity.compactIvfIndex(spark, dir),
      dir => Similarity.ivfTopKFromIndex(probeVecs, dir, "id", "v", k = 5).collect()),
    Family("pq", "appendToPqIndex", "codes",
      dir => Similarity.buildPqIndex(vecs(0, 40), "id", "v", dir, m = 2, nCents = 4,
        trainIters = 1),
      (from, dir, id) => Similarity.appendToPqIndex(vecs(from, 10), "id", "v", dir, id),
      dir => Similarity.compactPqIndex(spark, dir),
      dir => Similarity.pqTopKFromIndex(probeVecs, dir, "id", "v", k = 5).collect()),
    Family("knn", "appendToKnnGraphIndex", "graph",
      dir => Similarity.buildKnnGraphIndex(vecs(0, 40), "id", "v", dir, k = 3, nCells = 2,
        trainIters = 1),
      (from, dir, id) => Similarity.appendToKnnGraphIndex(vecs(from, 10), "id", "v", dir, id),
      dir => Similarity.compactKnnGraphIndex(spark, dir),
      dir => Similarity.knnGraphFromIndex(spark, dir).collect()))

  /** A probe's rows as sorted strings, doubles at 6 places. */
  private def digest(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("every family's append rejects a reserved batchId with the shared message") {
    families.foreach { f =>
      val dir = tmpDir(s"reserved_${f.name}") + "/idx"
      f.build(dir)
      val e = intercept[IllegalArgumentException](f.append(40, dir, -1L))
      assert(e.getMessage.contains(s"${f.caller}: batchId=-1 " +
        "(negative ids are reserved for the build/compact base)"), s"${f.name}: ${e.getMessage}")
    }
  }

  test("every family's append after a mid-swap compact crash swaps the stage in " +
      "first, and then probes as a clean compact + the same append does") {
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    families.foreach { f =>
      def compacted(tag: String): String = {
        val dir = tmpDir(s"crash_${f.name}_$tag") + "/idx"
        f.build(dir)
        f.append(40, dir, 0L)
        f.compact(dir)
        dir
      }
      val clean = compacted("clean")
      f.append(50, clean, 1L)
      val crashed = compacted("crashed")
      // the crash: the folded table is marked durable in its stage,
      // then the live table is deleted — the stage is the only copy
      val live = new Path(s"$crashed/${f.table}")
      val stage = new Path(s"$crashed/${f.table}__staged")
      assert(FileUtil.copy(fs, live, fs, stage, false, spark.sparkContext.hadoopConfiguration))
      fs.create(new Path(stage, "_STAGED"), true).close()
      assert(fs.delete(live, true))
      f.append(50, crashed, 1L)
      assert(!fs.exists(stage), s"${f.name}: the append left the stage behind")
      assert(digest(f.probe(crashed)) == digest(f.probe(clean)),
        s"${f.name}: the probe differs from the clean compact's")
    }
  }
}

object IndexAppendContractSpec {
  /** One family's lifecycle: the table the crash hits, and its build,
    * append (first doc/vector id, dir, batchId), compact and probe. */
  final case class Family(name: String, caller: String, table: String,
      build: String => Unit, append: (Int, String, Long) => Unit,
      compact: String => Unit, probe: String => Array[Row])
}
