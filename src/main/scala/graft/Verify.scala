package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Arm the oracle-depth guards (r15, ADVICE r14): queries whose
    // DuckDB oracle unrolls a FIXED tree depth fail fast with a named
    // error — instead of a bare hash mismatch — when this harness
    // runs at an sf whose dial implies another depth. Bench and
    // production runs never set this.
    sys.props("graft.verifyContext") = "1"
    // RAM-backed shuffle dirs at driver-testdata scale (r17; see
    // Bench.localDirFor — drops ~16 s/query of shuffle-file kernel time)
    val spark = GraftConf.localSession(Bench.localDirFor(sfDir))
    new java.io.File(outDir).mkdirs()
    // Iteration aid, mirroring Bench: restrict to named queries (both
    // the parquet dumps and the oracle manifest, so check_oracle.py
    // sees a consistent subset).
    val only = Bench.onlyQueries("verify")
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release intra-query pins after THIS query's consume (r18,
      // VERDICT r17 #5): blocks must not linger across queries
      finally SparkEntry.releasePins()
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
