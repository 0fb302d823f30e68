package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * Deployment-shaped runs set the harness aliases (e.g.
  * SPARK_GRAFT_STATE_STORE=rocksdb, or SPARK_GRAFT_MATERIALIZE=reliable
  * with SPARK_GRAFT_CHECKPOINT_DIR=<dir>) to oracle-verify those paths. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    Harness.selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release any per-query persisted intermediates (same hygiene as
      // Bench): a 228-query session must not accumulate cached state
      spark.catalog.clearCache()
    }
    // every control char escaped — a tab or CR in an oracle SQL string
    // would otherwise make the json.load of the oracle compare fail
    def q(s: String): String = "\"" + Harness.jsonStr(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => Harness.env.only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
