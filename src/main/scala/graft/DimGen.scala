package graft

import org.apache.spark.sql.functions._

/** High-dimension embedding synthesizer for the d-scaling probe: q218 /
  * q224 expand each vector to its d(d+1)/2 upper-triangle pairs
  * map-side, so their per-row work grows ×64 when d goes 64 → 512
  * (2,080 → 131,328 structs/row). This writes `<out>/embeddings.parquet`
  * with the source vectors tiled to `d` dims under a deterministic
  * per-position perturbation (so no two dims are identical and the
  * covariance matrix stays full-rank-ish); source dtypes preserved.
  *
  *   sbt "runMain graft.DimGen /root/testdata/sf0.1 /tmp/sfd512 512"
  */
object DimGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DimGen <inSfDir> <outDir> <dims>")
    val (in, out, d) = (args(0), args(1), args(2).toInt)
    val spark = Harness.session("graft-dimgen")
    val src = spark.read.parquet(s"$in/embeddings.parquet")
    val d0 = src.select(size(col("embedding"))).head().getInt(0)
    val reps = (d + d0 - 1) / d0
    src.select(col("vec_id"),
        expr(
          s"""slice(flatten(transform(sequence(0, ${reps - 1}), r ->
             |  transform(embedding, (v, i) ->
             |    CAST(v * (1.0 + 0.001 * (r * $d0 + i)) AS FLOAT)))),
             |  1, $d)""".stripMargin).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[dimgen] wrote $out/embeddings.parquet at d=$d " +
      s"(${spark.read.parquet(s"$out/embeddings.parquet").count()} rows)")
    spark.stop()
  }
}
