package graft

import org.apache.spark.sql.functions._

/** Document-LENGTH scaling probe data: same corpus bytes, ×factor longer
  * documents. ScaleGen replicates doc COUNT (corpus ×N probes); the
  * suffix-array family's residual costs are instead sensitive to doc
  * LENGTH (the band escalation re-joins full text; the base sort keys
  * initK chars per suffix regardless, but within-doc window shapes and
  * the cap-hit population move with length). This main concatenates
  * groups of `factor` doc_ids into one document (ordered,
  * separator-free, doc_id = group minimum), writing only
  * documents.parquet — the SA-family queries read nothing else.
  * Groups are formed WITHIN a doc_id mod-10 residue class (ids r,
  * r+10, …, r+10·(factor−1) of each 10·factor block), so the merged
  * id keeps its residue and q235's doc_id%10 eval/train split retains
  * its 10% eval fraction instead of collapsing to all-eval.
  *
  * Usage: LenGen <inSfDir> <outDir> <factor>
  */
object LenGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: LenGen <inSfDir> <outDir> <factor>")
    val Array(in, out, f) = args.take(3)
    val factor = f.toInt
    val spark = Harness.session("graft-lengen")
    val docs = spark.read.parquet(s"$in/documents.parquet")
    // full documents schema: the probe dataset must be a drop-in
    // replacement for the whole registry, not just the SA family —
    // lang/source ride from the group-min doc, n_chars is recomputed
    // from the merged text
    val merged = docs
      .withColumn("grp", concat_ws("_",
        pmod(col("doc_id").cast("long"), lit(10L)),
        (col("doc_id").cast("long") / (10L * factor)).cast("long")))
      .groupBy("grp")
      .agg(min(col("doc_id")).as("doc_id"),
        concat_ws("", array_sort(collect_list(struct(col("doc_id").as("k"),
          col("text")))).getField("text")).as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("source"), col("doc_id")).as("source"))
      .drop("grp")
      .withColumn("n_chars", length(col("text")).cast("long"))
    merged.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val stats = spark.read.parquet(s"$out/documents.parquet")
      .agg(count(lit(1)),
        coalesce(sum(length(col("text"))), lit(0L)),
        coalesce(avg(length(col("text"))), lit(0.0)))
      .head()
    println(s"[lengen] docs=${stats.getLong(0)} chars=${stats.getLong(1)} " +
      s"avgLen=${stats.getDouble(2)}")
    spark.stop()
  }
}
