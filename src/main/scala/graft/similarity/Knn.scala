package graft.similarity

import graft.dedup.Dedup
import graft.vector.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column.
  *
  * `bruteForceTopK` is the correctness baseline (exactly the reference's
  * full cosine scan, semantic.py:36-41): one pass, per-partition top-k
  * heap (TakeOrderedAndProject), no global sort — O(n·d) work, O(k)
  * driver result, scales to any corpus the scan scales to.
  *
  * `annTopK` is the scale path: hyperplane-LSH bucket keys (JVM-computed,
  * skinny) restrict the exact rerank to candidates sharing any of the
  * query's buckets — at cluster scale the scan prunes to ~n/2^bits per
  * table; recall is tunable via (tables, bitsPerTable).
  */
object Knn {

  /** (id, sim) top-k by cosine against a literal query vector. */
  def bruteForceTopK(vecs: DataFrame, idCol: String, vecCol: String,
                     query: Array[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    vecs.select(col(idCol).as("id"),
        VectorOps.cosineRounded(col(vecCol), q).as("sim"))
      .orderBy(desc("sim"), asc("id"))
      .limit(k)
  }

  /** ANN top-k: hyperplane-LSH candidate pruning + exact rerank. Planes
    * are the StableHash-derived Rademacher family (Dedup.radePlanes), so
    * the whole candidate generation replays exactly in the DuckDB oracle.
    */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
              query: Array[Double], k: Int,
              tables: Int = 8, bitsPerTable: Int = 4): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val pl = Dedup.radePlanes(dim, tables, bitsPerTable)
    val queryBuckets = Dedup.bucketKeys(query.toSeq, pl).toSet
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))

    val candIds = base.as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        if (Dedup.bucketKeys(v, pl).exists(queryBuckets.contains)) Some(id) else None
      }
      .toDF("id")

    // candidate set is ~n/2^bits per table — broadcast it so the base
    // scan stays shuffle-free (a shuffle join here would move the whole
    // corpus to rerank a sliver of it); rerank on the codegen CosineSim
    // expression (VectorOps.cosine), not an interpreted UDF
    base.join(broadcast(candIds), "id")
      .select(col("id"),
        VectorOps.cosineRounded(col("vec"), typedLit(query.toSeq)).as("sim"))
      .orderBy(desc("sim"), asc("id"))
      .limit(k)
  }
}
