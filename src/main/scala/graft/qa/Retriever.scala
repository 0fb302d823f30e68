package graft.qa

import graft.BoundLiteral
import graft.embed.{Embedder, HashTfEmbedder}
import graft.text.TextOps
import graft.vector.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RAG retrieval dataflow (reference: rag.py:21-57 + semantic.py:76-106):
  * the focused product's metadata becomes a chunk table (one chunk per
  * top-level field — the engine's version of the one-document Chroma
  * store), chunks and question are hash-embedded, and the top-k chunks by
  * cosine form the answer context. The generator seam (ChatOllama in the
  * reference) stays pluggable; retrieval is the reproducible dataflow.
  */
object Retriever {

  /** Long-format chunk table (id, field, chunk) from a wide meta row:
    * one row per selected column, text rendered as "field: value".
    */
  def chunksFromMeta(meta: DataFrame, idCol: String, fields: Seq[String]): DataFrame = {
    val pairs = fields.flatMap(f => Seq(lit(f), concat_ws(": ", lit(f), col(f).cast("string"))))
    meta.select(col(idCol).as("id"),
        explode(map(pairs: _*)).as(Seq("field", "chunk")))
      .filter(col("chunk").isNotNull)
  }

  /** Top-k chunks for a question over one focused id. The focus id is
    * bound ([[graft.BoundLiteral]]), not inlined: every focus runs the
    * same compiled stage, and the filter still reaches the parquet scan
    * as `EqualTo`, so a request reads only the row groups that can hold
    * the focus. The question's embedding is an array literal, which
    * Spark already passes by reference.
    */
  def retrieve(chunks: DataFrame, focusId: Long, question: String, k: Int = 3,
               embedder: Embedder = HashTfEmbedder(64)): DataFrame = {
    val qToks = question.toLowerCase.split("\\s+").toSeq
    val emb = embedder.embedTokens(TextOps.tokens(TextOps.cleanText(col("chunk"))))
    val qEmb = typedLit(embedder.embed(qToks).toSeq)
    chunks.filter(col("id") === BoundLiteral.of(focusId))
      .withColumn("sim", VectorOps.cosineRounded(emb, qEmb))
      .select(col("field"), col("chunk"), col("sim"))
      .orderBy(desc("sim"), asc("field"))
      .limit(k)
  }

  /** The retrieval-only QA answer: concatenated top-k context — exactly
    * what the reference's LLM would receive as {context} (rag.py:31-44).
    */
  def answerContext(chunks: DataFrame, focusId: Long, question: String,
                    k: Int = 3): String =
    retrieve(chunks, focusId, question, k)
      .collect().map(_.getAs[String]("chunk")).mkString("\n")
}
