package graft

import graft.qa.Retriever
import graft.queries.RankQueries
import graft.rank.Ranker
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Interactive shell — the reference's user-facing loop
  * (semantic.py:70-106): print the MMR-ranked top products once, then
  * accept `rank N` to change the focused product (with the reference's
  * bounds/digit guards, semantic.py:83-99), `exit` to quit, and treat
  * anything else as a question answered from the focused product's
  * retrieved chunks (the RAG context — rag.py:31-44's {context}; the
  * generation seam stays a seam, per SURVEY §2.9).
  *
  * Driver-side by design: one ranked list (finalK rows collected — the
  * reference's own boundary) and per-question top-k retrieval over ONE
  * product's chunk rows. Nothing here scales with the corpus.
  *
  *   sbt "runMain graft.Repl /root/testdata/sf0.001"
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session("graft-repl", logLevel = "ERROR")
    run(spark,
      dir,
      new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
      System.out)
    spark.stop()
  }

  /** The loop itself, with injectable streams so ReplSpec can drive a
    * scripted stdin and assert the transcript (the reference shell's
    * semantics, semantic.py:76-106, pinned end-to-end).
    */
  def run(spark: SparkSession, dir: String,
      in: java.io.BufferedReader, out: java.io.PrintStream): Unit = {
    val (emb, meta, qv) = RankQueries.inputs(spark, dir)
    val ranked = Ranker.recommend(
      spark, emb, meta, RankQueries.QueryText, qv).collect()
    // the ids are bound, not inlined, so every ranking's title lookup
    // runs one compiled stage
    val titles = meta
      .filter(col("id").isin(ranked.map(r => BoundLiteral.of(r.getLong(0))).toSeq: _*))
      .select(col("id"), col("title"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nProducts = ranked.length

    out.println("Top Recommended Items:\n")
    for ((r, idx) <- ranked.zipWithIndex)
      out.println(s"Rank: ${idx + 1}, Name: ${titles(r.getLong(0))}, " +
        f"Score: ${r.getDouble(1)}%.6f")
    out.println()

    val chunks = Retriever.chunksFromMeta(meta, "id",
      Seq("title", "summary", "rating", "review_count", "price"))
    var focus = 0 // index into ranked

    out.println("If you have any questions about the products, please ask.\n")
    out.println(s"Now focusing on the product at rank 1, which is " +
      s"${titles(ranked(0).getLong(0))}, if you want to change, please " +
      "follow this format: rank #.\n")
    out.println("Or if you don't have any questions, please type 'exit' to " +
      "end this procedure.\n")

    var line: String = null
    var done = false
    while (!done && { line = { out.print("> "); out.flush(); in.readLine() }
        line != null }) {
      val query = line.trim
      if (query == "exit") done = true
      else {
        val parts = query.split(" ")
        if (parts.length == 2 && parts(0) == "rank") {
          if (parts(1).forall(_.isDigit) && parts(1).nonEmpty) {
            // toIntOption: a >Int.MaxValue digit run is out of bounds,
            // not a crash (the reference's bignum int() hits its bounds
            // branch the same way)
            parts(1).toIntOption match {
              case Some(num) if num >= 1 && num <= nProducts =>
                focus = num - 1
                out.println(s"Now focusing on the product at rank $num, which " +
                  s"is ${titles(ranked(focus).getLong(0))}.\n")
              case _ =>
                out.println(s"Please choose a number between 1 and $nProducts.\n")
            }
          } else out.println("please input a number.\n")
        } else if (query.nonEmpty) {
          out.println("RAG Answer:\n")
          out.println(Retriever.answerContext(
            chunks, ranked(focus).getLong(0), query) + "\n")
        }
      }
    }
  }
}
