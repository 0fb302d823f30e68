package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Scripted end-to-end drive of the interactive shell (reference
  * semantic.py:76-106): a fixed stdin script exercises the rank-list
  * display, every `rank N` guard branch (valid switch, out-of-bounds,
  * non-digit, >Int.MaxValue digit run), the RAG answer path, and exit.
  * The transcript is asserted structurally (the ranked titles are
  * data-derived) and for determinism (two runs, identical bytes). The
  * session is never cleared, so each recommend must leave no cached
  * frame behind. A request whose only change is its request values (a
  * new focus, a new budget) must reuse the generated code of the last.
  */
class ReplSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def transcript(script: String): String = {
    val in = new java.io.BufferedReader(new java.io.StringReader(script))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(bytes, true, "UTF-8")
    Repl.run(spark, sf, in, out)
    out.flush()
    new String(bytes.toByteArray, "UTF-8")
  }

  private val script = Seq(
    "rank 2",            // valid focus switch
    "rank 99",           // out of bounds
    "rank 99999999999",  // digits past Int range: bounds message, no crash
    "rank xx",           // non-digit
    "what is the price", // RAG answer over the focused product
    "exit").mkString("\n")

  test("scripted session walks every branch of the reference loop") {
    val t = transcript(script)
    assert(t.contains("Top Recommended Items:"), t.take(500))
    val rankLines = t.linesIterator.count(_.startsWith("Rank: "))
    assert(rankLines == 10, s"expected 10 ranked rows, got $rankLines")
    assert(t.contains("Now focusing on the product at rank 1, which is "))
    assert(t.contains("Now focusing on the product at rank 2, which is "))
    assert(t.contains("Please choose a number between 1 and 10."))
    // the bounds message fires for BOTH 99 and the >Int.MaxValue run
    assert(t.sliding("Please choose a number between 1 and 10.".length)
      .count(_ == "Please choose a number between 1 and 10.") == 2)
    assert(t.contains("please input a number."))
    assert(t.contains("RAG Answer:"))
    assert(t.contains("type 'exit' to end this procedure"))
    // one prompt per script line (6), plus none after exit
    assert(t.split("> ", -1).length - 1 == 6, t.takeRight(300))
  }

  test("the scripted session is deterministic run-to-run") {
    assert(transcript(script) == transcript(script))
  }

  test("Ranker.recommend leaves the session's persisted RDDs as it found them") {
    val (emb, meta, qv) = queries.RankQueries.inputs(spark, sf)
    // the scripted sessions above ran this same request: start from an
    // empty cache so the recommend cannot reuse their candidate set
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = rank.Ranker.recommend(spark, emb, meta, queries.RankQueries.QueryText, qv).collect()
    assert(rows.length == rank.Ranker.Config().finalK)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("Ranker.recommend's ranked frame is collected with no Spark job") {
    val (emb, meta, qv) = queries.RankQueries.inputs(spark, sf)
    val ranked = rank.Ranker.recommend(spark, emb, meta, queries.RankQueries.QueryText, qv)
    val sc = spark.sparkContext
    val group = "recommend-output"
    sc.setJobGroup(group, "collect the ranked frame")
    try {
      assert(ranked.collect().length == rank.Ranker.Config().finalK)
      // one known job closes the group: the status store sees a group's
      // jobs in submission order, so once this one is visible, so is
      // any job the collect above launched
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    def jobs = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(jobs.length == 1, s"jobs in the group: ${jobs.mkString(", ")}")
  }

  test("Ranker.scoreCandidates collects the scored candidates in at most 2 Spark jobs") {
    val (emb, meta, qv) = queries.RankQueries.inputs(spark, sf)
    val sc = spark.sparkContext
    val group = "score-candidates"
    sc.setJobGroup(group, "collect the scored candidates")
    try {
      val rows = rank.Ranker.scoreCandidates(
        emb, meta, queries.RankQueries.QueryText, qv).collect()
      assert(rows.nonEmpty && rows.length <= rank.Ranker.Config().topK)
      // one known job closes the group, as in the test above
      sc.parallelize(Seq(1), 1).count()
    } finally sc.clearJobGroup()
    def jobs = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(jobs.length - 1 <= 2, s"jobs in the group: ${jobs.mkString(", ")}")
  }

  /** Janino compiles in this JVM so far. The codegen cache is keyed by
    * the generated source, so a request whose stages generate a source
    * seen before adds none. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a Q&A request on a new focus compiles no generated code") {
    val (emb, meta, qv) = queries.RankQueries.inputs(spark, sf)
    val ranked = rank.Ranker.recommend(
      spark, emb, meta, queries.RankQueries.QueryText, qv).collect().map(_.getLong(0))
    val chunks = qa.Retriever.chunksFromMeta(meta, "id",
      Seq("title", "summary", "rating", "review_count", "price"))
    // ranks the scripted sessions above never focused on, so the
    // measured focus has not been compiled into any stage yet
    val question = "is it quiet"
    assert(qa.Retriever.answerContext(chunks, ranked(2), question).nonEmpty)
    val before = compiles
    assert(qa.Retriever.answerContext(chunks, ranked(3), question).nonEmpty)
    assert(compiles - before == 0)
  }

  test("a recommend with a new budget compiles no generated code") {
    val (emb, meta, qv) = queries.RankQueries.inputs(spark, sf)
    // two FIXTURES A4 phrases: a range midpoint (400) and an upper bound (800)
    rank.Ranker.recommend(spark, emb, meta, "washer between $300 and 500", qv).collect()
    val before = compiles
    val rows = rank.Ranker.recommend(spark, emb, meta, "at most 800", qv).collect()
    assert(compiles - before == 0)
    assert(rows.length == rank.Ranker.Config().finalK)
  }

  test("the Q&A focus filter still reaches the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val (_, meta, _) = queries.RankQueries.inputs(spark, sf)
    val chunks = qa.Retriever.chunksFromMeta(meta, "id", Seq("title", "price"))
    val df = qa.Retriever.retrieve(chunks, 7L, "what is the price")
    assert(df.collect().nonEmpty)
    val pushed = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }
    assert(pushed.exists(_.contains("EqualTo(doc_id,7)")), pushed.mkString("; "))
  }
}
