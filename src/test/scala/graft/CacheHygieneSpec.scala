package graft

/** The cache contract of registry queries: a query may persist
  * intermediates, and its caller releases them with
  * `spark.catalog.clearCache()` after the query (Bench, Verify,
  * PlanProbe do); build-once artifacts are released by
  * `Artifacts.clearAll()`. After both, no persisted RDD may remain — an
  * RDD-level persist that neither call can reach would be a leak.
  */
class CacheHygieneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The checkpoint blocks of dropped artifact frames (SA index, BPE
    * census, edge table) are freed by the ContextCleaner once the frame
    * is GC'd — nudge it while polling.
    */
  private def awaitNoPersistentRdds(timeoutMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var i = 0
    while (System.currentTimeMillis() < deadline) {
      if (spark.sparkContext.getPersistentRDDs.isEmpty) return true
      if (i % 10 == 0) System.gc()
      i += 1
      Thread.sleep(100)
    }
    spark.sparkContext.getPersistentRDDs.isEmpty
  }

  private def releaseAll(): Unit = {
    spark.catalog.clearCache()
    Artifacts.clearAll()
  }

  private def isolate(): Unit = {
    releaseAll()
    // earlier suites' dropped artifact frames can stay strongly
    // reachable in the shared test JVM — force-release the debris so
    // each test's after-action assertion starts clean
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  // the cache-heavy representatives: triangle count, set-sim join,
  // assoc rules, CC over near-dup pairs, BFS (the loop-persisting
  // query), substring dedup and attribution; q224 persists the corpus
  // frame but returns a LOCAL result (power iteration on collected state)
  for (q <- Seq("q100_triangle_count", "q154_setsim_join",
      "q181_assoc_rules", "q190_label_propagation", "q182_bfs_layers",
      "q213_substring_dedup", "q223_attribution", "q224_pca_power")) {
    test(s"$q leaves no persisted RDDs after its action") {
      isolate()
      assert(awaitNoPersistentRdds(), "pre-existing persistent RDDs: " +
        spark.sparkContext.getPersistentRDDs.values
          .map(r => s"${r.id}:${r.name}:${r.getStorageLevel.description}")
          .mkString("; "))
      val rows = SparkEntry.queries(q)(spark, sf).count()
      assert(rows > 0)
      releaseAll()
      assert(awaitNoPersistentRdds(),
        s"$q left persisted RDDs: " +
          spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    }
  }

  test("scoped caches ARE used during the consuming action") {
    isolate()
    // the frame persisted by the query body must be cached while the
    // action runs: check the physical plan contains an InMemoryTableScan
    // var + null-out: the frame's plan holds the edge-memo checkpoint
    // RDD strongly, and the ContextCleaner can only free those blocks
    // once the frame is unreachable
    var df = SparkEntry.queries("q100_triangle_count")(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("InMemoryTableScan") ||
      phys.contains("TableCacheQueryStage"),
      s"no cache scan in plan:\n$phys")
    df.count()
    df = null
    releaseAll()
    assert(awaitNoPersistentRdds())
  }
}
