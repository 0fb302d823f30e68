package graft

/** Physical-plan assertions for the scale claims the new operators make:
  * where a Scaladoc says "broadcast, no exchange on the big side" or
  * "equi-join, not a theta join", the executed plan is held to it.
  */
class PlanShapeSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The STATIC physical plan (AQE off, auto-broadcast off): the only
    * broadcasts left are the ones the query text forces with a hint —
    * exactly the set the scale audit is about.
    */
  private def staticConf[A](body: => A): A = {
    val c = spark.conf
    val aqe = c.get("spark.sql.adaptive.enabled", "true")
    val thr = c.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    c.set("spark.sql.adaptive.enabled", "false")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      c.set("spark.sql.adaptive.enabled", aqe)
      c.set("spark.sql.autoBroadcastJoinThreshold", thr)
      spark.catalog.clearCache()
    }
  }

  private def staticPlan(name: String): SparkPlan =
    staticConf(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)

  private def hasAggregate(p: SparkPlan): Boolean =
    p.collectFirst { case a: BaseAggregateExec => a }.nonEmpty

  private def fileScans(p: SparkPlan): Seq[String] =
    p.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.toString)
    }.flatten

  /** Forced-broadcast subtrees that carry raw (un-aggregated) rows of a
    * fact-scaled table — the pattern that pins a driver-OOM plan at
    * 100×. Aggregated broadcast frames (one-row stats, count tables)
    * and true dims (nation/region/supplier) are fine.
    */
  private def factBroadcasts(name: String): Seq[String] = {
    val facts = Seq("orders", "customer", "part", "lineitem", "events",
      "documents", "embeddings").map(t => s"$t.parquet")
    staticPlan(name).collect { case b: BroadcastExchangeExec => b }
      .filterNot(hasAggregate)
      .flatMap(fileScans)
      .filter(p => facts.exists(p.contains))
  }

  /** Single-partition shuffles whose input is raw row-granularity data
    * (no aggregate below them) — the one-task global sort/window.
    */
  private def rowLevelSinglePartitionShuffles(name: String): Seq[String] = {
    staticPlan(name).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.filterNot(hasAggregate).map(_.toString)
  }

  test("triangle count probes the closing-edge set via broadcast hash join") {
    val plan = executedPlan("q100_triangle_count")
    // the closing-edge probe must be a broadcast hash join; the final
    // single-row stat combine is allowed to be a (1×1×1) nested-loop cross
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("binned interval join plans as an equi-join, never a theta join") {
    val plan = executedPlan("q101_interval_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("Bloom probe joins the broadcast bit set, no shuffle of positions") {
    val plan = executedPlan("q106_bloom_semijoin")
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
  }

  test("skyline joins the broadcast staircase, no quadratic join") {
    val plan = executedPlan("q104_skyline")
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("k-core peel filters edges via broadcast joins, never a theta join") {
    // The round-13 peel runs EAGERLY (per-round scalars are driver
    // counts; the census is incremental), so the result frame is a
    // local 4-row relation and the |E|-touching joins live in the
    // intermediate executions — captured via a listener. Every edge-set
    // join must be a broadcast hash join of the per-round removed
    // front; nothing may plan a cartesian product.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = SparkEntry.queries("q152_kcore")(spark, sf)
      df.collect()
      // QueryExecutionListener fires on the (async) listener bus; poll
      // for the execution count to settle instead of a private flush API
      var prev = -1
      var settled = 0
      while (settled < 2) {
        Thread.sleep(200)
        val cur = plans.size
        if (cur == prev) settled += 1 else settled = 0
        prev = cur
      }
      val resultPlan = df.queryExecution.executedPlan.toString
      assert(resultPlan.contains("LocalTableScan"),
        s"peel state leaked into the result lineage:\n${resultPlan.take(2000)}")
      import scala.jdk.CollectionConverters._
      val all = plans.asScala.toSeq
      assert(all.exists(_.contains("BroadcastHashJoin")),
        s"no broadcast join in any peel execution (${all.size} captured)")
      all.foreach(p => assert(!p.contains("CartesianProduct"), p.take(4000)))
      // the edge set must never be SMJ-shuffled against a removed front
      // at this scale (the sf10 regression this rewrite removed)
      all.foreach(p => assert(!p.contains("SortMergeJoin LeftSemi"), p.take(4000)))
    } finally spark.listenerManager.unregister(l)
  }

  test("item-item CF broadcasts item counts and keeps the cohort join narrow") {
    val plan = executedPlan("q157_itemcf_recommend")
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("item-item CF top-5 holds at most k rows per user (WindowGroupLimit, no collect_list)") {
    // a per-group collect_list buffer cannot spill under user skew; the
    // rank window's group limit keeps k rows per user in every partition
    val plan = executedPlan("q157_itemcf_recommend")
    assert(plan.contains("WindowGroupLimit"), plan.take(6000))
    assert(!plan.contains("collect_list"), plan.take(6000))
  }

  test("BM25 pushes the query-term filter into the scan side of tf") {
    val df = SparkEntry.queries("q146_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // corpus stats and df join as broadcasts; no quadratic fallback
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("set-similarity join verifies candidates with equi-joins only") {
    val plan = executedPlan("q154_setsim_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("grid distance join is an equi-join on cells, never a theta join") {
    val plan = executedPlan("q184_grid_distance_join")
    // 9-cell probe explode + hash join on (cx, cy); the single-row
    // aggregate output has no join at all downstream
    assert(plan.contains("explode"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("sorted-neighborhood candidates come from a hash join on rank, not a range join") {
    val plan = executedPlan("q194_sorted_neighborhood")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("association rules broadcast the marginals onto the pair counts") {
    val plan = executedPlan("q181_assoc_rules")
    assert(plan.contains("BroadcastHashJoin"), plan.take(4000))
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }

  test("adamic-adar expands wedges map-side and anti-joins edges by hash") {
    val plan = executedPlan("q197_adamic_adar")
    assert(plan.contains("explode"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("no forced broadcast of fact-scaled tables in the heavy join queries") {
    for (q <- Seq("q157_itemcf_recommend", "q185_als_rank1",
        "q186_hhi_concentration", "q207_hits", "q211_group_topk_agg")) {
      val bad = factBroadcasts(q)
      assert(bad.isEmpty, s"$q forces a fact-table broadcast: $bad")
    }
  }

  test("global rank/cumsum queries never single-partition row-granularity data") {
    for (q <- Seq("q129_weighted_median", "q176_gini_spend",
        "q183_rfm_segments")) {
      val bad = rowLevelSinglePartitionShuffles(q)
      assert(bad.isEmpty,
        s"$q shuffles raw rows to one partition: ${bad.map(_.take(300))}")
    }
  }

  test("item-CF computes directed sims once (no self-union re-execution)") {
    val df = SparkEntry.queries("q157_itemcf_recommend")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the both-directions table is one explode over the aggregated pair
    // counts — a Union of two pair-count pipelines would show two
    // identical HashAggregate(keys=[i, j]) branches
    assert(plan.contains("explode"), plan.take(4000))
  }

  test("substring dedup probes duplicate windows with a semi-join, no theta join") {
    val plan = executedPlan("q213_substring_dedup")
    assert(plan.contains("LeftSemi"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
  }

  test("fuzzy linkage pairs come from an equi-join on the blocking key") {
    val plan = executedPlan("q214_fuzzy_linkage")
    // (first-token, brand) block join must stay a hash/sort-merge
    // equi-join; the JW score and argmax run on the joined stream
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(4000))
    assert(plan.contains("jaro_winkler") || plan.contains("jarowinkler") ||
      plan.contains("JaroWinkler"), plan.take(4000))
  }

  test("attribution pairing carries the day bucket in its equi-key") {
    // the skew hardening: purchase↔touch pairing must be keyed on
    // (user_id, bkt) so one hot user cannot force per-user-quadratic
    // pair formation — dropping bkt back to a residual would regress
    // silently (the time filter still makes the output correct)
    val plan = staticPlan("q223_attribution")
    // the pairing subtree sits behind the scopedPersist boundary —
    // traverse into cached plans
    def joins(p: SparkPlan): Seq[org.apache.spark.sql.execution.joins.BaseJoinExec] =
      p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j } ++
        p.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
        }.flatMap(s => joins(s.relation.cachedPlan))
    val paired = joins(plan)
      .filter(_.leftKeys.exists(_.toString.contains("user_id")))
    assert(paired.nonEmpty, plan.toString.take(4000))
    assert(paired.exists(j => j.leftKeys.exists(_.toString.contains("bkt"))),
      s"q223 purchase-touch join keys lost the day bucket: " +
        paired.map(_.leftKeys.mkString(",")).mkString(" | "))
  }

  test("PIT join resolves state with the as-of merge window, no interval join") {
    // contiguous SCD2 intervals make the lookup a running-last window
    // over one user_id shuffle; any join in this plan means the
    // probes × intervals quadratic formation came back
    val plan = staticPlan("q130_pit_join")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q130 re-grew a join: ${joins.map(_.nodeName)}")
    assert(plan.toString.contains("Window"), plan.toString.take(4000))
  }

  test("kendall tau derives dominance from the value census, never a part self-join") {
    val plan = staticPlan("q217_kendall_tau")
    // every join must have the value census (an aggregate) on at least
    // one side — the quadratic shape was a raw part ⨝ part self-join
    val rawJoins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if !hasAggregate(j.left) && !hasAggregate(j.right) => j
    }
    assert(rawJoins.isEmpty,
      s"q217 joins two un-aggregated inputs: ${rawJoins.map(_.nodeName)}")
  }

  test("embedding covariance streams pairs map-side, never self-joins the corpus") {
    val df = SparkEntry.queries("q218_embedding_covariance")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // pair generation is an in-row nested transform + explode feeding a
    // partial aggregate on (i, j); the only joins are the d-row
    // per-dim totals joined back onto d² aggregated cells
    assert(plan.contains("explode"), plan.take(4000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("suffix-array re-rank has no exchange keyed on the skewed rank pair") {
    import spark.implicits._
    // one doubling round's re-rank plan: the only exchanges allowed are
    // the range sort (the distributed sort itself) and clustering by
    // physical partition id / broadcast of the partition census — a HASH
    // exchange on (r, r2) would hand the hottest n-gram class of a
    // 100 TB corpus to one task
    val paired = Seq((1L, 1L, 3L, 2L), (1L, 2L, 1L, -1L), (2L, 1L, 3L, 1L))
      .toDF("doc_id", "off", "r", "r2")
    val plan = graft.dedup.SuffixArray.sortAndFlag(paired, Seq("r", "r2"))
      .queryExecution.executedPlan
    val badExchanges = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        e.outputPartitioning
          .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
    }.filter(_.expressions.exists(_.references.exists(a =>
      a.name == "r" || a.name == "r2")))
    assert(badExchanges.isEmpty,
      s"re-rank hash-partitions on rank values: $badExchanges")
    // and the mono-id crutch (order-preservation was an implementation
    // artifact, not a Spark contract) must stay gone
    assert(!plan.toString.contains("monotonically_increasing_id"),
      plan.toString.take(2000))
  }

  test("new heavy extensions force no fact-table broadcasts") {
    for (q <- Seq("q213_substring_dedup", "q214_fuzzy_linkage",
        "q217_kendall_tau", "q218_embedding_covariance",
        "q235_contamination_spans", "q236_apply_cuts")) {
      val bad = factBroadcasts(q)
      assert(bad.isEmpty, s"$q forces a fact-table broadcast: $bad")
    }
  }

  test("SA LCP annex: full text never crosses a per-suffix exchange outside the cap-hit escalation") {
    import spark.implicits._
    // the round-6 scale-killer was full document text riding every
    // per-suffix pair row through the second doc-keyed exchange
    // (~corpus × avg-doc-length bytes at 100 TB); the annex must move
    // only the bounded head band at per-suffix cardinality, with full
    // text allowed ONLY on docs-side relays (each doc moves once) and
    // above the lcp == HeadBand cap-hit filter (the escalation, whose
    // rows are the rare ≥ band-length repeats)
    val docs = Seq((1L, "abcabcabdzzzq"), (2L, "qabcabcab"), (3L, "zzzq"))
      .toDF("doc_id", "text")
    val sa = graft.dedup.SuffixArray.ranks(docs, "doc_id", "text")
    val plan = staticConf {
      graft.dedup.SuffixArray.adjacentLcpPlan(sa, docs, "doc_id", "text")
        .queryExecution.executedPlan
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(_.output.exists(_.name.startsWith("head"))),
      s"expected the bounded head band on the annex exchanges:\n$plan")
    for (e <- exchanges if e.output.exists(_.name.startsWith("text"))) {
      // ≤ 2 output columns = a docs-side relay (join key + text,
      // corpus cardinality); anything wider is pair rows carrying full
      // text, legal only in the escalation — recognizable by the banded
      // lcp_chars cap-hit gate in its own subtree
      if (e.output.size > 2)
        assert(e.child.toString.contains("lcp_chars"),
          s"per-suffix exchange carries full text outside the " +
            s"escalation: ${e.output.map(_.name)}")
    }
  }

  test("SA repeated-span consumers serve from the index annex, never rescanning the corpus") {
    // the index-engine contract (Lee et al. 2022 query SA+LCP arrays,
    // not the raw corpus): once the annex is built, the consumers' own
    // plans must contain no documents.parquet scan at all
    graft.dedup.SuffixArray.clearCache()
    for (q <- Seq("q232_longest_repeat", "q234_repeated_spans",
        "q235_contamination_spans")) {
      val scans = fileScans(staticPlan(q))
      assert(!scans.exists(_.contains("documents.parquet")),
        s"$q reads the documents table outside the index build: $scans")
    }
  }

  test("q235 moves only aggregate-bounded rows through run-keyed exchanges") {
    // the run-grouping scale claim: nothing corpus-sized is ever
    // hash-clustered on the run id — every exchange keyed on `run`
    // must sit above an aggregate (the distinct member set or the
    // per-run stats partials), so a mega-run moves partial rows, not
    // raw pairs, and the residual hot-key join is the AQE-splittable
    // per-run-stats case documented in the query
    val plan = staticPlan("q235_contamination_spans")
    val runExchanges = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
          e.outputPartitioning
            .asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]
            .expressions.exists(_.references.exists(_.name == "run")) => e
    }
    assert(runExchanges.nonEmpty, "expected run-keyed exchanges in the plan")
    val raw = runExchanges.filterNot(e => hasAggregate(e.child))
    assert(raw.isEmpty,
      s"run-keyed exchange over un-aggregated rows: ${raw.map(_.nodeName)}")
  }

  test("graph family serves edges from the build-once artifact, never rescanning lineitem") {
    // same contract as the SA annex: once the weighted co-purchase edge
    // table is checkpoint-materialized, each consumer's own plan reads
    // the artifact — a lineitem scan in any consumer means the family
    // regressed to five independent edge builds
    graft.queries.GraphQueries.clearCache()
    for (q <- Seq("q100_triangle_count", "q152_kcore", "q182_bfs_layers",
        "q190_label_propagation", "q197_adamic_adar")) {
      val scans = fileScans(staticPlan(q))
      assert(!scans.exists(_.contains("lineitem.parquet")),
        s"$q reads lineitem outside the edge-artifact build: $scans")
    }
  }
}
