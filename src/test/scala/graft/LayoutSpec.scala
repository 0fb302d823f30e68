package graft

/** Plan-shape and semantics checks for the layout operators. */
class LayoutSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("bucketed join reads bucket files with no Exchange on either input") {
    // force the both-sides-big shape: with auto-broadcast off, only the
    // bucket layout can satisfy the join's distribution requirement
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q75_bucketed_join")(spark, sf)
      df.collect() // materialize so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join:\n$plan")
      // the only Exchanges allowed are ABOVE the join (final agg/sort) —
      // below it the scans must feed the join via their bucket layout.
      // Cut at "== Initial Plan ==" so only the final AQE plan is checked.
      val below = plan.substring(joinIdx).split("== Initial Plan ==")(0)
      assert(!below.contains("Exchange"),
        s"join inputs must not shuffle (bucket layout unused):\n$plan")
      assert(below.contains("SelectedBucketsCount"),
        s"scans should be bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q161 compacts to exactly 4 files when the scan packs fragments into fewer splits") {
    // minPartitionNum=1 lets the scan pack the 64 small fragment files
    // into fewer than 4 splits, as a 2-core session does by default
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val files = SparkEntry.queries("q161_compaction")(spark, sf).collect()
        .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_files")).toMap
      assert(files === Map("1_fragmented" -> 64L, "2_compacted" -> 4L))
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("debounce keeps at most n_total and at least one event per type") {
    val rows = SparkEntry.queries("q72_debounce")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_total")
      val kept = r.getAs[Long]("n_kept")
      assert(kept >= 1L && kept <= total, r.toString)
    }
  }

  test("latest-state emits exactly one row per user") {
    val df = SparkEntry.queries("q73_latest_state")(spark, sf)
    val n = df.count()
    assert(n == df.select("user_id").distinct().count())
  }

  test("price deciles partition all orders into 10 contiguous buckets") {
    val rows = SparkEntry.queries("q71_price_deciles")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    // contiguous: each bucket's hi <= next bucket's lo
    val bounds = rows.map(r => (r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    bounds.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, bounds.mkString(","))
      case _ =>
    }
  }
}
