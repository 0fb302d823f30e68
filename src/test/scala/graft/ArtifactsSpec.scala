package graft

import org.apache.spark.sql.functions._

/** The artifact seam: registry-wide clear covers NEW memos without any
  * Bench edit, and materialize picks the deployment-appropriate cut.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  test("a newly-registered memo is cleared by clearAll — no Bench edit needed") {
    // the exact hazard the registry closes: a round-N memo that the
    // enumerated Bench list would have missed
    val m = Artifacts.memo[String]
    var builds = 0
    def build(): String = { builds += 1; s"artifact-$builds" }
    assert(m.getOrElseUpdate(spark, "k")(build()) == "artifact-1")
    assert(m.getOrElseUpdate(spark, "k")(build()) == "artifact-1", "memo must hit")
    assert(builds == 1)
    Artifacts.clearAll()
    assert(m.getOrElseUpdate(spark, "k")(build()) == "artifact-2",
      "clearAll must drop a memo it was never told about")
    assert(builds == 2)
  }

  test("clearAll clears every registered memo, not just the newest") {
    val a = Artifacts.memo[Int]
    val b = Artifacts.memo[Int]
    a.getOrElseUpdate(spark, "x")(1); b.getOrElseUpdate(spark, "y")(2)
    assert(a.size == 1 && b.size == 1)
    Artifacts.clearAll()
    assert(a.size == 0 && b.size == 0)
  }

  test("materialize preserves rows and truncates lineage locally") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .filter(col("id") > 1)
    val cut = Artifacts.materialize(df)
    assert(cut.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // local mode must take the localCheckpoint path: the cut plan is a
    // scan over materialized blocks, not the origin filter pipeline
    val plan = cut.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"expected a lineage-truncated scan, got:\n$plan")
  }

  test("reliable mode computes the plan ONCE (persist feeds the checkpoint write)") {
    // round-8 advice: checkpoint(eager) on an unpersisted frame ran the
    // plan twice — the eager action, then the ReliableCheckpointRDD
    // write job re-pulling the lineage. Pin the fix with a side-effect
    // counter: rows evaluated must equal row count, not 2×.
    val evals = spark.sparkContext.longAccumulator("graft-test-evals")
    val countingUdf = org.apache.spark.sql.functions.udf { (x: Long) =>
      evals.add(1L); x
    }
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-ckpt-once")
    spark.conf.set("spark.graft.materialize", "reliable")
    spark.conf.set("spark.graft.checkpointDir", tmpDir.toString)
    val savedDir = spark.sparkContext.getCheckpointDir
    try {
      val df = spark.range(1000).toDF("id")
        .select(countingUdf(col("id")).as("id"))
      val cut = Artifacts.materialize(df)
      assert(cut.count() == 1000L)
      assert(evals.value == 1000L,
        s"reliable materialize evaluated the plan ${evals.value / 1000.0}×")
    } finally {
      spark.conf.unset("spark.graft.materialize")
      spark.conf.unset("spark.graft.checkpointDir")
      spark.sparkContext.setCheckpointDir(savedDir.orNull)
      deleteRecursively(tmpDir)
    }
  }

  test("reliable mode fails fast without a checkpoint dir, works with one") {
    val df = Seq(1L, 2L).toDF("id")
    // SparkContext.setCheckpointDir(null) maps through Option(null) →
    // None, so the shared context can be RESTORED to unset — no
    // test-order coupling on whether some earlier test set a dir, and
    // no permanent pollution for later tests that expect it unset.
    val savedDir = spark.sparkContext.getCheckpointDir
    var tmpDir: java.nio.file.Path = null
    spark.conf.set("spark.graft.materialize", "reliable")
    try {
      spark.sparkContext.setCheckpointDir(null)
      // no checkpoint dir configured → actionable failure, not a silent
      // durability hole
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val e = intercept[IllegalStateException](Artifacts.materialize(df))
      assert(e.getMessage.contains("checkpoint"))
      // with a dir, the reliable path materializes to storage
      tmpDir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      spark.conf.set("spark.graft.checkpointDir", tmpDir.toString)
      val cut = Artifacts.materialize(df)
      assert(cut.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    } finally {
      spark.conf.unset("spark.graft.materialize")
      spark.conf.unset("spark.graft.checkpointDir")
      spark.sparkContext.setCheckpointDir(savedDir.orNull)
      deleteRecursively(tmpDir)
    }
  }
}
