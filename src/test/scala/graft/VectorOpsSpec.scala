package graft

import graft.vector.VectorOps
import org.apache.spark.sql.functions._

/** Higher-order-function vector math (reference: semantic.py:36-41,
  * rank.py:195-205, embed.py:77-79).
  */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("dot, norm, cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.dot(col("a"), col("b")).as("d"),
      VectorOps.norm(col("a")).as("na"),
      VectorOps.cosine(col("a"), col("b")).as("c")).head()
    assert(row.getDouble(0) == 32.0)
    assert(math.abs(row.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(row.getDouble(2) - expected) < 1e-12)
  }

  test("native CosineSim is bit-identical to the HOF formulation") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(VectorOps.asDouble(col("embedding")).as("v"))
    val q = emb.limit(1).select(col("v").as("qv"))
    val both = emb.crossJoin(q).select(
      VectorOps.cosine(col("v"), col("qv")).as("native"),
      VectorOps.cosineHof(col("v"), col("qv")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("q25/q26 rerank on the native CosineSim path, not an interpreted UDF") {
    for (q <- Seq("q25_ann_topk", "q26_ivf_topk")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.optimizedPlan
      val exprs = plan.collect { case p => p.expressions }.flatten
      assert(exprs.exists(_.exists(_.isInstanceOf[graft.vector.CosineSim])),
        s"$q: no CosineSim in optimized plan")
      assert(!exprs.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
        s"$q: interpreted ScalaUDF in the rerank path")
    }
  }

  test("cosine_sim registers as a SQL function") {
    VectorOps // touch
    graft.vector.CosineSim.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.5d, 0.0d)) AS c").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("unequal-length arrays yield null from both native and HOF cosine") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.cosine(col("a"), col("b")).as("native"),
      VectorOps.cosineHof(col("a"), col("b")).as("hof")).head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 2.0))).toDF("a", "b")
    val got = df.select(VectorOps.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12 && got(1) == 0.0)
  }

  test("l2normalize matches v/(||v||+eps) (rank.py:282-289)") {
    val df = Seq(Seq(3.0, 4.0)).toDF("v")
    val got = df.select(VectorOps.l2normalize(col("v"))).head().getSeq[Double](0)
    assert(math.abs(got(0) - 3.0 / (5.0 + 1e-9)) < 1e-15)
    assert(math.abs(got(1) - 4.0 / (5.0 + 1e-9)) < 1e-15)
  }

  test("meanPool aggregates element-wise mean per group") {
    val df = Seq(
      ("a", Seq(1.0, 2.0)), ("a", Seq(3.0, 4.0)), ("b", Seq(10.0, 20.0)))
      .toDF("k", "v")
    val got = df.groupBy("k")
      .agg(VectorOps.meanPool(col("v")).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(2.0, 3.0))
    assert(got("b") == Seq(10.0, 20.0))
  }
}
