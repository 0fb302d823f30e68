package graft.queries

import graft.sources.Tables
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation operators — the metrics leg of a training pipeline:
  * batch linear-model scoring, the confusion-matrix census, and exact
  * rank-statistic AUC. The "model" is a deterministic linear scorer
  * (weights = the first stored embedding, the q122 codebook pattern), so
  * every score replays exactly in SQL; swapping in real weights changes
  * a literal, not the dataflow.
  */
object EvalQueries {

  /** Embeddings scored by a literal weight vector: z = ⟨v, w⟩ (exact
    * same fold order in both engines), binary label = label mod 2.
    * pred derives from the SIGN of z — never from the rounded sigmoid —
    * so the decision boundary is exact.
    */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"),
        pmod(col("label"), lit(2)).cast("long").as("y"))
    val wRows = emb.filter(col("vec_id") === 0).collect()
    require(wRows.nonEmpty,
      "EvalQueries scorer: embeddings table has no vec_id=0 weight row")
    val w = wRows(0).getSeq[Double](1).toSeq
    emb.withColumn("z",
      aggregate(zip_with(col("v"), typedLit(w), (x, y) => x * y),
        lit(0.0), (a, x) => a + x))
  }

  /** q179's (MiningQueries) view of the scorer — same plan, same CTE. */
  def scoredDf(s: SparkSession, dir: String): DataFrame = scored(s, dir)
  def scoredCteSql: String = scoredCte

  /** Logits of the probabilities 0.1 … 0.9: the edges of the fixed
    * score bins of q143 and q145.
    */
  private val logitEdges = (1 to 9).map(i => math.log(i / 10.0 / (1.0 - i / 10.0)))

  /** Bin 0-9 of the margin `z`: the number of edges it reaches, so bin
    * membership derives from the exact margin, never a rounded score.
    */
  private def logitBin: Column = logitEdges.foldLeft(lit(0L)) { (acc, e) =>
    acc + when(col("z") >= e, 1L).otherwise(0L)
  }

  /** DuckDB twin of [[logitBin]] (an INTEGER; callers cast). */
  private val logitBinSql = logitEdges
    .map(e => s"(CASE WHEN z >= $e THEN 1 ELSE 0 END)").mkString("(", " + ", ")")

  /** The matching DuckDB CTE: `sc` with (vec_id, y, z). */
  private def scoredCte: String =
    """w AS (SELECT CAST(embedding AS DOUBLE[]) AS w FROM embeddings
      |      WHERE vec_id = 0),
      |sc AS (SELECT vec_id, CAST(label % 2 AS BIGINT) AS y,
      |         list_sum(list_transform(
      |           list_zip(CAST(embedding AS DOUBLE[]), w.w),
      |           p -> p[1]*p[2])) AS z
      |       FROM embeddings CROSS JOIN w)""".stripMargin

  val all: Seq[Q] = Seq(

    // Batch model scoring: the map-only inference pass (one scan, no
    // shuffle before the output sort) — scores as calibrated sigmoids,
    // predictions from the exact sign of the margin.
    Q("q138_model_scoring", (s, dir) => {
      scored(s, dir)
        .select(col("vec_id"), col("y"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
          when(col("z") >= 0, 1L).otherwise(0L).as("pred"))
        .orderBy("vec_id")
    }, Some(
      s"""WITH $scoredCte
         |SELECT vec_id, y, round(1.0 / (1.0 + exp(-z)), 6) AS score,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM sc ORDER BY vec_id""".stripMargin)),

    // Confusion-matrix census + precision/recall/F1, every count an
    // exact integer and every ratio one division of the same integers —
    // the eval gate after q138's scoring pass; a single tiny aggregate.
    Q("q139_confusion_matrix", (s, dir) => {
      val p = scored(s, dir)
        .select(col("y"), when(col("z") >= 0, 1L).otherwise(0L).as("p"))
      p.agg(
          sum(when(col("p") === 1L && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("p") === 1L && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
          sum(when(col("p") === 0L && col("y") === 0L, 1L).otherwise(0L)).as("tn"),
          sum(when(col("p") === 0L && col("y") === 1L, 1L).otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("tn"), col("fn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
            .as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
            .as("recall"),
          round(lit(2.0) * col("tp") /
            (lit(2.0) * col("tp") + col("fp") + col("fn")), 6).as("f1"))
    }, Some(
      s"""WITH $scoredCte,
         |p AS (SELECT y, CASE WHEN z >= 0 THEN 1 ELSE 0 END AS p FROM sc),
         |c AS (SELECT
         |  CAST(sum(CASE WHEN p = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN p = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN p = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN p = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM p)
         |SELECT tp, fp, tn, fn,
         |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
         |  round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
         |  round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
         |FROM c""".stripMargin)),

    // Exact AUC via the Mann-Whitney rank statistic: rank every example
    // by margin (ties broken by id — deterministic, and identical in
    // both engines, so the statistic is exact rather than tie-adjusted),
    // AUC = (Σ ranks of positives − P(P+1)/2) / (P·N). Integer sums all
    // the way to one final division — the ranking-quality dial computed
    // without materializing a single pair (vs the P×N pairwise
    // definition: the 100 TB version of "don't build the cross join").
    Q("q140_auc", (s, dir) => {
      val r = scored(s, dir)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("z"), col("vec_id"))).cast("long"))
      r.agg(
          sum(when(col("y") === 1L, col("rank")).otherwise(0L)).as("rank_sum"),
          sum(col("y")).as("pos"),
          sum(lit(1L) - col("y")).as("neg"))
        .select(col("pos"), col("neg"),
          round((col("rank_sum") - col("pos") * (col("pos") + 1) / 2)
            .cast("double") / (col("pos") * col("neg")), 6).as("auc"))
    }, Some(
      s"""WITH $scoredCte,
         |r AS (SELECT y, CAST(row_number() OVER (ORDER BY z, vec_id) AS BIGINT)
         |        AS rank FROM sc),
         |a AS (SELECT CAST(sum(CASE WHEN y = 1 THEN rank ELSE 0 END) AS BIGINT)
         |        AS rank_sum,
         |        CAST(sum(y) AS BIGINT) AS pos,
         |        CAST(sum(1 - y) AS BIGINT) AS neg
         |      FROM r)
         |SELECT pos, neg,
         |  round(CAST(rank_sum - pos * (pos + 1) // 2 AS DOUBLE) / (pos * neg), 6)
         |    AS auc
         |FROM a""".stripMargin)),

    // Sliced evaluation: the same rank-statistic AUC computed per cohort
    // (vec_id mod 3 — the robustness/fairness audit slicing). Ranks are
    // per-cohort windows over the cohort partitioning, so the metric
    // parallelizes by slice; one pass, no pairwise anything.
    Q("q141_sliced_auc", (s, dir) => {
      val r = scored(s, dir)
        .withColumn("cohort", pmod(col("vec_id"), lit(3L)))
        .withColumn("rank", row_number().over(
          Window.partitionBy("cohort").orderBy(col("z"), col("vec_id")))
          .cast("long"))
      r.groupBy("cohort")
        .agg(
          sum(when(col("y") === 1L, col("rank")).otherwise(0L)).as("rank_sum"),
          sum(col("y")).as("pos"),
          sum(lit(1L) - col("y")).as("neg"))
        .select(col("cohort"), col("pos"), col("neg"),
          round((col("rank_sum") - col("pos") * (col("pos") + 1) / 2)
            .cast("double") / (col("pos") * col("neg")), 6).as("auc"))
        .orderBy("cohort")
    }, Some(
      s"""WITH $scoredCte,
         |r AS (SELECT y, vec_id % 3 AS cohort,
         |        CAST(row_number() OVER (PARTITION BY vec_id % 3
         |          ORDER BY z, vec_id) AS BIGINT) AS rank
         |      FROM sc),
         |a AS (SELECT cohort,
         |        CAST(sum(CASE WHEN y = 1 THEN rank ELSE 0 END) AS BIGINT)
         |          AS rank_sum,
         |        CAST(sum(y) AS BIGINT) AS pos,
         |        CAST(sum(1 - y) AS BIGINT) AS neg
         |      FROM r GROUP BY cohort)
         |SELECT cohort, pos, neg,
         |  round(CAST(rank_sum - pos * (pos + 1) // 2 AS DOUBLE) / (pos * neg), 6)
         |    AS auc
         |FROM a ORDER BY cohort""".stripMargin)),

    // Precision-recall curve: P/R at nine calibrated-score thresholds in
    // ONE pass — per-threshold conditional sums instead of nine scans or
    // a score sort. Thresholds compare against the exact margin via the
    // logit (sigmoid(z) >= t  ⟺  z >= ln(t/(1-t))), so no rounded
    // probability ever decides a boundary.
    Q("q142_pr_curve", (s, dir) => {
      val ts = (1 to 9).map(_ / 10.0)
      val base = scored(s, dir)
      val perT = ts.zipWithIndex.flatMap { case (t, i) =>
        val logit = math.log(t / (1.0 - t))
        Seq(
          sum(when(col("z") >= logit && col("y") === 1L, 1L).otherwise(0L))
            .as(s"tp$i"),
          sum(when(col("z") >= logit, 1L).otherwise(0L)).as(s"pp$i"))
      }
      val agg = base.agg(sum(col("y")).as("pos"), perT: _*)
      agg.selectExpr("pos", s"stack(${ts.length}, " +
          ts.zipWithIndex.map { case (t, i) =>
            s"CAST($t AS DOUBLE), tp$i, pp$i"
          }.mkString(", ") + ") AS (threshold, tp, pp)")
        .select(col("threshold"),
          col("tp"), col("pp"),
          round(when(col("pp") === 0L, 1.0)
            .otherwise(col("tp").cast("double") / col("pp")), 6).as("precision"),
          round(col("tp").cast("double") / col("pos"), 6).as("recall"))
        .orderBy("threshold")
    }, Some {
      val ts = (1 to 9).map(_ / 10.0)
      val arms = ts.map { t =>
        val logit = math.log(t / (1.0 - t))
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
           |  CAST(sum(CASE WHEN z >= $logit AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(sum(CASE WHEN z >= $logit THEN 1 ELSE 0 END) AS BIGINT) AS pp,
           |  CAST(sum(y) AS BIGINT) AS pos
           |FROM sc""".stripMargin
      }
      s"""WITH $scoredCte,
         |t AS (${arms.mkString("\nUNION ALL\n")})
         |SELECT threshold, tp, pp,
         |  round(CASE WHEN pp = 0 THEN 1.0 ELSE CAST(tp AS DOUBLE) / pp END, 6)
         |    AS precision,
         |  round(CAST(tp AS DOUBLE) / pos, 6) AS recall
         |FROM t ORDER BY threshold""".stripMargin
    }),

    // Calibration / reliability diagram + expected calibration error:
    // scores bucketed into 10 fixed-width bins, observed positive rate
    // vs mean predicted probability per bin (decimal-summed 6dp-rounded
    // sigmoids, so the mean is order-free), ECE = Σ (n_b/N)·|acc−conf|.
    // Bin membership derives from the exact margin via bin-edge logits —
    // a rounded probability never lands a row in the wrong bin.
    Q("q143_calibration", (s, dir) => {
      val b = scored(s, dir)
        .withColumn("bin", logitBin)
        .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
          Helpers.davg(col("score")).as("conf"))
        .withColumn("acc", round(col("n_pos").cast("double") / col("n"), 6))
      val tot = b.agg(sum("n").as("total"))
      b.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("n_pos"), col("conf"), col("acc"),
          round(col("n").cast("double") / col("total") *
            abs(col("acc") - col("conf")), 9).as("ece_term"))
        .orderBy("bin")
    }, Some {
      s"""WITH $scoredCte,
         |sb AS (SELECT y, CAST($logitBinSql AS BIGINT) AS bin,
         |         round(1.0 / (1.0 + exp(-z)), 6) AS score FROM sc),
         |b AS (SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |        ${Helpers.davgSql("score")} AS conf
         |      FROM sb GROUP BY bin),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM b)
         |SELECT bin, n, n_pos, conf,
         |  round(CAST(n_pos AS DOUBLE) / n, 6) AS acc,
         |  round(CAST(n AS DOUBLE) / total *
         |    abs(round(CAST(n_pos AS DOUBLE) / n, 6) - conf), 9) AS ece_term
         |FROM b CROSS JOIN t ORDER BY bin""".stripMargin
    }),

    // Decile lift / gains: rank by margin, split into 10 equal-count
    // deciles, response rate per decile over the global rate — the
    // targeting-quality chart. Decile bounds come from row_number over
    // the deterministic (z, id) order, counts are exact.
    Q("q144_decile_lift", (s, dir) => {
      val ord = Window.orderBy(desc("z"), col("vec_id"))
      val r = scored(s, dir)
        .withColumn("rn", row_number().over(ord).cast("long"))
        .withColumn("nn", count(lit(1)).over(ord.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("decile", expr("((rn - 1) * 10) div nn + 1"))
      val tot = r.agg(sum("y").as("tp"), count(lit(1)).as("tn"))
      r.groupBy("decile")
        .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n") /
            (col("tp").cast("double") / col("tn")), 6).as("lift"))
        .orderBy("decile")
    }, Some(
      s"""WITH $scoredCte,
         |r AS (SELECT y, CAST(row_number() OVER (ORDER BY z DESC, vec_id)
         |        AS BIGINT) AS rn, count(*) OVER () AS nn FROM sc),
         |d AS (SELECT y, (rn - 1) * 10 // nn + 1 AS decile FROM r),
         |t AS (SELECT CAST(sum(y) AS BIGINT) AS tp, count(*) AS tn FROM d)
         |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  round(CAST(sum(y) AS DOUBLE) / count(*) /
         |    (CAST(t.tp AS DOUBLE) / t.tn), 6) AS lift
         |FROM d CROSS JOIN t GROUP BY decile, t.tp, t.tn
         |ORDER BY decile""".stripMargin)),

    // Population stability index between score distributions of two
    // cohorts (vec_id parity — the deploy-time drift monitor pairing
    // q94's KS): fixed margin bins, PSI = Σ (p_a − p_b)·ln(p_a/p_b)
    // over 6dp-rounded shares summed as exact decimals.
    Q("q145_psi_drift", (s, dir) => {
      val b = scored(s, dir)
        .withColumn("bin", logitBin)
        .withColumn("grp", pmod(col("vec_id"), lit(2L)))
        .groupBy("bin")
        .agg(sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("ca"),
          sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("cb"))
      val tot = b.agg(sum("ca").as("na"), sum("cb").as("nb"))
      b.crossJoin(broadcast(tot))
        .withColumn("pa", round(col("ca").cast("double") / col("na"), 6))
        .withColumn("pb", round(col("cb").cast("double") / col("nb"), 6))
        .filter(col("pa") > 0 && col("pb") > 0)
        .select(col("bin"), col("ca"), col("cb"), col("pa"), col("pb"),
          round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 9)
            .as("psi_term"))
        .orderBy("bin")
    }, Some {
      s"""WITH $scoredCte,
         |sb AS (SELECT CAST($logitBinSql AS BIGINT) AS bin, vec_id % 2 AS grp
         |       FROM sc),
         |b AS (SELECT bin,
         |        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM sb GROUP BY bin),
         |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |        CAST(sum(cb) AS BIGINT) AS nb FROM b),
         |p AS (SELECT bin, ca, cb,
         |        round(CAST(ca AS DOUBLE) / na, 6) AS pa,
         |        round(CAST(cb AS DOUBLE) / nb, 6) AS pb
         |      FROM b CROSS JOIN t)
         |SELECT bin, ca, cb, pa, pb,
         |  round((pa - pb) * ln(pa / pb), 9) AS psi_term
         |FROM p WHERE pa > 0 AND pb > 0 ORDER BY bin""".stripMargin
    }))
}
