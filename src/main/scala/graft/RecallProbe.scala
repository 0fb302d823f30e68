package graft

import org.apache.spark.sql.functions._

/** ANN quality probe for q69's hard-negative auto-delegation: runs the
  * PRODUCTION query twice — once forced onto the exact broadcast-n²
  * plan (`exactMax` = ∞), once forced onto `Ivf.hardNegatives`
  * (`exactMax` = 0, so the production k = √(n·nprobe/3) formula and
  * nprobe = 8 are exactly what ships) — and reports recall\@1,
  * similarity-gap distribution, and dropout against the exact ground
  * truth. The latency trade is priced in BASELINE.md's round-10
  * addendum; this prints the QUALITY price `exactMax` buyers pay.
  *
  * Usage: runMain graft.RecallProbe <sfDir> [outJson]
  * Exact is n² (94 s at 20k vectors, sf1) — affordable as a one-off
  * ground-truth run, which is the entire reason it can grade the ANN.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallProbe <sfDir> [outJson]")
    val sfDir = args(0)
    // the harness's SPARK_GRAFT_CONF passthrough (e.g.
    // spark.graft.hardNegatives.nprobe=16) drives the tuning sweeps
    val spark = Harness.session("graft-recall-probe")
    val conf = Harness.env.confRaw
    val exactMax = GraftConf.hardNegatives.exactMax.name

    val q = SparkEntry.queries("q69_hard_negatives")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    spark.conf.set(exactMax, Long.MaxValue.toString)
    val (exact, exactSec) = timed {
      val df = q(spark, sfDir)
        .select(col("vec_id"), col("hard_negative").as("ex_nb"),
          col("sim").as("ex_sim"))
        .persist()
      df.count()
      df
    }
    spark.conf.set(exactMax, "0")
    val (ann, annSec) = timed {
      val df = q(spark, sfDir)
        .select(col("vec_id"), col("hard_negative").as("ann_nb"),
          col("sim").as("ann_sim"))
        .persist()
      df.count()
      df
    }

    // left join from ground truth: an exact row with no ANN partner is
    // a dropout (all probed cells same-label); gap = how much softer
    // the mined negative is than the true hardest one (≥ 0 by
    // construction — the ANN candidate set is a subset of exact's)
    val j = exact.join(ann, Seq("vec_id"), "left")
    val r = j.agg(
      count(lit(1)).as("n"),
      count(col("ann_nb")).as("covered"),
      coalesce(sum(when(col("ann_sim") === col("ex_sim"), 1L).otherwise(0L)),
        lit(0L)).as("hit_sim"),
      coalesce(sum(when(col("ann_nb") === col("ex_nb"), 1L).otherwise(0L)),
        lit(0L)).as("hit_id"),
      avg(col("ex_sim") - col("ann_sim")).as("gap_mean"),
      expr("percentile(ex_sim - ann_sim, 0.5)").as("gap_p50"),
      expr("percentile(ex_sim - ann_sim, 0.99)").as("gap_p99"),
      max(col("ex_sim") - col("ann_sim")).as("gap_max"),
      min(col("ex_sim") - col("ann_sim")).as("gap_min")
    ).head()
    // release both probe frames and any intermediates q69 persisted
    spark.catalog.clearCache()

    val n = r.getLong(0)
    val covered = r.getLong(1)
    def d6(v: Double) = Harness.num(v, 6)
    // total dropout leaves every gap aggregate SQL NULL — the probe
    // must still emit the artifact (the dropout count IS the finding)
    def gap(i: Int) = if (r.isNullAt(i)) "null" else d6(r.getDouble(i))
    // an empty corpus must not emit NaN (invalid JSON): the ratios get
    // the same null treatment as the gap aggregates
    def ratio(i: Int) = if (n == 0) "null" else d6(r.getLong(i).toDouble / n)
    val line = Seq(
      s""""sf":"${Harness.jsonStr(sfDir)}"""",
      s""""n":$n""",
      s""""covered":$covered""",
      s""""dropout":${n - covered}""",
      s""""recall_at1_sim":${ratio(2)}""",
      s""""recall_at1_id":${ratio(3)}""",
      s""""gap_mean":${gap(4)}""",
      s""""gap_p50":${gap(5)}""",
      s""""gap_p99":${gap(6)}""",
      s""""gap_max":${gap(7)}""",
      s""""gap_min":${gap(8)}""",
      s""""exact_sec":${d6(exactSec)}""",
      s""""ann_sec":${d6(annSec)}"""
    ).++(conf.map(c => s""""conf":"${Harness.jsonStr(c)}"""").toSeq)
      .mkString("{", ",", "}")
    println(line)
    args.lift(1).foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
      ()
    }
    spark.stop()
  }
}
