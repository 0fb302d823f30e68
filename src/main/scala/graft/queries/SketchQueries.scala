package graft.queries

import graft.sources.Tables
import graft.text.{StableHash, StableHash64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Probabilistic summary structures beyond the KMV sketch (q67): a
  * count-min frequency sketch and a HyperLogLog cardinality sketch, both
  * seeded by StableHash so the DuckDB oracle replays the exact estimate,
  * not just a tolerance band. The shared scale shape: bounded state per
  * partition (d×w counters / m registers), map-side combined, so only
  * the fixed-size summary crosses the shuffle — never the raw values.
  */
object SketchQueries {

  /** The (j, bucket) probe structs of the d=4 × w=128 CMS — shared by the
    * batch (q98) and streaming (q116) builds so the two sketches are the
    * same function of the data by construction.
    */
  private[queries] def cmsProbes(user: org.apache.spark.sql.Column) =
    (0 until 4).map { j =>
      struct(lit(j).as("j"),
        pmod(StableHash64(concat(lit(s"cms$j:"), user.cast("string"))),
          lit(128L)).as("bucket"))
    }

  /** The CMS point estimate (min over the 4 rows' counters) of each
    * probed user `(user_id, n, j, bucket)` against the sketch `cms(j,
    * bucket, cnt)`, next to the exact count — q98 and q116's output.
    */
  private[queries] def cmsEstimates(probed: DataFrame, cms: DataFrame): DataFrame =
    probed.join(broadcast(cms), Seq("j", "bucket"))
      .groupBy("user_id", "n")
      .agg(min("cnt").as("cms_est"))
      .select(col("user_id"), col("n").as("n_exact"), col("cms_est"),
        (col("cms_est") - col("n")).as("overcount"))
      .orderBy(desc("n_exact"), col("user_id"))

  /** DuckDB replay of the CMS top-20 estimate table — the oracle for both
    * q98 (batch) and q116 (streaming; stream ≡ batch is the claim).
    */
  private[queries] def cmsOracleSql: String = {
    def h(j: Int): String =
      StableHash.hashes64Sql(s"['cms$j:' || CAST(user_id AS VARCHAR)]") +
        "[1] % 128"
    s"""WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
       |hb AS (SELECT user_id, n, x.j AS j, x.b AS bucket FROM (
       |  SELECT user_id, n, unnest([
       |    {'j': 0, 'b': ${h(0)}}, {'j': 1, 'b': ${h(1)}},
       |    {'j': 2, 'b': ${h(2)}}, {'j': 3, 'b': ${h(3)}}]) AS x FROM u) z),
       |cms AS (SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cnt
       |        FROM hb GROUP BY j, bucket),
       |top AS (SELECT user_id, n FROM u ORDER BY n DESC, user_id LIMIT 20)
       |SELECT t.user_id AS user_id, t.n AS n_exact,
       |  min(c.cnt) AS cms_est, min(c.cnt) - t.n AS overcount
       |FROM top t JOIN hb ON hb.user_id = t.user_id
       |JOIN cms c ON c.j = hb.j AND c.bucket = hb.bucket
       |GROUP BY t.user_id, t.n ORDER BY n_exact DESC, user_id""".stripMargin
  }

  /** Attach the m=64 HLL probe columns (h, reg, rho) for a user key —
    * shared by the batch (q99) and streaming-windowed (q134) builds.
    */
  private[queries] def withHllCols(df: org.apache.spark.sql.DataFrame,
      user: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    df.withColumn("h", StableHash64(concat(lit("hll:"), user.cast("string"))))
      .withColumn("reg", pmod(col("h"), lit(64L)))
      .withColumn("w", expr("shiftrightunsigned(h, 6)"))
      .withColumn("rho",
        lit(59L) - when(col("w") === 0L, 0L)
          .otherwise(length(conv(col("w").cast("string"), 10, 2)).cast("long")))

  /** Registers (keys..., mj) → (keys..., zeros, hll_est): the exact-
    * integer Σ2^(60−Mj) sum, raw estimate, and linear-counting branch.
    */
  private[queries] def hllEstimate(regs: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    val alphaNum = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))) *
      lit(4096.0) * lit(1.152921504606846976e18)
    regs.groupBy(keys.map(col): _*).agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - mj AS INT))")
          .cast(DecimalType(38, 0))).as("s_present"),
        count(lit(1)).as("nr"))
      .withColumn("s_total",
        (col("s_present") +
          (lit(64L) - col("nr")).cast(DecimalType(38, 0)) *
            lit(1152921504606846976L)).cast("double"))
      .withColumn("zeros", lit(64L) - col("nr"))
      .withColumn("raw", alphaNum / col("s_total"))
      .select(keys.map(col) ++ Seq(col("zeros"),
        round(when(col("raw") <= 160.0 && col("zeros") > 0,
          lit(64.0) * log(lit(64.0) / col("zeros")))
          .otherwise(col("raw")), 4).as("hll_est")): _*)
  }

  /** DuckDB replay of the m=64 HLL estimate keyed by `keyExpr AS
    * keyName` — generates q99's (key = event_type) and q134's (key =
    * hour bucket) oracles from one template.
    */
  private[queries] def hllOracleSql(keyExpr: String, keyName: String): String = {
    val uh = StableHash.hashes64Sql("['hll:' || CAST(user_id AS VARCHAR)]") + "[1]"
    s"""WITH h AS (SELECT $keyExpr AS k, user_id, $uh AS h FROM events),
       |b AS (SELECT k, CAST(h % 64 AS BIGINT) AS reg,
       |        59 - (CASE WHEN h // 64 = 0 THEN 0
       |              ELSE length(bin(CAST(h // 64 AS BIGINT))) END) AS rho
       |      FROM h),
       |regs AS (SELECT k, reg, max(rho) AS mj FROM b GROUP BY k, reg),
       |agg AS (SELECT k,
       |          sum(1::BIGINT << CAST(60 - mj AS INT)) AS s_present,
       |          count(*) AS nr
       |        FROM regs GROUP BY k),
       |est AS (SELECT k, 64 - nr AS zeros,
       |          (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 * 1152921504606846976.0
       |            / CAST(s_present + (64 - nr)::HUGEINT * 1152921504606846976::HUGEINT AS DOUBLE)
       |            AS raw
       |        FROM agg),
       |fin AS (SELECT k, CAST(zeros AS BIGINT) AS zeros,
       |          round(CASE WHEN raw <= 160.0 AND zeros > 0
       |                THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS hll_est
       |        FROM est),
       |ex AS (SELECT $keyExpr AS k, count(DISTINCT user_id) AS n_exact
       |       FROM events GROUP BY 1)
       |SELECT f.k AS $keyName, ex.n_exact AS n_exact, f.zeros AS zeros,
       |  f.hll_est AS hll_est,
       |  round(abs(f.hll_est - ex.n_exact) / ex.n_exact, 4) AS rel_err
       |FROM fin f JOIN ex USING (k) ORDER BY $keyName""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Count-min-sketch heavy hitters: a d=4 × w=128 counter array over
    // event user_ids (w a power of two, so signed pmod == unsigned mod
    // — 2^64 ≡ 0 mod 128). The query emits, for the exact top-20 users,
    // the exact count next to the CMS point estimate (min over the 4
    // rows) and its overcount. At 100 TB the CMS is the fixed-memory
    // answer to "how often does any key occur" — 512 counters per
    // partition, merged by addition, while the exact groupBy ships every
    // key; the oracle replays the identical bucket sums.
    Q("q98_cms_heavy_hitters", (s, dir) => {
      // per-user occurrence counts feed the sketch build, the exact
      // top-20, and the probe — one small frame, three consumers
      val u = EventQueries.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .persist()
      val hb = u.select(col("user_id"), col("n"),
          explode(array(cmsProbes(col("user_id")): _*)).as("h"))
        .select(col("user_id"), col("n"),
          col("h.j").as("j"), col("h.bucket").as("bucket"))
      val cms = hb.groupBy("j", "bucket").agg(sum("n").as("cnt"))
      val top = u.orderBy(desc("n"), col("user_id")).limit(20)
      cmsEstimates(top.join(hb.drop("n"), "user_id"), cms)
    }, Some(cmsOracleSql)),

    // HyperLogLog distinct-user cardinality per event type: m=64
    // registers (register = hash mod 64, rho = leading-zero rank of the
    // remaining 58-bit field), with the small-range linear-counting
    // branch of the original Flajolet et al. paper. The register sum
    // Σ 2^-Mj is computed as exact integers scaled by 2^60 (Mj ≤ 59), so
    // both engines divide the same two doubles and the estimate matches
    // bit-for-bit after rounding. Scale shape: 64 longs per group per
    // partition cross the wire — the cardinality answer whose state does
    // not grow with the data (vs q67's KMV, whose k-array does with k).
    Q("q99_hll_cardinality", (s, dir) => {
      val ev = withHllCols(EventQueries.events(s, dir), col("user_id"))
      val regs = ev.groupBy("event_type", "reg").agg(max("rho").as("mj"))
      val exact = EventQueries.events(s, dir)
        .groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
      hllEstimate(regs, Seq("event_type")).join(exact, "event_type")
        .select(col("event_type"), col("n_exact"), col("zeros"), col("hll_est"),
          round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 4)
            .as("rel_err"))
        .orderBy("event_type")
    }, Some(hllOracleSql("event_type", "event_type"))),

    // Bitmap-index EXACT distinct count (the roaring-bitmap pattern via
    // Spark's bitmap_* aggregates): ids hash into fixed 32k-bit bucket
    // bitmaps built per (group, bucket) with map-side combine, bit
    // counts sum per group. Unlike the KMV/HLL ESTIMATES (q67/q99) this
    // is exact, and unlike count(DISTINCT) the shuffled state is bounded
    // bitmap pages, not every distinct value — the modern exact-distinct
    // at 100 TB. The oracle is plain count(DISTINCT): same answer is
    // the whole point.
    Q("q132_bitmap_distinct", (s, dir) => {
      val ev = EventQueries.events(s, dir)
      // ids shifted +1: the bitmap functions are 1-based (position
      // (v-1) % 32768), so id 0 would land at position -1
      val perBucket = ev
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id + 1)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id + 1))")
          .as("bm"))
      perBucket
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)))
}
