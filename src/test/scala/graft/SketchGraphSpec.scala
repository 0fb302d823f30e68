package graft

import java.time.LocalDateTime

import graft.queries.{GraphQueries, SketchQueries}
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-side brute-force cross-checks for the sketch and graph
  * operators at sf0.001 — independent of the DuckDB oracle, these pin
  * the ALGORITHMS (CMS one-sided error, HLL accuracy, degree-oriented
  * triangle enumeration, staircase skyline, binned interval join)
  * against naive reference implementations small enough to be obviously
  * correct.
  */
class SketchGraphSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir).collect()

  test("CMS estimates are one-sided: est >= exact for every reported user") {
    val rows = q("q98_cms_heavy_hitters")
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("cms_est")
      assert(est >= exact, s"user ${r.get(0)}: est $est < exact $exact")
      assert(r.getAs[Long]("overcount") == est - exact)
    }
  }

  test("HLL estimate lands within 30% of the exact distinct count") {
    q("q99_hll_cardinality").foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Double]("hll_est")
      assert(math.abs(est - exact) / exact < 0.30,
        s"${r.get(0)}: est $est vs exact $exact")
    }
  }

  test("triangle count matches a brute-force enumeration of the edge set") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted)
    val edges = byOrder.values.flatMap { ps =>
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tri = edges.toSeq.map { case (u, v) =>
      adj.getOrElse(u, Set.empty).count(w => w > v && edges.contains((v, w)))
    }.sum
    val Array(row) = q("q100_triangle_count")
    assert(row.getAs[Long]("n_edges") == edges.size)
    assert(row.getAs[Long]("n_triangles") == tri.toLong)
  }

  test("skyline equals the brute-force non-dominated set") {
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def dominated(p: (Long, Double, Int)) = parts.exists { o =>
      o._2 <= p._2 && o._3 >= p._3 && (o._2 < p._2 || o._3 > p._3)
    }
    val expected = parts.filterNot(dominated).map(_._1).toSet
    val got = q("q104_skyline").map(_.getAs[Long]("p_partkey")).toSet
    assert(got == expected)
  }

  test("binned interval join equals the naive range-predicate join") {
    val win = 30L * 86400L
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .filter("o_orderpriority = '1-URGENT' AND o_totalprice > 480000.0")
      .selectExpr("o_orderkey", "unix_timestamp(o_orderdate) AS t0").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ship = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("unix_timestamp(l_shipdate) AS ts").collect().map(_.getLong(0))
    val expected = ord.map { case (k, t0) =>
      k -> ship.count(ts => ts >= t0 && ts < t0 + win).toLong
    }.filter(_._2 > 0).toMap
    val got = q("q101_interval_join")
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("n_shipped")).toMap
    assert(got == expected)
  }

  test("Bloom filter admits every member and reports zero false negatives") {
    val Array(r) = q("q106_bloom_semijoin")
    assert(r.getAs[Long]("n_false_neg") == 0L)
    assert(r.getAs[Long]("n_pass") ==
      r.getAs[Long]("n_members") + r.getAs[Long]("n_false_pos"))
    assert(r.getAs[Long]("n_members") <= r.getAs[Long]("n_probe"))
  }

  test("KMV set-algebra estimates agree with exact overlap within 35%") {
    val Array(r) = q("q107_kmv_setops")
    val exactU = r.getAs[Long]("exact_union").toDouble
    assert(math.abs(r.getAs[Double]("est_union") - exactU) / exactU < 0.35)
    assert(r.getAs[Double]("est_jaccard") >= 0.0 &&
      r.getAs[Double]("est_jaccard") <= 1.0)
  }

  test("dataset fingerprint matches a driver-side mod-2^64 recompute") {
    val M = BigInt(1) << 64
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val s = rows.map { case (_, id, text) =>
        BigInt(java.lang.Long.toUnsignedString(
          graft.text.StableHash.hash64(s"$id:${md5hex(text)}")))
      }.sum % M
      src -> ((s >> 32).toLong, (s % BigInt(4294967296L)).toLong)
    }
    val got = q("q108_dataset_fingerprint").map(r =>
      r.getAs[String]("source") ->
        ((r.getAs[Long]("fp_hi"), r.getAs[Long]("fp_lo")))).toMap
    assert(got == expected)
  }

  test("MAD anomaly counts are consistent with a driver-side recompute") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      val h = (n - 1) * 0.5
      val lo = s(h.toInt)
      val hi = s(math.ceil(h).toInt)
      lo + (hi - lo) * (h - h.toInt)
    }
    val expected = ev.groupBy(_._1).map { case (t, vs) =>
      val xs = vs.map(_._2)
      val med = median(xs)
      val mad = median(xs.map(v => math.abs(v - med)))
      t -> xs.count(v => math.abs(v - med) > 3.0 * mad).toLong
    }
    val got = q("q103_mad_anomaly")
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_outliers")).toMap
    assert(got == expected)
  }

  test("order bursts equal connected components of the lag edges") {
    import spark.implicits._
    def at(day: Int, hour: Int = 0) = Some(LocalDateTime.of(2024, 1, 1, hour, 0).plusDays(day))
    val orders = Seq(
      // a one-order customer
      (50L, 1L, at(0)),
      // gaps of exactly 7 (linked) and 8 days (a new burst); the first
      // burst's minimum key is its second order
      (10L, 2L, at(0)), (5L, 2L, at(7)), (7L, 2L, at(15)),
      // equal dates: the order key orders them
      (30L, 3L, at(40)), (20L, 3L, at(40)), (25L, 3L, at(40)), (40L, 3L, at(60)),
      // gaps count calendar days: 7 (6 by the clock), then 8
      (70L, 4L, at(80, 23)), (71L, 4L, at(87, 1)), (72L, 4L, at(95)),
      // a null date links to nothing; keys not monotone in date
      (80L, 5L, None), (82L, 5L, at(100)), (81L, 5L, at(102)))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = GraphQueries.orderBursts(orders).collect()
    assert(got.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq.sorted)
    val bursts = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the same lag edges labeled by the union-find connected components
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val edges = orders
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
      .withColumn("gap", datediff(to_date(col("o_orderdate")),
        to_date(lag(col("o_orderdate"), 1).over(w))))
      .filter(col("prev_key").isNotNull && col("gap") <= 7)
      .select(col("o_orderkey").as("a"), col("prev_key").as("b"))
    val cc = graft.dedup.Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keys = orders.select("o_orderkey").as[Long].collect()
    assert(got.length == keys.length)
    assert(bursts == keys.map(k => k -> cc.getOrElse(k, k)).toMap)
    assert(bursts == Map(50L -> 50L, 10L -> 5L, 5L -> 5L, 7L -> 7L,
      30L -> 20L, 20L -> 20L, 25L -> 20L, 40L -> 40L,
      70L -> 70L, 71L -> 70L, 72L -> 72L, 80L -> 80L, 82L -> 81L, 81L -> 81L))
  }
}
