package graft

import org.apache.spark.sql.functions._

/** Brute-force cross-checks for the statistical-mining operators
  * (q175+) at sf0.001 — driver-side reference implementations small
  * enough to be obviously correct, independent of the DuckDB oracle.
  */
class MiningSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir).collect()

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("spearman rho matches a driver-side rank computation") {
    val rows = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_size").cast("double"), col("p_retailprice"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    def avgRanks(xs: Array[Double]): Array[Double] = {
      val sorted = xs.zipWithIndex.sortBy(_._1)
      val ranks = new Array[Double](xs.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
        val r = (i + j + 2) / 2.0 // average of 1-based positions i+1..j+1
        (i to j).foreach(k => ranks(sorted(k)._2) = r)
        i = j + 1
      }
      ranks
    }
    val rx = avgRanks(rows.map(_._1))
    val ry = avgRanks(rows.map(_._2))
    val n = rx.length
    val mx = rx.sum / n
    val my = ry.sum / n
    val num = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    val expected = round6(num / den)
    val got = q("q175_spearman_corr")(0).getDouble(1)
    assert(math.abs(got - expected) < 2e-6, s"got $got expected $expected")
  }

  test("kendallTauB census equals a brute-force pair scan on tie-heavy random data") {
    import spark.implicits._
    // the census/dominance formulation must agree with the O(n²)
    // definition on every tie structure: per-seed random frames cover
    // singleton groups, all-tied-x, all-tied-y, all-tied-both, and
    // dense mixed ties (tiny value domains force collisions)
    def brute(rows: Seq[(Int, Double, Long)]) =
      rows.groupBy(_._1).map { case (g, rs) =>
        val n = rs.length.toLong
        val n0 = n * (n - 1) / 2
        var conc = 0L; var disc = 0L; var tx = 0L; var ty = 0L
        for (i <- rs.indices; j <- i + 1 until rs.length) {
          val sx = java.lang.Double.compare(rs(i)._2, rs(j)._2)
          val sy = java.lang.Long.compare(rs(i)._3, rs(j)._3)
          if (sx * sy > 0) conc += 1 else if (sx * sy < 0) disc += 1
          if (sx == 0) tx += 1
          if (sy == 0) ty += 1
        }
        val tau = if (n0 - tx > 0 && n0 - ty > 0)
          Some(round6((conc - disc).toDouble /
            math.sqrt(((n0 - tx) * (n0 - ty)).toDouble)))
        else None
        g -> ((n0, conc, disc, tau))
      }
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val (xDom, yDom) = seed match {
        case 1 => (1, 5) // all x tied within a group
        case 2 => (5, 1) // all y tied
        case 3 => (1, 1) // all pairs tied in both
        case _ => (1 + rnd.nextInt(5), 1 + rnd.nextInt(4))
      }
      val rows = Seq.tabulate(1 + rnd.nextInt(60)) { _ =>
        (rnd.nextInt(3), rnd.nextInt(xDom).toDouble, rnd.nextInt(yDom).toLong)
      } ++ Seq((9, 1.0, 1.0.toLong)) // a singleton group every time
      val got = queries.MiningQueries
        .kendallTauB(rows.toDF("g", "x", "y"), "g", "x", "y")
        .collect().map { r =>
          r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        }.toMap
      assert(got == brute(rows), s"seed $seed: $got vs ${brute(rows)}")
      spark.catalog.clearCache() // the helper persists its intermediates
    }
  }

  test("gini matches the sorted-cumulative definition") {
    val spend = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("x"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(t => (t._2, t._1)).map(_._2)
    val n = spend.length
    val sx = spend.sum
    val six = spend.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val expected = 2.0 * six / (n * sx) - (n + 1.0) / n
    val got = q("q176_gini_spend")(0).getDouble(2)
    assert(math.abs(got - expected) < 1e-4, s"got $got expected $expected")
  }

  test("welch t-test matches a direct two-sample computation") {
    val xs = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0) % 2, r.getDouble(1)))
    def stats(arm: Long) = {
      val v = xs.filter(_._1 == arm).map(_._2)
      val n = v.length.toDouble
      val m = v.sum / n
      (n, m, v.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (n0, m0, v0) = stats(0)
    val (n1, m1, v1) = stats(1)
    val t = (m0 - m1) / math.sqrt(v0 / n0 + v1 / n1)
    val r = q("q178_welch_ttest")(0)
    assert(math.abs(r.getDouble(4) - t) < 1e-4,
      s"t got ${r.getDouble(4)} expected $t")
    assert(r.getLong(0) + r.getLong(1) == xs.length)
  }

  test("grid distance join finds exactly the brute-force close pairs") {
    val pts = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .map(k => (k, (k * 37 % 1000) / 25.0, (k * 73 % 1000) / 25.0))
    val brute = (for {
      (ka, xa, ya) <- pts; (kb, xb, yb) <- pts if ka < kb
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
      if d2 <= 0.25 + 1e-12
    } yield (ka, kb)).size.toLong
    val got = q("q184_grid_distance_join")(0).getLong(0)
    assert(got == brute, s"got $got expected $brute")
  }

  test("bfs layers match a driver-side BFS") {
    val edges = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .groupBy("o").agg(collect_set("p").as("ps"))
      .collect()
      .flatMap(_.getSeq[Long](1).sorted.combinations(2).map(c => (c(0), c(1))))
      .toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size).toMap
    val seed = deg.toSeq.sortBy { case (k, d) => (-d, k) }.head._1
    var visited = Set(seed)
    var frontier = Set(seed)
    val expected = (1 to 3).map { round =>
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
      visited ++= frontier
      (round.toLong, frontier.size.toLong, visited.size.toLong)
    }
    val got = q("q182_bfs_layers")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"got $got expected $expected")
  }

  test("theil-sen slope is the median of bounded-horizon pairwise slopes") {
    val daily = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice") * 1000000).cast("decimal(20,0)")).as("x"))
      .orderBy("day").collect()
    val d0 = daily.head.getDate(0).toLocalDate
    val pts = daily.map(r => (
      java.time.temporal.ChronoUnit.DAYS.between(d0, r.getDate(0).toLocalDate),
      r.getDecimal(1).longValueExact()))
    val slopes = (for {
      (i, xi) <- pts; (j, xj) <- pts if j > i && j <= i + 120
    } yield (xj - xi).toDouble / (j - i) / 1e6).sorted
    val n = slopes.length
    val median = if (n % 2 == 1) slopes(n / 2)
      else (slopes(n / 2 - 1) + slopes(n / 2)) / 2.0
    val r = q("q193_theil_sen")(0)
    assert(r.getLong(0) == n.toLong, s"n_pairs ${r.getLong(0)} expected $n")
    assert(math.abs(r.getDouble(1) - median) < 1e-5,
      s"got ${r.getDouble(1)} expected $median")
  }

  test("sorted-neighborhood pairs come from the rank window and pass the screen") {
    val keyed = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        substring(graft.text.TextOps.cleanText(col("text")), 1, 20).as("k"),
        substring(graft.text.TextOps.cleanText(col("text")), 1, 60).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._2, t._1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      i <- keyed.indices; o <- 1 to 3 if i + o < keyed.length
      d = lev(keyed(i)._3, keyed(i + o)._3) if d <= 10
    } yield (keyed(i)._1, keyed(i + o)._1, d.toLong)).toSet
    val got = q("q194_sorted_neighborhood")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("association rules: confidence and lift are consistent with marginals") {
    val rows = q("q181_assoc_rules")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (support, conf, lift) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(support > 0 && support <= 1)
      assert(conf >= support - 1e-9, "confidence >= support always")
      assert(lift > 0)
    }
    // symmetric pair: lift(a→b) == lift(b→a) when both directions surface
    val lifts = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    lifts.foreach { case ((a, b), l) =>
      lifts.get((b, a)).foreach(l2 => assert(math.abs(l - l2) < 1e-9))
    }
  }

  test("rank-1 ALS factors match a driver-side alternation") {
    val r = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .join(spark.read.parquet(s"$dir/part.parquet"),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
      .agg(count(lit(1)).as("r"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val u1 = r.groupBy(_._1).map { case (c, xs) =>
      c -> r9(xs.map(_._3).sum.toDouble / xs.length) }
    def d12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def vStep(u: Map[Long, Double]) = r.groupBy(_._2).map { case (b, xs) =>
      val num = xs.map(x => d12(r9(x._3 * u(x._1)))).sum
      val den = xs.map(x => d12(r9(u(x._1) * u(x._1)))).sum
      b -> r9((num / den).toDouble)
    }
    def uStep(v: Map[String, Double]) = r.groupBy(_._1).map { case (c, xs) =>
      val num = xs.map(x => d12(r9(x._3 * v(x._2)))).sum
      val den = xs.map(x => d12(r9(v(x._2) * v(x._2)))).sum
      c -> r9((num / den).toDouble)
    }
    val v1 = vStep(u1)
    val v2 = vStep(uStep(v1))
    val got = q("q185_als_rank1")
      .map(x => x.getString(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    v2.foreach { case (b, v) =>
      assert(math.abs(got(b)._2 - v) < 1e-5, s"brand $b got ${got(b)._2} expected $v")
    }
  }

  test("itemPairCounts: chunked expansion equals brute force, whale included") {
    // The SkewGen `orders` axis puts 30% of the fact table on one
    // customer; the chunked pair expansion must reproduce the naive
    // pair multiset exactly while never materializing a whale basket's
    // quadratic array in one allocation. chunkB=7 (odd, non-dividing)
    // exercises within-chunk, cross-chunk, ragged-tail, and
    // single-chunk paths on randomized baskets incl. a relative whale.
    import spark.implicits._
    val rnd = new scala.util.Random(157)
    val baskets: Seq[(Long, Seq[Long])] =
      (1L to 12L).map { c =>
        val n = 1 + rnd.nextInt(20)
        c -> Seq.fill(n)(rnd.nextInt(40).toLong).distinct.sorted
      } :+ (99L -> rnd.shuffle((0L until 60L).toList).take(45).sorted.toSeq)
    val sets = baskets.toDF("c", "ps")
    val got = graft.queries.RankQueries.itemPairCounts(sets, chunkB = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = baskets.flatMap { case (_, ps) =>
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(got.keys.forall { case (i, j) => i < j })
  }

  test("chunkedPairs payload: weighted wedge aggregation equals brute force") {
    // q197 rides a per-center weight on every emitted pair; the chunked
    // stream must deliver the payload with the SAME multiplicity as the
    // naive expansion so weighted sums (Adamic–Adar) agree exactly.
    import spark.implicits._
    val rnd = new scala.util.Random(197)
    val centers: Seq[(Long, Seq[Long], Double)] =
      (1L to 10L).map { c =>
        val n = 2 + rnd.nextInt(18)
        val nb = Seq.fill(n)(rnd.nextInt(30).toLong).distinct.sorted
        (c, nb, math.rint(1e9 / math.log(nb.size.max(2))) / 1e9)
      } :+ {
        val nb = rnd.shuffle((0L until 50L).toList).take(41).sorted.toSeq
        (99L, nb, math.rint(1e9 / math.log(nb.size)) / 1e9)
      }
    val sets = centers.toDF("c", "ps", "aa_w")
    val got = graft.queries.Helpers.chunkedPairs(sets, Seq("aa_w"), chunkB = 7)
      .groupBy("i", "j")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum(col("aa_w")
            .cast(org.apache.spark.sql.types.DecimalType(20, 12)))
            .cast("double"), 6).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val want = centers.flatMap { case (_, nb, w) =>
      for (a <- nb; b <- nb if a < b) yield ((a, b), w)
    }.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong,
        math.rint(1e6 * v.map(x => BigDecimal(x._2)).sum.toDouble) / 1e6))
    }
    assert(got == want, s"got=${got.size} want=${want.size}")
  }

  test("chunkedPairs equals naive expansion for every chunk size 1-9") {
    // widened fuzz (round-7 advice): the chunk boundary cases live at
    // tiny chunkB — chunkB=1 routes EVERY pair through the cross-chunk
    // join, set sizes straddling k·chunkB exercise the last-slice
    // padding, and the payload must ride with naive multiplicity
    // through both the within-chunk and cross-chunk branches.
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val centers: Seq[(Long, Seq[Long], Double)] =
      (1L to 12L).map { c =>
        val n = rnd.nextInt(23) // includes empty and size-1 sets
        val nb = Seq.fill(n)(rnd.nextInt(40).toLong).distinct.sorted
        (c, nb, math.rint(1e9 * rnd.nextDouble()) / 1e9)
      }
    val want = centers.flatMap { case (_, nb, w) =>
      for (a <- nb; b <- nb if a < b) yield ((a, b), w)
    }.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong,
        math.rint(1e6 * v.map(x => BigDecimal(x._2)).sum.toDouble) / 1e6))
    }
    val sets = centers.toDF("c", "ps", "w")
    for (chunkB <- 1 to 9) {
      val got = graft.queries.Helpers.chunkedPairs(sets, Seq("w"), chunkB = chunkB)
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"),
          round(sum(col("w").cast(
            org.apache.spark.sql.types.DecimalType(20, 12))).cast("double"), 6)
            .as("s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
        .toMap
      assert(got == want, s"chunkB=$chunkB: got=${got.size} want=${want.size}")
    }
  }
}
