package graft

import org.apache.spark.sql.functions._

/** Key-SKEW stress corpus: same tables, adversarial key distribution.
  * ScaleGen probes corpus ×N and LenGen probes document length ×N; this
  * third axis probes the skew regimes a web-scale corpus actually has —
  * a handful of power-law-head keys owning a constant fraction of the
  * data. Two deterministic distortions of an input sf dir:
  *
  *  - events: 30% of rows (event_id % 10 < 3) are rerouted to the modal
  *    user — one user_id owns ~30% of all events, the worst case for
  *    user-keyed windows, sessionization, and stream-state stores.
  *  - documents: 20% of docs (doc_id % 5 == 0) are overwritten with one
  *    shared text (the longest document, ties by doc_id) — a single
  *    exact-duplicate group of corpus/5 members, the worst case for
  *    LSH banding (one mega-bucket), set-similarity prefix filtering,
  *    and connected-components dedup.
  *
  * With the optional third argument `orders`, a third distortion is
  * added for the relational side:
  *
  *  - orders: 30% of rows (o_orderkey % 10 < 3) are rerouted to the
  *    modal customer — the hot-entity case for customer-keyed joins,
  *    windows, and cohort aggregates over the TPC-H-ish tables.
  *  - parts: 30% of lineitem rows are rerouted to the modal part — the
  *    hot-ITEM case: a hub vertex in the co-purchase graph whose
  *    degree grows with the order count, the worst case for wedge and
  *    pair expansions keyed per graph vertex rather than per basket.
  *
  * All other tables are copied through unchanged so the output dir is a
  * drop-in for the full registry. Deterministic: no RNG, the routing is
  * pure id arithmetic.
  *
  * Usage: SkewGen <inSfDir> <outDir> [orders] [parts]
  */
object SkewGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SkewGen <inSfDir> <outDir> [orders]")
    val Array(in, out) = args.take(2)
    val skewOrders = args.drop(2).contains("orders")
    val skewParts = args.drop(2).contains("parts")
    val spark = Harness.session("graft-skewgen")

    val events = spark.read.parquet(s"$in/events.parquet")
    val hot = events.groupBy("user_id").count()
      .orderBy(desc("count"), asc("user_id")).head().getLong(0)
    events
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(10L)) < 3, lit(hot))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = spark.read.parquet(s"$in/documents.parquet")
    val sharedText = docs
      .orderBy(length(col("text")).desc, col("doc_id").asc)
      .select("text").head().getString(0)
    docs
      .withColumn("dup", pmod(col("doc_id"), lit(5L)) === 0)
      .withColumn("text", when(col("dup"), lit(sharedText)).otherwise(col("text")))
      // recompute with Spark length() (code points), not JVM
      // String.length (UTF-16 units) — they diverge on non-BMP text and
      // the rest of the pipeline derives n_chars from length()
      .withColumn("n_chars",
        when(col("dup"), length(col("text")).cast("long"))
          .otherwise(col("n_chars")))
      .drop("dup")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (skewOrders) {
      val orders = spark.read.parquet(s"$in/orders.parquet")
      val hotCust = orders.groupBy("o_custkey").count()
        .orderBy(desc("count"), asc("o_custkey")).head().getLong(0)
      orders
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(10L)) < 3, lit(hotCust))
            .otherwise(col("o_custkey")))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      println(s"[skewgen] hotCust=$hotCust")
    }
    if (skewParts) {
      // hot-ITEM case: one part lands in ~30% of lineitem rows, so its
      // degree in the co-purchase graph grows with the order count —
      // the hub-vertex worst case for wedge/pair expansions (q197) and
      // item-similarity plans, distinct from the hot-CUSTOMER axis
      // (whale baskets) above. Routing keys on the lineitem primary
      // key (l_orderkey, l_linenumber) so it is deterministic and
      // independent of the part distribution.
      val li = spark.read.parquet(s"$in/lineitem.parquet")
      val hotPart = li.groupBy("l_partkey").count()
        .orderBy(desc("count"), asc("l_partkey")).head().getLong(0)
      li
        .withColumn("l_partkey",
          when(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(10L)) < 3,
            lit(hotPart)).otherwise(col("l_partkey")))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      println(s"[skewgen] hotPart=$hotPart")
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "embeddings") ++ (if (skewOrders) Nil else Seq("orders")) ++
        (if (skewParts) Nil else Seq("lineitem"))) {
      spark.read.parquet(s"$in/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    val he = spark.read.parquet(s"$out/events.parquet")
      .agg(count(lit(1)), sum(when(col("user_id") === hot, 1L).otherwise(0L)))
      .head()
    val hd = spark.read.parquet(s"$out/documents.parquet")
      .agg(count(lit(1)),
        sum(when(col("text") === sharedText, 1L).otherwise(0L))).head()
    println(s"[skewgen] hotUser=$hot events=${he.getLong(0)} " +
      s"hotEvents=${he.getLong(1)} docs=${hd.getLong(0)} dupDocs=${hd.getLong(1)}")
    spark.stop()
  }
}
