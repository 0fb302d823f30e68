package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for local scaling probes: replicates an sf
  * directory `factor`× with disjoint key ranges, preserving the
  * referential structure (orders→customer, lineitem→orders/part/
  * supplier) so every registry query runs unchanged on the output.
  *
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"
  *
  * Copy k shifts every key/foreign-key column by k × (max(key)+1) of
  * its home table; dims (region, nation) are passed through unscaled,
  * like TPC-H's own nation/region. documents.text gets a tiny per-copy
  * suffix so exact/near-dup groups do NOT explode combinatorially
  * across copies (C(factor,2) pairs per original doc would change the
  * dedup queries' workload shape, not just its size — the probe wants
  * size). Embedding vectors are copied as-is: ANN probes then rank
  * `factor` equal-sim candidates per original, which exercises exactly
  * the tie-heavy case a dedup-free corpus scale-up produces.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleGen <inSfDir> <outDir> <factor>")
    val in = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val spark = Harness.session("graft-scalegen")

    def rd(t: String): DataFrame = spark.read.parquet(s"$in/$t.parquet")

    def keyStride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    /** factor copies, each with every (col → stride) shifted by k·stride,
      * original dtypes preserved; `mutate` applies per-copy extras.
      */
    def replicate(df: DataFrame, shifts: Seq[(String, Long)],
                  mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
      (0 until factor).map { k =>
        val shifted = shifts.foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c,
            (col(c).cast("long") + lit(k.toLong * stride)).cast(types(c)))
        }
        mutate(shifted, k)
      }.reduce(_ unionByName _)
    }

    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    val customer = rd("customer"); val cStride = keyStride(customer, "c_custkey")
    val supplier = rd("supplier"); val sStride = keyStride(supplier, "s_suppkey")
    val part = rd("part"); val pStride = keyStride(part, "p_partkey")
    val orders = rd("orders"); val oStride = keyStride(orders, "o_orderkey")
    val events = rd("events")
    val eStride = keyStride(events, "event_id")
    val uStride = keyStride(events, "user_id")
    val documents = rd("documents"); val dStride = keyStride(documents, "doc_id")
    val embeddings = rd("embeddings"); val vStride = keyStride(embeddings, "vec_id")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(replicate(customer, Seq("c_custkey" -> cStride)), "customer")
    wr(replicate(supplier, Seq("s_suppkey" -> sStride)), "supplier")
    wr(replicate(part, Seq("p_partkey" -> pStride)), "part")
    wr(replicate(orders,
      Seq("o_orderkey" -> oStride, "o_custkey" -> cStride)), "orders")
    wr(replicate(rd("lineitem"), Seq("l_orderkey" -> oStride,
      "l_partkey" -> pStride, "l_suppkey" -> sStride)), "lineitem")
    wr(replicate(events,
      Seq("event_id" -> eStride, "user_id" -> uStride)), "events")
    wr(replicate(documents, Seq("doc_id" -> dStride), (d, k) =>
      if (k == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" c$k")))
        .withColumn("n_chars",
          (col("n_chars").cast("long") + lit(s" c$k".length.toLong))
            .cast(d.schema("n_chars").dataType))), "documents")
    wr(replicate(embeddings, Seq("vec_id" -> vStride)), "embeddings")

    spark.stop()
  }
}
