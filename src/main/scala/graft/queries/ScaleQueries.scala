package graft.queries

import graft.sources.Tables
import graft.streaming.EventsStream
import graft.text.{StableHash, StableHash64}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-pattern operators beyond the reference's surface: the shapes a
  * 100 TB training-data pipeline leans on daily — sliding windows,
  * stream-static joins, streaming dedup, as-of joins, BPE-style token
  * accounting, deterministic stratified sampling, and explicit skew-salted
  * joins. Every query has an exact DuckDB twin: the scale machinery is
  * physical, the semantics stay relational.
  */
object ScaleQueries {
  import Helpers._

  /** Copy the events parquet into a fresh stream-source directory
    * (`copies` > 1 stages duplicate files — the streaming-dedup fixture).
    */
  private def stageEvents(dir: String, copies: Int = 1): String = {
    val tmp = graft.sources.Staging.scratchDir("events-scale")
    (1 to copies).foreach { i =>
      graft.sources.Staging.stageTable(
        s"$dir/events.parquet", tmp, s"events_$i")
    }
    tmp.toString
  }

  private def runToCompletion(df: DataFrame, mode: String): DataFrame = {
    val name = s"scale_${System.nanoTime()}"
    EventsStream.withStreamShufflePartitions(df.sparkSession) {
      val q = df.writeStream.outputMode(mode).format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    df.sparkSession.table(name)
  }

  val all: Seq[Q] = Seq(

    // Sliding-window streaming aggregation (1 h window, 30 min slide):
    // each event lands in exactly two windows; the oracle unnests the two
    // half-hour-aligned starts per event.
    Q("q36_sliding_window", (s, dir) => {
      val agg = EventsStream.source(s, stageEvents(dir))
        .withWatermark("event_ts", "1 hour")
        .groupBy(window(col("event_ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
      runToCompletion(agg, "complete")
        .orderBy("win_start", "event_type")
    }, Some(
      """WITH e AS (SELECT epoch_ns(ts)//1000000000 AS tsec, event_type FROM events),
        |w AS (SELECT unnest([tsec//1800*1800, tsec//1800*1800 - 1800]) AS win_start,
        |             event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin)),

    // Stream-static join: the event stream joins the static customer
    // dimension (broadcast — the dimension is re-read per micro-batch, so
    // small dims must broadcast at scale), then aggregates per segment.
    Q("q37_stream_static_join", (s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = EventsStream.source(s, stageEvents(dir))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
      runToCompletion(agg, "complete")
        .orderBy("segment")
    }, Some(
      s"""SELECT c_mktsegment AS segment, count(*) AS n,
         | ${dsumSql("value")} AS value_sum
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // Streaming exact dedup: the same file staged twice (every event
    // arrives twice across micro-batches); dropDuplicates state collapses
    // them, restoring exact batch counts. At scale this is
    // dropDuplicatesWithinWatermark so state stays bounded.
    Q("q38_stream_dedup", (s, dir) => {
      val agg = EventsStream.source(s, stageEvents(dir, copies = 2))
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      runToCompletion(agg, "complete")
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Stream-stream inner join: views joined to the same user's purchases
    // within the following hour, both sides watermarked (state on each
    // side is bounded by watermark + the join's time range — the
    // attribution-join shape). Append mode emits exactly the batch
    // range-join result. The equi-key carries an HOUR bucket alongside
    // user_id: a purchase within [view_ts, view_ts+1h] lies in the
    // view's hour-bucket or the next, so each view is replicated into
    // both cells (exactly one can match any given purchase — inner-join
    // safe) and per-key state probes are bounded per (user, hour) rather
    // than per user. Without it a hot user owning 30% of the stream
    // (the SkewGen corpus) makes every arriving purchase probe the
    // user's ENTIRE buffered view state — a measured ×5. The range
    // predicates are unchanged, so watermark state eviction is too.
    Q("q39_stream_stream_join", (s, dir) => {
      // both sides branch from ONE source stream (self-join): a second
      // readStream would double the file listing and source state
      val src = EventsStream.source(s, stageEvents(dir))
      val views = src
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("event_ts").as("view_ts"))
        // floor-division hour buckets (exact on longs): `div` truncates
        // toward zero, which would mis-bucket pre-1970 timestamps so the
        // bkt/bkt+1 replication no longer brackets the purchase bucket
        .withColumn("v_bkt", explode(array(
          expr("(unix_micros(view_ts) - pmod(unix_micros(view_ts), 3600000000)) div 3600000000"),
          expr("(unix_micros(view_ts) - pmod(unix_micros(view_ts), 3600000000)) div 3600000000") + 1L)))
        .withWatermark("view_ts", "1 hour")
      val purchases = src
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purch_id"),
          col("event_ts").as("purch_ts"))
        .withColumn("p_bkt", expr(
          "(unix_micros(purch_ts) - pmod(unix_micros(purch_ts), 3600000000)) div 3600000000"))
        .withWatermark("purch_ts", "1 hour")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") && col("v_bkt") === col("p_bkt") &&
          col("purch_ts") >= col("view_ts") &&
          col("purch_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("v_user").as("user_id"), col("view_id"), col("purch_id"),
          expr("(unix_micros(purch_ts) - unix_micros(view_ts)) div 1000000").as("gap_sec"))
      runToCompletion(joined, "append")
        .orderBy("user_id", "view_id", "purch_id")
    }, Some(
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |  p.event_id AS purch_id,
        |  (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS gap_sec
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, purch_id""".stripMargin)),

    // Stream-stream LEFT OUTER join: q39's attribution join, but views
    // with no purchase in the following hour must ALSO emit (with null
    // padding) — which a streaming engine can only do once the
    // watermark proves no match can still arrive. The source is staged
    // with TWO far-future sentinel files (q35's end-of-stream marker):
    // the first sentinel batch advances the watermark past all real
    // data, the second runs WITH it so the unmatched-view flush lands
    // inside processAllAvailable. Subtlety: Catalyst pushes the type
    // filter BELOW the EventTimeWatermark node, so each branch's
    // watermark is computed over post-filter rows — the sentinels must
    // therefore PASS the branch filters (they can only ever match each
    // other: their timestamps are 100 days past any real event) and be
    // dropped after the join by their reserved event_id=0. Nulls
    // surface as -1 (nullable BIGINT degrades in the parquet compare).
    //
    // Hot-key state concentration (one user owning 30% of events made
    // the plain user_id key a measured ×3.8) is fixed by the same
    // hour-bucket salting as q39, adapted for OUTER semantics: the
    // PRESERVED side must not be replicated (a view copy that found no
    // match in ITS bucket would emit a spurious null row, and an
    // unmatched view would emit one null per copy), so views carry
    // their single floor(view_ts/1h) bucket and the NON-preserved
    // purchase side is replicated into (b, b−1). A qualifying pair has
    // floor(purch_ts/1h) ∈ {b_v, b_v+1}, so exactly ONE purchase copy
    // lands on the view's bucket — every within-hour pair forms at one
    // (user, hour) cell, each view emits exactly once (matched or
    // null-padded at watermark flush), and the hot user's join state
    // splits across the timeline instead of one state-store key.
    Q("q158_stream_outer_join", (s, dir) => {
      val src = EventsStream.source(s,
        EventsStream.stageWithSentinel(s, s"$dir/events.parquet",
          sentinelBatches = 2, perUser = false))
      // floor-division buckets (q39's pmod form): exact on longs, and
      // correct for pre-1970 timestamps where `div` truncation toward
      // zero would break the (b, b−1) bracketing
      val vBkt =
        "(unix_micros(view_ts) - pmod(unix_micros(view_ts), 3600000000)) div 3600000000"
      val pBkt =
        "(unix_micros(purch_ts) - pmod(unix_micros(purch_ts), 3600000000)) div 3600000000"
      val views = src.withWatermark("event_ts", "1 hour")
        .filter(col("event_type").isin("view", "sentinel"))
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("event_ts").as("view_ts"))
        .withColumn("v_bkt", expr(vBkt))
      val purchases = src.withWatermark("event_ts", "1 hour")
        .filter(col("event_type").isin("purchase", "sentinel"))
        .select(col("user_id").as("p_user"), col("event_id").as("purch_id"),
          col("event_ts").as("purch_ts"))
        .withColumn("p_bkt", explode(array(expr(pBkt), expr(pBkt) - 1L)))
      val joined = views.join(purchases,
          col("v_user") === col("p_user") && col("v_bkt") === col("p_bkt") &&
            col("purch_ts") >= col("view_ts") &&
            col("purch_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("v_user").as("user_id"), col("view_id"),
          coalesce(col("purch_id"), lit(-1L)).as("purch_id"),
          coalesce(
            expr("(unix_micros(purch_ts) - unix_micros(view_ts)) div 1000000"),
            lit(-1L)).as("gap_sec"))
      // the sentinel screen runs on the MATERIALIZED sink table: inside
      // the streaming plan it would push below the watermark node and
      // starve the view branch's watermark of the sentinels again
      runToCompletion(joined, "append")
        .filter(col("view_id") =!= 0L)
        .orderBy("user_id", "view_id", "purch_id")
    }, Some(
      """SELECT v.user_id AS user_id, v.event_id AS view_id,
        |  CAST(coalesce(p.event_id, -1) AS BIGINT) AS purch_id,
        |  CAST(coalesce((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000, -1)
        |    AS BIGINT) AS gap_sec
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id AND p.ts >= v.ts
        |  AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, purch_id""".stripMargin)),

    // As-of join — an operator Spark lacks natively: each event picks up
    // the user's latest purchase value at-or-before its timestamp. The
    // scalable formulation is the tagged-union + running last_value window
    // (one shuffle on user_id, no range-join explosion); purchase rows
    // sort before same-timestamp probe rows so ties match DuckDB's
    // `ON e.ts >= p.ts` ASOF semantics.
    Q("q42_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val probe = ev.select(col("user_id"), col("event_id"), col("ts"),
        lit(1).as("src"), lit(null).cast("double").as("pval"))
      val build = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          lit(0).as("src"), col("value").as("pval"))
      val w = Window.partitionBy("user_id").orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      probe.unionAll(build)
        .withColumn("asof", last(col("pval"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select(col("user_id"), col("event_id"),
          round(col("asof"), 4).as("last_purchase_value"))
        .orderBy("user_id", "event_id")
    }, Some(
      """SELECT e.user_id AS user_id, e.event_id AS event_id,
        |  round(p.value, 4) AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.user_id, e.event_id""".stripMargin)),

    // BPE-style token accounting: greedy regex segmentation into letter
    // runs / digit runs / single punctuation — the token-count primitive
    // for corpus budgeting. Pure codegen'd regexp over one scan.
    Q("q55_token_stats", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.text.TextOps.cleanText(col("text")).as("clean"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("clean"), lit("[a-z]+"), lit(0))).cast("long").as("n_alpha"),
          size(regexp_extract_all(col("clean"), lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
          size(regexp_extract_all(col("clean"), lit("[^a-z0-9\\s]"), lit(0))).cast("long").as("n_punct"),
          size(regexp_extract_all(col("clean"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_pieces"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(clean, '[a-z]+')) AS BIGINT) AS n_alpha,
         | CAST(len(regexp_extract_all(clean, '[0-9]+')) AS BIGINT) AS n_num,
         | CAST(len(regexp_extract_all(clean, '[^a-z0-9\\s]')) AS BIGINT) AS n_punct,
         | CAST(len(regexp_extract_all(clean, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_pieces
         |FROM (SELECT doc_id, ${cleanTextSql("text")} AS clean FROM documents)
         |ORDER BY doc_id""".stripMargin)),

    // Deterministic stratified sampling: per-language keep-rates applied
    // via StableHash bucket of lang:doc_id — reproducible on any cluster
    // size, no RNG state, exact DuckDB twin. The 100 TB downsampling
    // primitive (a fixed hash slice of each stratum).
    Q("q56_stratified_sample", (s, dir) => {
      val rate = when(col("lang") === "en", lit(50))
        .when(col("lang") === "zh", lit(10))
        .otherwise(lit(20))
      val h = StableHash64(concat(col("lang"), lit(":"), col("doc_id").cast("string")))
      // unsigned remainder mod 100 in column form (stays in codegen):
      // for negative signed h the unsigned value is 2^64 + h, and
      // 2^64 ≡ 16 (mod 100)
      val bucket = pmod(
        pmod(h, lit(100L)) + when(h < 0, lit(16L)).otherwise(lit(0L)), lit(100L))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"))
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${StableHash.hashes64Sql("[lang || ':' || CAST(doc_id AS VARCHAR)]")}[1] % 100 AS bucket
         |  FROM documents)
         |WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 10 ELSE 20 END
         |ORDER BY doc_id""".stripMargin)),

    // Gzipped-JSONL round-trip (the reference's interchange format,
    // embed.py:84-86): documents → .jsonl.gz sink → schema-explicit scan
    // → aggregate. The oracle aggregates the original table directly, so
    // the check proves the sink+source preserve every row and value.
    Q("q61_jsonl_roundtrip", (s, dir) => {
      val tmp = graft.sources.Staging.scratchDir("jsonl-rt").toString + "/docs"
      graft.sources.Jsonl.write(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text")),
        tmp)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      graft.sources.Jsonl.read(s, schema, tmp)
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          sum(length(col("text")).cast("long")).as("text_len"))
        .orderBy("source", "lang")
    }, Some(
      """SELECT source, lang, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS chars,
        | CAST(sum(length(text)) AS BIGINT) AS text_len
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin)),

    // Skew-salted join: the dimension is exploded across 8 salt replicas
    // and the fact side hashes into them, splitting any hot key across 8
    // reducers. Semantics stay a plain equi-join + aggregate (the oracle
    // is the unsalted SQL); the salting is purely physical. At 100 TB:
    // AQE skew-join handles moderate skew, explicit salting handles the
    // pathological single-hot-key case.
    Q("q58_salted_skew_join", (s, dir) => {
      val salts = 8
      val fact = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_extendedprice"))
        .withColumn("salt", pmod(col("l_orderkey"), lit(salts)).cast("int"))
      val dim = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
      fact.join(dim,
          fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("s_nationkey")
    }, Some(
      s"""SELECT s_nationkey, count(*) AS n_items,
         | ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // Binned interval-overlap join: lineitem ship timestamps against
    // 30-day order windows (high-value urgent orders). The naive plan is
    // a pure theta join — a cartesian product at scale. Binning both
    // sides by the window length turns it into an EQUI-join on the bin
    // (each 30-day interval spans ≤ 2 bins, each point exactly 1), with
    // the exact range predicate as a post-filter: shuffle ∝ data × 2,
    // not |build| × |probe|. The oracle is the undecorated range join.
    Q("q101_interval_join", (s, dir) => {
      val Win = 30L * 86400L
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"), unix_timestamp(col("o_orderdate")).as("t0"))
      val ordB = ord.withColumn("bin",
        explode(sequence(expr(s"t0 div $Win"), expr(s"(t0 + $Win) div $Win"))))
      val liB = Tables.lineitem(s, dir)
        .select(col("l_extendedprice"), unix_timestamp(col("l_shipdate")).as("ts"))
        .withColumn("bin", expr(s"ts div $Win"))
      liB.join(ordB, Seq("bin"))
        .filter(col("ts") >= col("t0") && col("ts") < col("t0") + Win)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"), dsum(col("l_extendedprice")).as("price_sum"))
        .orderBy("o_orderkey")
    }, Some(
      s"""WITH o AS (SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS t0
         |           FROM orders
         |           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 480000.0)
         |SELECT o.o_orderkey AS o_orderkey, count(*) AS n_shipped,
         |  ${dsumSql("l.l_extendedprice")} AS price_sum
         |FROM o JOIN lineitem l
         |  ON CAST(epoch(l.l_shipdate) AS BIGINT) >= o.t0
         | AND CAST(epoch(l.l_shipdate) AS BIGINT) < o.t0 + 2592000
         |GROUP BY o.o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // Streaming count-min sketch: the d×w counter table of q98 maintained
    // incrementally by Structured Streaming (counts are associative, so
    // complete-mode state IS the sketch — 512 bounded rows regardless of
    // stream length), then probed for the exact top-20. Stream ≡ batch:
    // the oracle is character-for-character q98's, asserting the
    // incremental sketch is the same function of the data as the batch
    // one — the monitoring shape at 100 TB, where re-scanning to answer
    // "how hot is this key" is not an option.
    Q("q116_streaming_cms", (s, dir) => {
      val probes = SketchQueries.cmsProbes(col("user_id"))
      val cmsStream = EventsStream.source(s, stageEvents(dir))
        .select(explode(array(probes: _*)).as("h"))
        .groupBy(col("h.j").as("j"), col("h.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val cms = runToCompletion(cmsStream, "complete")
      val u = EventQueries.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val top = u.orderBy(desc("n"), col("user_id")).limit(20)
      SketchQueries.cmsEstimates(top.select(col("user_id"), col("n"),
          explode(array(probes: _*)).as("h"))
        .select(col("user_id"), col("n"),
          col("h.j").as("j"), col("h.bucket").as("bucket")), cms)
    }, Some(SketchQueries.cmsOracleSql)),

    // Exact-k deterministic per-group sample (complement of q56's
    // keep-RATE stratified sampling): rank rows within each event type
    // by their StableHash (signed order, mirrored in SQL by recentering
    // the HUGEINT) and keep the first 3 — a reproducible "uniform"
    // pick that any worker on any cluster size re-derives identically.
    // One window over the group partitioning; no RNG state anywhere.
    Q("q128_group_sample", (s, dir) => {
      val h = StableHash64(concat(lit("smp:"), col("event_id").cast("string")))
      val w = Window.partitionBy("event_type").orderBy(col("h"), col("event_id"))
      EventQueries.events(s, dir).select(col("event_type"), col("event_id"),
          col("user_id"), h.as("h"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), col("user_id"))
        .orderBy("event_type", "rn")
    }, Some {
      val eh = StableHash.hashes64Sql("['smp:' || CAST(event_id AS VARCHAR)]") + "[1]"
      s"""WITH h AS (SELECT event_type, event_id, user_id,
         |    CAST(CASE WHEN $eh >= 9223372036854775808
         |         THEN $eh - 18446744073709551616 ELSE $eh END AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, event_id, user_id,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id)
         |      AS rn
         |  FROM h)
         |SELECT event_type, rn, event_id, user_id FROM r WHERE rn <= 3
         |ORDER BY event_type, rn""".stripMargin
    }),

    // Streaming KMV distinct-count sketch: q67's Aggregator state
    // maintained across micro-batches via flatMapGroupsWithState
    // (update mode). Every batch emits the key's live (seq, kEff, kth);
    // the max-seq row per key IS the final sketch, and it must equal
    // the batch sketch exactly — the oracle is verbatim q67's. The
    // second custom-state streaming op (after sessionize): bounded
    // ≤k-long state per key, the cardinality monitor that never
    // rescans.
    Q("q133_streaming_kmv", (s, dir) => {
      val updates = runToCompletion(
        EventsStream.streamingKmv(EventsStream.source(s, stageEvents(dir))),
        "update")
      val w = Window.partitionBy("event_type").orderBy(desc("seq"))
      updates
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("k_eff"),
          AnalyticsQueries.kmvEstimate(col("k_eff"), col("kth"))
            .as("est_distinct"))
        .orderBy("event_type")
    }, Some(AnalyticsQueries.kmvOracleSql))) ++ (q134 +: formatQueries)

  // def, not val: referenced from `all`'s initializer above
  private def q134: Q =
    // Windowed HLL distinct-user estimates maintained by the stream:
    // register maxima per (hour window, register) are an associative
    // aggregate, so complete-mode state IS the per-window sketch — 64
    // bounded rows per window vs dropDuplicates' every-user state. The
    // estimate arithmetic and oracle template are q99's, keyed by hour;
    // the windowed-cardinality monitor every live dashboard runs.
    Q("q134_streaming_window_hll", (s, dir) => {
      val probed = SketchQueries.withHllCols(
        EventsStream.source(s, stageEvents(dir)), col("user_id"))
      val regsStream = probed
        .groupBy(window(col("event_ts"), "1 hour"), col("reg"))
        .agg(max("rho").as("mj"))
        .select(unix_timestamp(col("window.start")).as("hour_epoch"),
          col("reg"), col("mj"))
      val regs = runToCompletion(regsStream, "complete")
      val exact = EventQueries.events(s, dir)
        .groupBy(expr(s"(ts - pmod(ts, ${3600L * 1000000000L})) div ${3600L * 1000000000L}")
          .cast("long").as("hour_idx"))
        .agg(countDistinct("user_id").as("n_exact"))
        .select((col("hour_idx") * 3600).as("hour_epoch"), col("n_exact"))
      SketchQueries.hllEstimate(regs, Seq("hour_epoch"))
        .join(exact, "hour_epoch")
        .select(col("hour_epoch"), col("n_exact"), col("zeros"), col("hll_est"),
          round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 4)
            .as("rel_err"))
        .orderBy("hour_epoch")
    }, Some(SketchQueries.hllOracleSql(
      "CAST(epoch(date_trunc('hour', ts)) AS BIGINT)", "hour_epoch")))

  // def, not val: referenced from `all`'s initializer above
  private def formatQueries: Seq[Q] = Seq(

    // Streaming PARQUET sink with checkpointing (the memory sinks above
    // validate semantics; this is the durable path): stream → file sink
    // with a checkpoint dir → batch re-read of the committed files. The
    // sink's transaction log makes the re-read exactly-once (crashed
    // writers leave uncommitted files invisible); counts must equal the
    // batch table's.
    Q("q135_stream_parquet_sink", (s, dir) => {
      val out = graft.sources.Staging.scratchDir("stream-sink")
      val q = EventsStream.withStreamShufflePartitions(s) {
        EventsStream.source(s, stageEvents(dir))
          .select(col("event_id"), col("event_type"), col("value"))
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append")
          .start()
      }
      q.processAllAvailable()
      q.stop()
      s.read.parquet(s"$out/data")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
        .orderBy("event_type")
    }, Some(
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS value_sum
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // CSV round trip (header + full quoting/escaping — the props column
    // carries JSON with quotes and braces): write, re-read with an
    // explicit schema, aggregate. Losslessness IS the check — the oracle
    // aggregates the original table.
    Q("q136_csv_roundtrip", (s, dir) => {
      val tmp = graft.sources.Staging.scratchDir("csv-rt").toString + "/events"
      EventQueries.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .write.option("header", "true").option("escape", "\"").csv(tmp)
      s.read
        // the CSV carries the engine's canonical bigint-nanos ts (written
        // above), not the on-disk parquet TIMESTAMP_NTZ — schema differs
        // from EventsStream.schema on purpose
        .schema("event_id LONG, ts LONG, user_id LONG, event_type STRING, " +
          "value DOUBLE, props STRING")
        .option("header", "true").option("escape", "\"")
        .csv(tmp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          // micros, not nanos: the oracle's epoch_us(ts) yields µs, so
          // the comparable boundary is µs
          min(expr("ts div 1000")).as("min_us"),
          max(expr("ts div 1000")).as("max_us"),
          sum(length(col("props")).cast("long")).as("props_len"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n,
        |  epoch_us(min(ts)) AS min_us, epoch_us(max(ts)) AS max_us,
        |  CAST(sum(length(props)) AS BIGINT) AS props_len
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Plain-text (line-oriented) round trip: the lowest-common-
    // denominator interchange format — one TSV line per document via
    // the text sink, read back with the schemaless text source and
    // re-parsed with split(). Lossless is the contract: the per-source
    // census after the round trip must equal the direct aggregate
    // (which is exactly what the oracle computes).
    Q("q204_text_roundtrip", (s, dir) => {
      val tmp = graft.sources.Staging.scratchDir("text-rt").toString + "/docs"
      Tables.documents(s, dir)
        .select(concat_ws("\t", col("doc_id"), col("source"), col("n_chars"))
          .as("value"))
        .write.text(tmp)
      s.read.text(tmp)
        .select(split(col("value"), "\t").as("f"))
        .select(element_at(col("f"), 1).cast("long").as("doc_id"),
          element_at(col("f"), 2).as("source"),
          element_at(col("f"), 3).cast("long").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("tot_chars"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    }, Some(
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ORC round trip: the other columnar format a lakehouse ingests.
    // Write ORC, read it back, aggregate; DuckDB cannot read ORC, so the
    // oracle aggregates the source table — losslessness is the check.
    Q("q137_orc_roundtrip", (s, dir) => {
      val tmp = graft.sources.Staging.scratchDir("orc-rt").toString + "/li"
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
        .write.orc(tmp)
      s.read.orc(tmp)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("price_sum"))
        .orderBy("l_returnflag")
    }, Some(
      s"""SELECT l_returnflag, count(*) AS n,
         | ${dsumSql("l_extendedprice")} AS price_sum
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)))
}
