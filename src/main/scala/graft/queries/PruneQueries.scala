package graft.queries

import graft.sources.Tables
import graft.text.{StableHash, StableHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-pruning and data-versioning primitives: Bloom-filter semi-join
  * pruning (the runtime-filter pattern Spark applies under
  * `spark.sql.optimizer.runtime.bloomFilter.enabled`, here made explicit
  * and measurable), KMV sketch set-algebra, and an order-independent
  * dataset fingerprint. All StableHash-seeded → exact DuckDB replays.
  */
object PruneQueries {

  val all: Seq[Q] = Seq(

    // Bloom-filter semi-join pruning: the high-value order keys are
    // folded into a 2^16-bit Bloom filter (k=3 StableHash probes; 65536
    // a power of two so signed pmod == unsigned mod), and every distinct
    // lineitem key is tested. The query reports the filter's confusion
    // census: true members, passes, false positives, and — the Bloom
    // guarantee, asserted as a column — zero false negatives, plus the
    // realized FP rate. At 100 TB this is the shuffle killer: the ~8 KB
    // bit set broadcasts to the fact scan and drops non-joining rows
    // BEFORE the exchange, at the cost of the replayed FP fraction.
    Q("q106_bloom_semijoin", (s, dir) => {
      val M = 65536L
      val K = 3
      def positions(key: org.apache.spark.sql.Column) =
        (0 until K).map(j =>
          pmod(StableHash64(concat(lit(s"bf$j:"), key.cast("string"))), lit(M)))
      val build = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey"))
      val bits = build
        .select(explode(array(positions(col("o_orderkey")): _*)).as("pos"))
        .distinct()
      val probe = Tables.lineitem(s, dir).select(col("l_orderkey")).distinct()
      val ph = probe.select(col("l_orderkey"),
          explode(array(positions(col("l_orderkey")): _*)).as("pos"))
      val passed = ph
        .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
        .groupBy("l_orderkey")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("nhit"))
        .withColumn("pass", col("nhit") === K)
      passed
        .join(build.withColumn("is_member", lit(1L)),
          col("l_orderkey") === col("o_orderkey"), "left")
        .select(col("pass"), coalesce(col("is_member"), lit(0L)).as("m"))
        .agg(count(lit(1)).as("n_probe"),
          sum(col("m")).as("n_members"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("pass") && col("m") === 0L, 1L).otherwise(0L))
            .as("n_false_pos"),
          sum(when(!col("pass") && col("m") === 1L, 1L).otherwise(0L))
            .as("n_false_neg"))
        .withColumn("fp_rate",
          round(col("n_false_pos").cast("double") /
            (col("n_probe") - col("n_members")), 6))
    }, Some {
      def h(j: Int, key: String): String =
        StableHash.hashes64Sql(s"['bf$j:' || CAST($key AS VARCHAR)]") +
          "[1] % 65536"
      s"""WITH build AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 480000.0),
         |bits AS (SELECT DISTINCT pos FROM (
         |  SELECT unnest([${h(0, "o_orderkey")}, ${h(1, "o_orderkey")},
         |                 ${h(2, "o_orderkey")}]) AS pos FROM build) z),
         |probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
         |ph AS (SELECT l_orderkey, unnest([${h(0, "l_orderkey")},
         |         ${h(1, "l_orderkey")}, ${h(2, "l_orderkey")}]) AS pos
         |       FROM probe),
         |hits AS (SELECT ph.l_orderkey,
         |           sum(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END) AS nhit
         |         FROM ph LEFT JOIN bits ON ph.pos = bits.pos
         |         GROUP BY ph.l_orderkey),
         |cls AS (SELECT (nhit = 3) AS pass,
         |          CASE WHEN b.o_orderkey IS NULL THEN 0 ELSE 1 END AS m
         |        FROM hits LEFT JOIN build b ON hits.l_orderkey = b.o_orderkey)
         |SELECT count(*) AS n_probe, CAST(sum(m) AS BIGINT) AS n_members,
         |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN pass AND m = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_pos,
         |  CAST(sum(CASE WHEN NOT pass AND m = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_false_neg,
         |  round(CAST(sum(CASE WHEN pass AND m = 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / (count(*) - sum(m)), 6) AS fp_rate
         |FROM cls""".stripMargin
    }),

    // KMV sketch set-algebra: the k smallest distinct user-hashes of the
    // 'view' set, the 'purchase' set, and their union (TakeOrdered — the
    // same bounded-state shape as q67's Aggregator). Jaccard is estimated
    // as the fraction of the union sketch present in BOTH per-set
    // sketches (Beyer et al. 2007), intersection as J · est(|A∪B|) — and
    // the query emits the exact values next to the estimates. This is
    // the audience-overlap / corpus-overlap primitive: at 100 TB the two
    // full sets never meet; only two k-arrays do.
    Q("q107_kmv_setops", (s, dir) => {
      val k = 64
      val ev = EventQueries.events(s, dir)
      def hashes(t: String) = ev.filter(col("event_type") === t)
        .select(StableHash64(concat(lit("u:"), col("user_id").cast("string")))
          .as("h"))
        .distinct()
      val a = hashes("view").persist()
      val b = hashes("purchase").persist()
      val sa = a.orderBy("h").limit(k)
      val sb = b.orderBy("h").limit(k)
      val su = a.union(b).distinct().orderBy("h").limit(k)
      val kth = su.agg(max("h").as("kth"), count(lit(1)).as("keff"))
      val joint = su.join(sa.withColumn("ina", lit(1L)), Seq("h"), "left")
        .join(sb.withColumn("inb", lit(1L)), Seq("h"), "left")
        .agg(sum(when(col("ina") === 1L && col("inb") === 1L, 1L).otherwise(0L))
          .as("n_both"))
      val exact = ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("va"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("vb"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("va") === 1L && col("vb") === 1L, 1L).otherwise(0L))
            .as("exact_inter"))
      kth.crossJoin(joint).crossJoin(exact)
        .select(col("keff"),
          round((col("keff") - 1).cast("double") /
            ((col("kth").cast("double") + lit(9.223372036854775808e18)) /
              lit(1.8446744073709551616e19)), 4).as("est_union"),
          round(col("n_both").cast("double") / col("keff"), 4).as("est_jaccard"),
          col("exact_union"), col("exact_inter"),
          round(col("exact_inter").cast("double") / col("exact_union"), 4)
            .as("exact_jaccard"))
    }, Some {
      val uh = StableHash.hashes64Sql("['u:' || CAST(user_id AS VARCHAR)]") + "[1]"
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    CAST(CASE WHEN $uh >= 9223372036854775808 THEN $uh - 18446744073709551616
         |         ELSE $uh END AS BIGINT) AS h
         |  FROM events WHERE event_type IN ('view', 'purchase')),
         |sa AS (SELECT h FROM (SELECT DISTINCT h FROM h WHERE event_type = 'view')
         |       ORDER BY h LIMIT 64),
         |sb AS (SELECT h FROM (SELECT DISTINCT h FROM h WHERE event_type = 'purchase')
         |       ORDER BY h LIMIT 64),
         |su AS (SELECT h FROM (SELECT DISTINCT h FROM h) ORDER BY h LIMIT 64),
         |kt AS (SELECT max(h) AS kth, count(*) AS keff FROM su),
         |jt AS (SELECT CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |       FROM su LEFT JOIN sa ON su.h = sa.h LEFT JOIN sb ON su.h = sb.h),
         |ex AS (SELECT count(*) AS exact_union,
         |         CAST(sum(CASE WHEN va = 1 AND vb = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS exact_inter
         |       FROM (SELECT user_id,
         |               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS va,
         |               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS vb
         |             FROM events WHERE event_type IN ('view', 'purchase')
         |             GROUP BY user_id) g)
         |SELECT kt.keff AS keff,
         |  round((kt.keff - 1)::DOUBLE /
         |    ((CAST(kt.kth AS DOUBLE) + 9.223372036854775808e18)
         |      / 1.8446744073709551616e19), 4) AS est_union,
         |  round(jt.n_both::DOUBLE / kt.keff, 4) AS est_jaccard,
         |  ex.exact_union AS exact_union, ex.exact_inter AS exact_inter,
         |  round(ex.exact_inter::DOUBLE / ex.exact_union, 4) AS exact_jaccard
         |FROM kt, jt, ex""".stripMargin
    }),

    // Order-independent dataset fingerprint: per source, the mod-2^64
    // sum of per-row content hashes (id + md5 of the text) — the
    // commutative checksum that lets two 100 TB replicas compare
    // versions without any ordering or co-location guarantee: partial
    // sums combine map-side and across engines in any order. Surfaced as
    // two 32-bit halves so both engines emit exact BIGINTs.
    Q("q108_dataset_fingerprint", (s, dir) => {
      val M64 = BigDecimal("18446744073709551616")
      val h = StableHash64(concat(col("doc_id").cast("string"), lit(":"),
        md5(col("text"))))
      val uns = h.cast(DecimalType(38, 0)) +
        when(h < 0, lit(M64)).otherwise(lit(BigDecimal(0)))
      Tables.documents(s, dir)
        .select(col("source"), uns.as("u"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("u").as("s"))
        .select(col("source"), col("n_docs"),
          floor(pmod(col("s"), lit(M64)) / lit(BigDecimal(4294967296L)))
            .cast("long").as("fp_hi"),
          pmod(col("s"), lit(BigDecimal(4294967296L))).cast("long").as("fp_lo"))
        .orderBy("source")
    }, Some {
      val dh = StableHash.hashes64Sql(
        "[CAST(doc_id AS VARCHAR) || ':' || md5(text)]") + "[1]"
      s"""WITH r AS (SELECT source, $dh AS u FROM documents),
         |g AS (SELECT source, count(*) AS n_docs, sum(u) AS s FROM r GROUP BY source)
         |SELECT source, n_docs,
         |  CAST((s % 18446744073709551616::HUGEINT) // 4294967296 AS BIGINT) AS fp_hi,
         |  CAST(s % 4294967296 AS BIGINT) AS fp_lo
         |FROM g ORDER BY source""".stripMargin
    }),

    // Per-source token-distribution entropy (plus normalized): the
    // corpus-diversity dial watched during data curation. Per-term
    // -p·ln p contributions round to 9dp and sum as exact decimals, so
    // the entropy is independent of partition order and bit-equal in the
    // oracle; the count table is vocabulary-sized — one shuffle.
    Q("q109_token_entropy", (s, dir) => {
      val occ = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.text.TextOps.tokens(
            graft.text.TextOps.cleanText(col("text")))).as("term"))
      // persisted: feeds the totals aggregate AND the entropy join.
      // Unpersisted, exchange reuse holds only while both consumers
      // need identical columns — under a count() action, pruning drops
      // `cnt` from the join side, the subtrees diverge, and the whole
      // scan+explode+aggregate runs TWICE (caught by the round-10 sf1
      // count-vs-checksum sweep: 11.0 s counted vs 3.4 s honest).
      // The cache is vocabulary-sized — bounded at any corpus scale.
      val counts = occ.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .persist()
      val totals = counts.groupBy("source")
        .agg(sum("cnt").as("total"), count(lit(1)).as("vocab"))
      counts.join(broadcast(totals), "source")
        .withColumn("p", col("cnt").cast("double") / col("total"))
        .withColumn("c", round(-col("p") * log(col("p")), 9))
        .groupBy("source")
        .agg(first("total").as("n_tokens"), first("vocab").as("vocab"),
          round(sum(col("c").cast(DecimalType(20, 12))).cast("double"), 6)
            .as("entropy"))
        .withColumn("norm_entropy",
          round(col("entropy") / log(col("vocab").cast("double")), 6))
        .orderBy("source")
    }, Some {
      s"""WITH t AS (SELECT source,
         |    unnest(${Helpers.tokensSql(Helpers.cleanTextSql("text"))}) AS term
         |  FROM documents),
         |c AS (SELECT source, term, count(*) AS cnt FROM t GROUP BY source, term),
         |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total,
         |          count(*) AS vocab FROM c GROUP BY source),
         |e AS (SELECT c.source,
         |        round(-(c.cnt::DOUBLE / tot.total) * ln(c.cnt::DOUBLE / tot.total), 9)
         |          AS contrib
         |      FROM c JOIN tot USING (source))
         |SELECT e.source AS source, tot.total AS n_tokens, tot.vocab AS vocab,
         |  round(CAST(sum(CAST(contrib AS DECIMAL(20,12))) AS DOUBLE), 6) AS entropy,
         |  round(round(CAST(sum(CAST(contrib AS DECIMAL(20,12))) AS DOUBLE), 6)
         |    / ln(CAST(tot.vocab AS DOUBLE)), 6) AS norm_entropy
         |FROM e JOIN tot USING (source)
         |GROUP BY e.source, tot.total, tot.vocab ORDER BY source""".stripMargin
    }),

    // Deterministic corpus shuffle + shard manifest: every training run
    // needs the corpus SHUFFLED (de-correlated from crawl/source order)
    // and SHARDED with a verifiable manifest. Shard = hash(doc_id) mod 8
    // and position-in-shard = rank by (hash, doc_id) — a reproducible
    // permutation with no RNG, stable under retries and partitioning
    // (the q56/q79 hash-bucket discipline applied to ORDER). The
    // manifest row per shard carries exact counts, chars, the q108
    // mod-2^64 content fingerprint, and the first three doc ids in
    // shuffle order (rank-filtered BEFORE the collect, so group state
    // stays O(3) at any corpus size).
    Q("q164_corpus_shuffle", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val M64 = BigDecimal("18446744073709551616")
      val h = StableHash64(concat(lit("sh:"), col("doc_id").cast("string")))
      val fp = StableHash64(concat(col("doc_id").cast("string"), lit(":"),
        md5(col("text"))))
      val uns = fp.cast(DecimalType(38, 0)) +
        when(fp < 0, lit(M64)).otherwise(lit(BigDecimal(0)))
      val ranked = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), h.as("h"), uns.as("u"))
        .withColumn("shard", pmod(col("h"), lit(8L)))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
      val heads = ranked.filter(col("pos") <= 3)
        .groupBy("shard")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")), "|").as("head_docs"))
      ranked.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
          floor(pmod(sum("u"), lit(M64)) / lit(BigDecimal(4294967296L)))
            .cast("long").as("fp_hi"),
          pmod(sum("u"), lit(BigDecimal(4294967296L))).cast("long").as("fp_lo"))
        .join(heads, "shard")
        .orderBy("shard")
    }, Some {
      val sh = StableHash.hashes64Sql("['sh:' || CAST(doc_id AS VARCHAR)]") + "[1]"
      val fp = StableHash.hashes64Sql(
        "[CAST(doc_id AS VARCHAR) || ':' || md5(text)]") + "[1]"
      s"""WITH r AS (SELECT doc_id, n_chars,
         |    CAST(CASE WHEN $sh >= 9223372036854775808
         |      THEN $sh - 18446744073709551616 ELSE $sh END AS BIGINT) AS h,
         |    $fp AS u
         |  FROM documents),
         |p AS (SELECT doc_id, n_chars, u, ((h % 8) + 8) % 8 AS shard, h,
         |        row_number() OVER (PARTITION BY ((h % 8) + 8) % 8
         |          ORDER BY h, doc_id) AS pos
         |      FROM r),
         |heads AS (SELECT shard,
         |    string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY pos) AS head_docs
         |  FROM p WHERE pos <= 3 GROUP BY shard),
         |man AS (SELECT shard, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |    CAST((sum(u) % 18446744073709551616::HUGEINT) // 4294967296 AS BIGINT)
         |      AS fp_hi,
         |    CAST(sum(u) % 4294967296 AS BIGINT) AS fp_lo
         |  FROM p GROUP BY shard)
         |SELECT CAST(man.shard AS BIGINT) AS shard, n_docs, n_chars,
         |  fp_hi, fp_lo, head_docs
         |FROM man JOIN heads ON man.shard = heads.shard
         |ORDER BY shard""".stripMargin
    }))
}
