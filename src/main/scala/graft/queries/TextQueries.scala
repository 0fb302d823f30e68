package graft.queries

import graft.sources.Tables
import graft.text.{BudgetParser, TextOps}
import org.apache.spark.sql.functions._

/** Text-pipeline operators over the `documents` corpus: the reference's
  * clean_text chain (embed.py:13-51), budget parsing (rank.py:57-129), and
  * the large-pipeline text-analysis extensions (language-ID, quality
  * scoring, token stats, fingerprinting, n-gram Jaccard). All pure column
  * expressions — one parquet scan, no shuffle except where grouped.
  */
object TextQueries {
  import Helpers._

  // ---- DuckDB mirrors of BudgetParser (generated from the same patterns) --

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def parseMoneySql(raw: String): String = {
    val t = s"trim(replace(($raw), ',', ''))"
    val num = s"nullif(regexp_extract($t, ${sqlLit(BudgetParser.moneyPattern)}, 1), '')"
    val suf = s"regexp_extract($t, ${sqlLit(BudgetParser.moneyPattern)}, 3)"
    s"(CASE WHEN $num IS NOT NULL THEN CAST($num AS DOUBLE) * " +
      s"(CASE WHEN $suf <> '' THEN 1000.0 ELSE 1.0 END) END)"
  }

  private def extractMoneySql(q: String, pattern: String, group: Int = 1): String =
    parseMoneySql(s"coalesce(nullif(regexp_extract($q, ${sqlLit(pattern)}, $group), ''), '')")

  def parseBudgetSql(q: String): String = {
    val a = extractMoneySql(q, BudgetParser.boundsPattern, 1)
    val b = extractMoneySql(q, BudgetParser.boundsPattern, 2)
    s"(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL THEN ($a + $b)/2.0 ELSE coalesce(" +
      s"${extractMoneySql(q, BudgetParser.upperPattern)}, " +
      s"${extractMoneySql(q, BudgetParser.approxPattern)}, " +
      s"${extractMoneySql(q, BudgetParser.expr1Pattern)}, " +
      s"${extractMoneySql(q, BudgetParser.expr2Pattern)}) END)"
  }

  val all: Seq[Q] = Seq(

    // clean_text chain + Python-parity token count.
    Q("q10_clean_tokens", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.cleanText(col("text")).as("clean"))
        .withColumn("n_tokens", TextOps.tokenCount(col("clean")))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, clean, len(string_split(clean, ' ')) AS n_tokens
         |FROM (SELECT doc_id, ${cleanTextSql("text")} AS clean FROM documents)
         |ORDER BY doc_id""".stripMargin)),

    // Budget-parser cascade over synthesized query strings (every branch:
    // upper bound, range midpoint, k-suffix, trailing 'budget', no match).
    Q("q11_budget_extract", (s, dir) => {
      val q = when(col("p_partkey") % 5 === 0,
          concat(lit("under "), col("p_retailprice").cast("string")))
        .when(col("p_partkey") % 5 === 1,
          concat(lit("between "), col("p_retailprice").cast("string"),
            lit(" and "), (col("p_retailprice") * 2).cast("string")))
        .when(col("p_partkey") % 5 === 2,
          concat(lit("around "), col("p_size").cast("string"), lit("k")))
        .when(col("p_partkey") % 5 === 3,
          concat(col("p_retailprice").cast("string"), lit(" budget")))
        .otherwise(lit("no numbers here"))
      Tables.part(s, dir)
        .withColumn("qtext", q)
        .select(col("p_partkey"), col("qtext"),
          round(BudgetParser.parseBudget(col("qtext")), 4).as("budget"))
        .orderBy("p_partkey")
    }, Some(
      s"""SELECT p_partkey, qtext, round(${parseBudgetSql("qtext")}, 4) AS budget
         |FROM (SELECT p_partkey,
         |  CASE WHEN p_partkey % 5 = 0 THEN 'under ' || CAST(p_retailprice AS VARCHAR)
         |       WHEN p_partkey % 5 = 1 THEN 'between ' || CAST(p_retailprice AS VARCHAR) || ' and ' || CAST(p_retailprice*2 AS VARCHAR)
         |       WHEN p_partkey % 5 = 2 THEN 'around ' || CAST(p_size AS VARCHAR) || 'k'
         |       WHEN p_partkey % 5 = 3 THEN CAST(p_retailprice AS VARCHAR) || ' budget'
         |       ELSE 'no numbers here' END AS qtext
         |  FROM part)
         |ORDER BY p_partkey""".stripMargin)),

    // Language-ID heuristic: per-language stopword hits + argmax with
    // alphabetical tie-break.
    Q("q12_langid", (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
      val withHits = TextOps.stopwords.foldLeft(base) { case (df, (l, ws)) =>
        df.withColumn(s"hits_$l", TextOps.vocabHits(col("toks"), ws))
      }
      withHits
        .withColumn("lang_pred", TextOps.langId(col("toks")))
        .drop("toks")
        .orderBy("doc_id")
    }, Some {
      val hitCols = TextOps.stopwords
        .map { case (l, ws) => s"${vocabHitsSql("toks", ws)} AS hits_$l" }
        .mkString(", ")
      s"""SELECT doc_id, lang, $hitCols, ${langIdSql("toks")} AS lang_pred
         |FROM (SELECT doc_id, lang,
         |  ${tokensSql(cleanTextSql("text"))} AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // Quality scoring: length saturation, punctuation noise, stopword
    // density — the training-data filter primitive.
    Q("q13_quality", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.cleanText(col("text")).as("clean"))
        .select(col("doc_id"),
          TextOps.tokenCount(col("clean")).as("n_tokens"),
          round(TextOps.punctRatio(col("clean")), 6).as("punct_ratio"),
          round(TextOps.stopwordRatio(TextOps.tokens(col("clean"))), 6).as("stopword_ratio"),
          round(TextOps.qualityScore(col("clean")), 6).as("quality"))
        .orderBy("doc_id")
    }, Some {
      val en = TextOps.stopwords.toMap.apply("en").map(sqlLit).mkString(",")
      val punct = "(CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:''\"-]', '', 'g')) AS DOUBLE) / greatest(len(clean), 1))"
      val stop = s"(CAST(len(list_filter(string_split(clean, ' '), t -> list_contains([$en], t))) AS DOUBLE) / greatest(len(string_split(clean, ' ')), 1))"
      val lenScore = "least(CAST(len(string_split(clean, ' ')) AS DOUBLE)/100.0, 1.0)"
      s"""SELECT doc_id, len(string_split(clean, ' ')) AS n_tokens,
         | round($punct, 6) AS punct_ratio,
         | round($stop, 6) AS stopword_ratio,
         | round(0.4*$lenScore + 0.3*(1.0 - $punct) + 0.3*least($stop*4.0, 1.0), 6) AS quality
         |FROM (SELECT doc_id, ${cleanTextSql("text")} AS clean FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // Order-insensitive md5 fingerprint of the sorted distinct token set.
    Q("q14_fingerprint", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.fingerprint(TextOps.tokens(TextOps.cleanText(col("text")))).as("fp"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id,
         | md5(array_to_string(list_sort(list_distinct(${tokensSql(cleanTextSql("text"))})), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Exact dedup: group by content hash, keep lowest id (one shuffle on
    // the hash — the 100 TB-scale exact-dedup shape).
    Q("q15_exact_dedup", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups", "text_hash")
        .orderBy("keep_id")
    }, Some(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups, md5(text) AS text_hash
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // TF-IDF: explode tokens → per-(doc,term) counts → document
    // frequencies → smoothed idf → top-3 terms per doc. Two shuffles
    // (term counts, doc frequencies) + one window — the canonical
    // vocabulary/relevance-feature shape. ln() agrees across engines at
    // the 6dp rounding used everywhere.
    Q("q57_tfidf", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
      // corpus size stays lazy — one broadcast scalar in the plan
      // instead of an eager count job at construction time
      val nDf = docs.agg(count(lit(1)).as("n"))
      val tf = docs.select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(desc("score_raw"), asc("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(nDf))
        .withColumn("score_raw",
          col("tf") * (log((col("n").cast("double") + 1.0) / (col("df") + 1.0)) + 1.0))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), round(col("score_raw"), 6).as("score"), col("rank"))
        .orderBy("doc_id", "rank")
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${tokensSql(cleanTextSql("text"))}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE length(term) >= 3 GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS score_raw
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, score_raw,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score_raw DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, term, round(score_raw, 6) AS score, rank
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // PII scrubbing: deterministic contact lines appended to each doc,
    // then email/phone/url redaction with counts — the redaction pass
    // every released training corpus runs. Pure regexp chain, one scan.
    Q("q59_pii_scrub", (s, dir) => {
      val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phonePat = "\\+1-555-[0-9]{4}"
      val withPii = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      Tables.documents(s, dir)
        .withColumn("t", withPii)
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailPat), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(col("t"), lit(phonePat), lit(0))).cast("long").as("n_phone"),
          substring(regexp_replace(regexp_replace(col("t"), phonePat, "[PHONE]"),
            emailPat, "[EMAIL]"), 1, 120).as("scrubbed_head"))
        .orderBy("doc_id")
    }, Some {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+1-555-[0-9]{4}"
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
         | substr(regexp_replace(regexp_replace(t, '$phone', '[PHONE]', 'g'),
         |   '$email', '[EMAIL]', 'g'), 1, 120) AS scrubbed_head
         |FROM (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
         | FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // Sequence packing: docs in id order fill fixed token-budget training
    // shards per source — exclusive running token sum // budget. The
    // shard-assignment step before tokenized-example writing; one window
    // over the (source, doc_id) ordering, no data movement beyond it.
    Q("q60_pack_sequences", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(TextOps.cleanText(col("text"))).as("n_tokens"))
        .withColumn("shard",
          (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 4096).cast("long"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, source, n_tokens,
         | CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS shard
         |FROM (SELECT doc_id, source,
         |  CAST(len(string_split(${cleanTextSql("text")}, ' ')) AS BIGINT) AS n_tokens
         | FROM documents)
         |ORDER BY doc_id""".stripMargin)),

    // n-gram (token-set) Jaccard over a deterministic candidate windowing
    // (adjacent ids) — the verify-stage primitive of candidate-pair dedup.
    Q("q16_jaccard_adjacent", (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(TextOps.tokens(TextOps.cleanText(col("text")))).as("toks"))
      val a = t.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
      val b = t.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .select(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") /
            (size(col("ta")) + size(col("tb")) - col("inter")), 6).as("jaccard"))
        .orderBy("doc_a")
    }, Some(
      s"""WITH t AS (SELECT doc_id,
         |  list_distinct(${tokensSql(cleanTextSql("text"))}) AS toks FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |   (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_a""".stripMargin)),

    // Vocabulary build + OOV audit (tokenizer prep): corpus term counts →
    // top-V vocabulary (count desc, term asc — deterministic cutoff) →
    // per-source out-of-vocabulary token rate against it. The vocab
    // ranking window runs over the aggregated term table (vocab-sized,
    // not corpus-sized) and the vocab broadcasts to the scoring probe, so
    // the corpus is scanned, never re-shuffled, at any scale.
    Q("q89_vocab_oov", (s, dir) => {
      val occ = Tables.documents(s, dir)
        .select(col("source"),
          explode(TextOps.tokens(TextOps.cleanText(col("text")))).as("term"))
        .persist()
      val counts = occ.groupBy("term").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cnt"), asc("term"))
      val vocab = counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20).select(col("term"), lit(1L).as("in_vocab"))
      occ.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
        .orderBy("source")
    }, Some(
      s"""WITH t AS (SELECT source, unnest(${tokensSql(cleanTextSql("text"))}) AS term
         |           FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |v AS (SELECT term FROM (
         |    SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk
         |    FROM c) WHERE rk <= 20),
         |j AS (SELECT t.source, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM t LEFT JOIN v ON t.term = v.term),
         |a AS (SELECT source, count(*) AS n_tokens,
         |        CAST(sum(oov) AS BIGINT) AS n_oov FROM j GROUP BY source)
         |SELECT source, n_tokens, n_oov,
         |  round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
         |FROM a ORDER BY source""".stripMargin)))
}
