package graft.queries

import graft.sources.Tables
import graft.text.{StableHash, StableHash64, TextOps}
import graft.vector.VectorOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dataset-curation operators a 100 TB training pipeline runs between raw
  * corpus and tokenizer: deterministic split assignment, sliding-window
  * chunking, language-model surprisal scoring, repetition screens
  * (the Gopher-style quality filters), and int8 embedding quantization.
  * All exactly DuckDB-oracle-checked; the scale levers are noted per op.
  */
object CurationQueries {
  import Helpers._

  val all: Seq[Q] = Seq(

    // Deterministic train/val/test split: a StableHash bucket of the doc
    // id assigns 80/10/10 — reproducible on any cluster size, no RNG, no
    // coordination; membership is a pure map-side predicate, so at 100 TB
    // the split costs one scan and the per-split stats one small shuffle.
    Q("q79_split_assign", (s, dir) => {
      val h = StableHash64(concat(lit("split:"), col("doc_id").cast("string")))
      // unsigned remainder mod 100 in column form (2^64 ≡ 16 mod 100)
      val bucket = pmod(
        pmod(h, lit(100L)) + when(h < 0, lit(16L)).otherwise(lit(0L)), lit(100L))
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          min("doc_id").as("min_id"))
        .orderBy("split", "source")
    }, Some(
      s"""WITH b AS (SELECT source, n_chars, doc_id,
         |  ${StableHash.hashes64Sql("['split:' || CAST(doc_id AS VARCHAR)]")}[1] % 100 AS bucket
         |  FROM documents)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
         |  min(doc_id) AS min_id
         |FROM b GROUP BY 1, 2 ORDER BY split, source""".stripMargin)),

    // Sliding-window chunking (window 32 tokens, stride 24): the RAG /
    // long-context splitter. Pure per-row explode — fan-out is bounded by
    // ceil(n_tokens/stride), no shuffle at all; at 100 TB this is a
    // map-only job whose output partitioning inherits the scan's.
    Q("q80_chunk_windows", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
            lit(24))).as("start"))
        .select(col("doc_id"),
          (col("start") / 24).cast("long").as("chunk_idx"),
          size(slice(col("toks"), col("start") + 1, lit(32))).cast("long").as("n_chunk"),
          array_join(slice(col("toks"), col("start") + 1, lit(32)), " ").as("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      s"""WITH t AS (SELECT doc_id, ${tokensSql(cleanTextSql("text"))} AS toks
         |           FROM documents),
         |st AS (SELECT doc_id, toks,
         |         unnest(range(0, greatest(len(toks), 1), 24)) AS start FROM t)
         |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_idx,
         |  CAST(len(list_slice(toks, start + 1, start + 32)) AS BIGINT) AS n_chunk,
         |  array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Unigram-LM surprisal scoring — the perplexity-style quality filter
    // (CCNet shape) with the corpus itself as the language model: global
    // term counts → per-token -ln p(t) → per-doc mean. The vocabulary is
    // tiny relative to the corpus, so the count table broadcasts and the
    // scoring pass stays shuffle-free; per-token surprisal is rounded to
    // 6dp and summed as exact decimals so the mean is order-independent.
    Q("q81_surprisal", (s, dir) => {
      // the token-occurrence frame feeds three consumers (corpus total,
      // term counts, scoring probe) — persist it so the clean+tokenize+
      // explode subtree runs once (at 100 TB the two passes are inherent:
      // build the LM, then score; the cache is the single-node shortcut)
      val occ = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextOps.tokens(TextOps.cleanText(col("text")))).as("term"))
        .persist()
      val total = occ.count()
      val counts = occ.groupBy("term").agg(count(lit(1)).as("cnt"))
      occ.join(broadcast(counts), "term")
        .withColumn("surp", round(log(lit(total.toDouble) / col("cnt")), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), davg(col("surp")).as("avg_surprisal"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, unnest(${tokensSql(cleanTextSql("text"))}) AS term
         |           FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t),
         |sc AS (SELECT t.doc_id, round(ln(n.total / c.cnt), 6) AS surp
         |       FROM t JOIN c USING (term) CROSS JOIN n)
         |SELECT doc_id, count(*) AS n_tokens, ${davgSql("surp")} AS avg_surprisal
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Repetition screens (Gopher-style): duplicate-2-gram fraction and
    // the character share of the single most frequent 2-gram. Bigrams
    // are built ONCE, on the explode side only — every per-doc statistic
    // falls out of the (doc, gram) counts (n_grams = Σcnt, n_distinct =
    // #groups, top = max(struct)), so there is no per-row
    // array_distinct and no second grams pass riding a self-join. (The
    // previous form computed the grams array on BOTH sides of the join
    // and paid an interpreted array_distinct per row: 40 s at sf0.1
    // under the checksum action vs ~3 s for this shape — count-mode
    // pruning had hidden the entire cost.) Document text still never
    // crosses a shuffle; only (doc_id, gram) rows do.
    Q("q82_repetition", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.cleanText(col("text")).as("clean"))
        .select(col("doc_id"),
          greatest(length(col("clean")), lit(1)).as("clen"),
          TextOps.tokens(col("clean")).as("toks"))
      val grams = docs
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => concat_ws(" ", a, b))).as("gram"))
      val per = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max(struct(col("cnt"), col("gram"))).as("t"))
      docs.join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          round(when(col("n_grams") > 0,
            (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
            .otherwise(0.0), 6).as("dup_frac"),
          coalesce(col("t.gram"), lit("")).as("top_gram"),
          coalesce(col("t.cnt"), lit(0L)).as("top_n"),
          round(coalesce(col("t.cnt").cast("double") * length(col("t.gram"))
            / col("clen"), lit(0.0)), 6).as("top_char_frac"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH d AS (SELECT doc_id, ${cleanTextSql("text")} AS clean FROM documents),
         |t AS (SELECT doc_id, clean, string_split(clean, ' ') AS toks FROM d),
         |g AS (SELECT doc_id, clean,
         |        CASE WHEN len(toks) >= 2
         |          THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |          ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
         |b AS (SELECT doc_id, clean, CAST(len(grams) AS BIGINT) AS n_grams,
         |        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct FROM g),
         |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY doc_id, gram),
         |r AS (SELECT doc_id, gram, cnt, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM c)
         |SELECT b.doc_id, b.n_grams,
         |  round(CASE WHEN b.n_grams > 0
         |    THEN CAST(b.n_grams - b.n_distinct AS DOUBLE) / b.n_grams
         |    ELSE 0.0 END, 6) AS dup_frac,
         |  coalesce(r.gram, '') AS top_gram,
         |  CAST(coalesce(r.cnt, 0) AS BIGINT) AS top_n,
         |  round(coalesce(CAST(r.cnt AS DOUBLE) * length(r.gram)
         |    / greatest(length(b.clean), 1), 0.0), 6) AS top_char_frac
         |FROM b LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // Symmetric int8 embedding quantization: per-vector absmax scale,
    // round-half-up to [-127,127], then reconstruction error and cosine
    // drift of the dequantized vector. The storage lever for ANN at scale
    // (4x smaller vectors); per-row map-only, no shuffle.
    Q("q83_quantize_int8", (s, dir) => {
      VectorQueries.int8Quantized(s, dir)
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(sqrt(aggregate(
            zip_with(col("vec"), col("dq"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v)), 6).as("l2_err"),
          VectorOps.cosineRounded(col("vec"), col("dq")).as("cos_dq"))
        .orderBy("vec_id")
    }, Some(
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |sc AS (SELECT vec_id, vec,
         |         list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale FROM v),
         |q AS (SELECT vec_id, vec, scale,
         |        list_transform(vec, x ->
         |          least(greatest(floor(x / scale + 0.5), -127.0), 127.0) * scale) AS dq
         |      FROM sc)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  round(sqrt(list_sum(list_transform(list_zip(vec, dq),
         |    p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS l2_err,
         |  round(${cosineSql("vec", "dq")}, 6) AS cos_dq
         |FROM q ORDER BY vec_id""".stripMargin)),

    // Distribution-drift detection: two-sample Kolmogorov–Smirnov
    // statistic between two sources' token-length distributions — the
    // monitoring primitive that catches a corrupted or shifted ingest
    // before it trains. One groupBy on the value + one window over the
    // distinct-value axis (bounded by the value domain, not the corpus);
    // the per-row CDF diff is rounded to 6dp and the argmax is taken on
    // the rounded value (ties → smallest value), so both engines pick
    // the identical supremum.
    Q("q94_ks_drift", (s, dir) => {
      val vals = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          graft.text.TextOps.tokenCount(
            graft.text.TextOps.cleanText(col("text"))).as("v"))
      val byV = vals.groupBy("v").agg(
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      val tot = byV.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      byV.crossJoin(broadcast(tot))
        .select(col("v"), col("na"), col("nb"),
          sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"))
        .select(col("na"), col("nb"), col("v"),
          round(abs(col("cuma").cast("double") / col("na") -
            col("cumb").cast("double") / col("nb")), 6).as("d"))
        .agg(first("na").as("n_a"), first("nb").as("n_b"),
          max(struct(col("d"), (-col("v")).as("nv"))).as("m"))
        .select(col("n_a"), col("n_b"), col("m.d").as("ks"),
          (-col("m.nv")).as("v_at"))
    }, Some(
      s"""WITH vals AS (SELECT source,
         |    CAST(len(string_split(${cleanTextSql("text")}, ' ')) AS BIGINT) AS v
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |byv AS (SELECT v,
         |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |  FROM vals GROUP BY v),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |               CAST(sum(cb) AS BIGINT) AS nb FROM byv),
         |cdf AS (SELECT v, na, nb,
         |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS cuma,
         |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) AS cumb
         |  FROM byv CROSS JOIN tot),
         |d AS (SELECT v, na, nb,
         |    round(abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb), 6) AS d
         |  FROM cdf),
         |top AS (SELECT v, na, nb, d, row_number() OVER (ORDER BY d DESC, v ASC) AS rk
         |        FROM d)
         |SELECT na AS n_a, nb AS n_b, d AS ks, v AS v_at FROM top WHERE rk = 1""".stripMargin)),

    // Bigram-LM surprisal (q81's unigram model, one order up): add-one-
    // smoothed p(w2|w1) = (c(w1w2)+1)/(c(w1·)+V) from corpus prefix and
    // bigram counts, scored back over every bigram occurrence. The two
    // count tables are vocabulary-sized — broadcast — so the scoring
    // pass is again shuffle-free; per-bigram surprisal rounds to 6dp
    // before the exact-decimal mean, keeping the result independent of
    // partition order and bit-equal in the oracle.
    Q("q102_bigram_surprisal", (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
      // bigram occurrences (w1 = prefix token): feeds both count tables
      // and the scoring probe — persist so tokenize+explode runs once
      val occ = base.select(col("doc_id"),
          explode(when(size(col("toks")) >= 2,
            transform(sequence(lit(1), size(col("toks")) - 1),
              i => struct(element_at(col("toks"), i).as("w1"),
                concat_ws(" ", element_at(col("toks"), i),
                  element_at(col("toks"), i + 1)).as("bg"))))
            .otherwise(array().cast("array<struct<w1:string,bg:string>>"))).as("g"))
        .select(col("doc_id"), col("g.w1").as("w1"), col("g.bg").as("bg"))
        .persist()
      // vocabulary size stays lazy — one broadcast scalar in the plan
      // instead of an eager distinct-count job at construction time
      val vocab = base.select(explode(col("toks")).as("t"))
        .agg(countDistinct(col("t")).as("vocab"))
      val c2 = occ.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = occ.groupBy("w1").agg(count(lit(1)).as("c1"))
      occ.join(broadcast(c2), "bg").join(broadcast(c1), "w1")
        .crossJoin(broadcast(vocab))
        .withColumn("surp",
          round(log((col("c1") + col("vocab")) / (col("c2") + lit(1.0))), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), davg(col("surp")).as("avg_surprisal"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, ${tokensSql(cleanTextSql("text"))} AS toks
         |           FROM documents),
         |ix AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
         |g AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS bg
         |      FROM ix),
         |v AS (SELECT count(DISTINCT tok) AS vocab FROM
         |        (SELECT unnest(toks) AS tok FROM t) z),
         |c2 AS (SELECT bg, count(*) AS c2 FROM g GROUP BY bg),
         |c1 AS (SELECT w1, count(*) AS c1 FROM g GROUP BY w1),
         |sc AS (SELECT g.doc_id,
         |         round(ln((c1.c1 + v.vocab) / (c2.c2 + 1.0)), 6) AS surp
         |       FROM g JOIN c2 USING (bg) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams, ${davgSql("surp")} AS avg_surprisal
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // One BPE merge-training step at corpus scale: word (token) type
    // frequencies, adjacent character-pair counts weighted by word
    // frequency, and the top-10 merge candidates (count desc, pair asc —
    // the deterministic argmax a BPE trainer would take next). The pair
    // counting runs over DISTINCT word types (vocabulary-sized, not
    // corpus-sized) with the frequency as a weight — the trick that makes
    // BPE training feasible at 100 TB: the heavy text is touched once
    // for the type census, every merge iteration after that is
    // vocab-sized. Map-side pair explode, one skinny shuffle on pairs.
    Q("q118_bpe_merge_step", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(TextOps.cleanText(col("text"))))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .filter(length(col("word")) >= 2)
      val pairs = words.select(col("freq"),
          explode(expr(
            "transform(sequence(1, length(word) - 1), " +
              "i -> substr(word, i, 1) || substr(word, i + 1, 1))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
      pairs.orderBy(desc("cnt"), col("pair")).limit(10)
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(desc("cnt"), col("pair"))).cast("long"))
        .select(col("rank"), col("pair"), col("cnt"))
        .orderBy("rank")
    }, Some(
      s"""WITH w AS (SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(${tokensSql(cleanTextSql("text"))}) AS word
         |    FROM documents) t
         |  GROUP BY word HAVING length(word) >= 2),
         |p AS (SELECT substr(word, CAST(i AS INT), 1)
         |          || substr(word, CAST(i + 1 AS INT), 1) AS pair, freq
         |      FROM (SELECT word, freq, unnest(range(1, length(word))) AS i
         |            FROM w) z),
         |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
         |      FROM p GROUP BY pair)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
         |    AS rank, pair, cnt
         |FROM c ORDER BY cnt DESC, pair LIMIT 10""".stripMargin)),

    // Deterministic negative sampling for contrastive training: each
    // anchor (a fixed query-budget sample, doc_id % 50) draws k=5
    // negatives from the corpus, excluding its own source (the cheap
    // near-positive proxy). Priority = StableHash64(anchor:candidate)
    // reduced mod the prime 1000003 (unsigned — the signed-long
    // correction adds 2^64 ≡ 350687 mod 1000003), so the draw is a
    // reproducible pseudo-random permutation per anchor with a DuckDB
    // HUGEINT twin. Scale shape: the anchor list broadcasts because it
    // is a FIXED query budget (id < 5000 cap — ≤100 anchors no matter
    // how large the corpus grows; a %-only filter would scale with the
    // data and pin a corpus-sized broadcast); the corpus scan keeps
    // only the hash sliver below an expected-50-candidates threshold
    // computed from the corpus count, so the per-anchor top-k window
    // sorts ~50 rows, never the corpus.
    Q("q220_negative_sampling", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val anchors = docs
        .filter(col("doc_id") % 50 === 0 && col("doc_id") < 5000)
        .select(col("doc_id").as("aid"), col("source").as("asrc"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      val h = StableHash64(concat(col("aid").cast("string"), lit(":"),
        col("doc_id").cast("string")))
      val bucket = pmod(
        pmod(h, lit(1000003L)) +
          when(h < 0, lit(350687L)).otherwise(lit(0L)), lit(1000003L))
      val sliver = docs
        .join(broadcast(anchors),
          col("source") =!= col("asrc") && col("doc_id") =!= col("aid"))
        .select(col("aid"), col("doc_id").as("cid"), bucket.as("skey"))
        .crossJoin(broadcast(nd))
        .filter(col("skey") <
          floor(lit(50000150.0) / col("nd")).cast("long") + 1)
      sliver
        .withColumn("rnk", row_number().over(
          Window.partitionBy("aid").orderBy(col("skey"), col("cid")))
          .cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("aid").as("anchor_id"), col("cid").as("neg_id"),
          col("rnk"), col("skey"))
        .orderBy("anchor_id", "rnk")
    }, Some(
      s"""WITH n AS (SELECT count(*) AS nd FROM documents),
         |a AS (SELECT doc_id AS aid, source AS asrc FROM documents
         |      WHERE doc_id % 50 = 0 AND doc_id < 5000),
         |c AS (SELECT a.aid, d.doc_id AS cid,
         |        CAST(${StableHash.hashes64Sql(
        "[CAST(a.aid AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)]")}[1]
         |          % 1000003 AS BIGINT) AS skey
         |      FROM a JOIN documents d
         |        ON d.source <> a.asrc AND d.doc_id <> a.aid),
         |f AS (SELECT aid, cid, skey FROM c, n
         |      WHERE skey < CAST(floor(50000150.0 / nd) AS BIGINT) + 1),
         |r AS (SELECT aid, cid, skey, row_number() OVER (
         |        PARTITION BY aid ORDER BY skey, cid) AS rnk FROM f)
         |SELECT aid AS anchor_id, cid AS neg_id, CAST(rnk AS BIGINT) AS rnk,
         |  skey
         |FROM r WHERE rnk <= 5 ORDER BY anchor_id, rnk""".stripMargin)),

    // Full BPE tokenizer TRAINING (capability: the iterative merge LOOP
    // that learns an ordered merge table — q118 scores ONE step's
    // candidates; Sennrich et al. 2016). Corpus text is touched ONCE for
    // the word-TYPE census; every merge iteration after that runs over
    // the vocabulary (symbol strings weighted by type frequency) — the
    // property that makes tokenizer training feasible at 100 TB — and
    // the only driver-side state is the argmax pair per step (1 row × K,
    // the q224/IVF bounded-collect pattern). Greedy-merge parity with
    // the reference algorithm comes from the TWO-SPACE separator
    // invariant: symbols are joined by "  ", the match pattern is padded
    // with one space per side (' l  r ' → ' lr '), so abutting merge
    // sites each keep a boundary space and plain non-overlapping
    // left-to-right replace() — identical semantics on the JVM and
    // DuckDB — merges BOTH pairs of "x y x y", exactly like BPE's greedy
    // pass. The census is restricted to ^[a-z0-9]+$ words so the
    // per-char '.'-split is engine-identical (no surrogate/rune split
    // divergence on exotic codepoints).
    Q("q227_bpe_train", (s, dir) => {
      import s.implicits._
      val (merges, _) = bpeTrain(s, dir)
      merges.toDF("step", "pair", "merged", "cnt").orderBy("step")
    }, Some(bpeOracleSql)),

    // BPE tokenizer APPLICATION (capability: ENCODING a corpus with the
    // trained merge table — q227 learns the merges; this measures what
    // they do to the data: tokens per document and the chars-per-token
    // compression a tokenizer actually buys). The scale trick is that
    // encoding happens per word TYPE, never per token occurrence: the
    // trained merge chain (driver-local literals, the bounded-collect
    // pattern) folds over the vocabulary-sized symbol table, and the
    // per-doc numbers come from joining the per-type token counts to the
    // per-doc word census — the corpus text is touched once for the
    // census, exactly like training. Only census-eligible words
    // (length ≥ 2, [a-z0-9]+ — the same training filter) are counted.
    Q("q233_bpe_encode", (s, dir) => {
      val (_, finalSyms) = bpeTrain(s, dir)
      val enc = finalSyms.select(
        regexp_replace(col("sym"), " ", "").as("word"),
        size(split(col("sym"), "  ")).cast("long").as("ntok"))
      // the shared build-once census — the corpus is NOT re-tokenized
      // here (see docWordCensus: training already paid the one pass)
      val docw = docWordCensus(s, dir)
      docw.join(enc, "word")
        .groupBy("doc_id").agg(
          sum(col("n")).as("n_words"),
          sum(col("n") * col("ntok")).as("n_tokens"),
          sum(col("n") * length(col("word")).cast("long")).as("n_chars"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_tokens"), 4))
        .orderBy("doc_id")
    }, Some(bpeEncodeOracleSql)),

    // DSIR importance resampling (capability: CONTENT-based pretraining
    // data selection — q68/q167 reweight by the domain LABEL; this
    // scores each raw document by how target-like its text is; Xie et
    // al. 2023). Hashed word unigrams (StableHash64 mod 512 — 512
    // divides 2^64, so pmod alone is the unsigned residue) feed two
    // add-one-smoothed unigram LMs: target = the src0-3 slice, raw =
    // the rest. The per-bucket log-likelihood ratio is quantized to
    // pico-integers ONCE (512 rows, broadcast), so each document's
    // importance score is an exact integer dot product — selection
    // order is engine-independent, no double summation anywhere. Scale:
    // the corpus is tokenized once; the LM is a 512-row broadcast; the
    // top-50 is a TakeOrdered, never a full sort.
    Q("q228_dsir_select", (s, dir) => {
      val targets = Seq("src0", "src1", "src2", "src3")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(TextOps.cleanText(col("text")))).as("word"))
        .filter(length(col("word")) >= 1)
        .select(col("doc_id"), col("source"),
          pmod(StableHash64(col("word")), lit(512L)).as("b"))
        .persist()
      val lm = toks.groupBy("b").agg(
        sum(when(col("source").isin(targets: _*), 1L).otherwise(0L)).as("ct"),
        sum(when(col("source").isin(targets: _*), 0L).otherwise(1L)).as("cr"))
      val tot = lm.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      val lr = lm.crossJoin(broadcast(tot)).select(col("b"),
        floor((log((col("ct") + 1) / (col("tt") + 512)) -
          log((col("cr") + 1) / (col("tr") + 512))) * lit(1e12) + lit(0.5))
          .cast("long").as("lrp"))
      toks.filter(!col("source").isin(targets: _*))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .join(broadcast(lr), "b")
        .groupBy("doc_id").agg(sum("c").as("n_terms"),
          sum(col("c") * col("lrp").cast(DecimalType(38, 0))).as("sp"))
        .orderBy(col("sp").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_terms"),
          round(col("sp").cast("double") / lit(1e12), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }, Some(
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, source, ((h % 512) + 512) % 512 AS b
         |  FROM (SELECT doc_id, source, unnest(${StableHash.hashes64Sql(
        s"list_filter(${tokensSql(cleanTextSql("text"))}, w -> len(w) >= 1)")})
         |          AS h
         |        FROM documents) t),
         |lm AS (SELECT b,
         |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3')
         |      THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM toks GROUP BY b),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |        CAST(sum(cr) AS BIGINT) AS tr FROM lm),
         |lr AS (SELECT b, CAST(floor((ln((ct + 1) / (tt + 512.0)) -
         |      ln((cr + 1) / (tr + 512.0))) * 1e12 + 0.5) AS BIGINT) AS lrp
         |  FROM lm CROSS JOIN tot),
         |dc AS (SELECT doc_id, b, count(*) AS c FROM toks
         |  WHERE source NOT IN ('src0','src1','src2','src3')
         |  GROUP BY doc_id, b),
         |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_terms,
         |    sum(c * CAST(lrp AS HUGEINT)) AS sp
         |  FROM dc JOIN lr USING (b) GROUP BY doc_id),
         |top AS (SELECT doc_id, n_terms,
         |    round(CAST(sp AS DOUBLE) / 1e12, 6) AS score
         |  FROM sc ORDER BY sp DESC, doc_id LIMIT 50)
         |SELECT doc_id, n_terms, score FROM top
         |ORDER BY score DESC, doc_id""".stripMargin)))

  // a def, not a val: `all` above is initialized first and generates the
  // oracle SQL during object init — a val here would still read as 0
  private def BpeMerges = 6

  /** Shared BPE training loop (q227/q233): word-TYPE census → K greedy
    * merges with the two-space separator invariant (see q227's comment).
    * Every returned merge is a driver-local literal (the bounded-collect
    * pattern: K argmax rows); `finalSyms` is the UNPERSISTED
    * literal-replace chain over the census — the loop's per-step caches
    * (needed so each argmax scans a materialized vocabulary, not the
    * growing chain) are all released before returning, and a consumer's
    * single action over finalSyms recomputes the vocabulary-sized chain
    * once.
    */
  /** Train-once memo, keyed like SuffixArray.build: a trained tokenizer
    * is a pipeline ARTIFACT — q227 publishes the merge table, q233
    * applies it; a suite pass pays exactly one training loop (Bench
    * clears this per pass alongside the SA cache, so the artifact still
    * prices one honest training). The memoized finalSyms frame is a
    * lazy vocabulary-sized chain — consumers re-run it on action; only
    * the K driver-side argmax collects are the amortized cost.
    */
  private val trained = graft.Artifacts.memo[
    (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame)]

  /** Build-once per-(doc, word) census of census-eligible words (length
    * ≥ 2, [a-z0-9]+ — the training filter). The corpus-side cost of the
    * whole BPE family is the regex-heavy tokenization pass
    * (cleanText's replace chain + split + rlike); before this memo the
    * pass ran TWICE per bench pass — once for training's word-TYPE
    * census, once for q233's per-doc census. Now the corpus is
    * tokenized exactly once: q233 reads this frame directly and
    * training folds it to type frequencies with a vocabulary-sized
    * re-aggregate (sum of per-doc counts ≡ the direct occurrence
    * count). Materialized like every build-once artifact; cleared per
    * bench pass via the Artifacts registry.
    *
    * Scale assumption: the frame is near tokenized-corpus-sized (one row
    * per distinct word per doc) and is materialized even when only
    * training runs, which needs just the vocabulary-sized type
    * frequencies. The saving (one tokenization pass) was measured at
    * sf0.1 only; at a scale where writing this checkpoint costs more
    * than a second regex pass over the corpus, training should
    * aggregate type frequencies directly and this frame should be built
    * only for q233.
    */
  private val docCensus = graft.Artifacts.memo[org.apache.spark.sql.DataFrame]

  private def docWordCensus(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    docCensus.getOrElseUpdate(s, dir)(
      graft.Artifacts.materialize(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(TextOps.tokens(TextOps.cleanText(col("text")))).as("word"))
          .filter(length(col("word")) >= 2 && col("word").rlike("^[a-z0-9]+$"))
          .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))))

  private def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) =
    trained.getOrElseUpdate(s, dir)(bpeTrainUncached(s, dir))

  private def bpeTrainUncached(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], org.apache.spark.sql.DataFrame) = {
    val cached = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    // type frequencies from the shared per-doc census (one corpus
    // tokenization serves training AND q233's encode): summing per-doc
    // counts per word is exactly the occurrence count
    val words = docWordCensus(s, dir)
      .groupBy("word").agg(sum(col("n")).as("freq"))
    var syms = words.select(
      rtrim(regexp_replace(col("word"), "(.)", "$1  ")).as("sym"),
      col("freq")).persist()
    cached += syms
    val merges =
      scala.collection.mutable.Buffer.empty[(Long, String, String, Long)]
    for (step <- 1 to BpeMerges) {
      val best = syms
        .withColumn("toks", split(col("sym"), "  "))
        .filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("pair")).limit(1).collect()(0)
      val pair = best.getString(0)
      val Array(l, r) = pair.split(" ", 2)
      merges += ((step.toLong, pair, l + r, best.getLong(1)))
      syms = syms.select(
        trim(call_function("replace",
          concat(lit(" "), col("sym"), lit(" ")),
          lit(s" $l  $r "), lit(s" $l$r "))).as("sym"),
        col("freq")).persist()
      cached += syms
    }
    // all actions (the K argmax collects) already ran; release the
    // vocab-sized caches — finalSyms recomputes its narrow chain on the
    // consumer's action
    cached.foreach(_.unpersist(false))
    (merges.toSeq, syms)
  }

  /** Unrolled K-stage mirror of the BPE training loop: stage k derives
    * the pair census from w(k-1), picks the argmax pair b(k), and
    * rewrites the symbol strings into w(k) with the same padded
    * two-space replace. MATERIALIZED on every stage keeps DuckDB from
    * re-inlining the (doubly-referenced) previous stage exponentially.
    */
  /** The shared `WITH` body of the BPE oracles: w0 census + per-step
    * (pair census, argmax, replace) CTEs through w$BpeMerges — the exact
    * SQL replay of [[bpeTrain]]'s loop (q227 reads the argmax rows b$k,
    * q233 reads the final vocabulary w$BpeMerges).
    */
  private def bpeVocabCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) AS sym,
         |         freq
         |  FROM (SELECT word, count(*) AS freq FROM (
         |      SELECT unnest(${tokensSql(cleanTextSql("text"))}) AS word
         |      FROM documents) t
         |    WHERE length(word) >= 2
         |      AND regexp_full_match(word, '[a-z0-9]+')
         |    GROUP BY word) ww),
         |""".stripMargin)
    for (k <- 1 to BpeMerges) {
      sb.append(
        s"""p$k AS (SELECT list_extract(tk, CAST(i AS INT)) || ' ' ||
           |    list_extract(tk, CAST(i + 1 AS INT)) AS pair, freq
           |  FROM (SELECT string_split(sym, '  ') AS tk, freq,
           |        unnest(range(1, len(string_split(sym, '  ')))) AS i
           |      FROM w${k - 1}) z),
           |c$k AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM p$k GROUP BY pair),
           |b$k AS MATERIALIZED (SELECT pair, cnt FROM c$k
           |  ORDER BY cnt DESC, pair LIMIT 1),
           |w$k AS MATERIALIZED (
           |  SELECT trim(replace(' ' || sym || ' ',
           |      ' ' || split_part(b.pair, ' ', 1) || '  ' ||
           |        split_part(b.pair, ' ', 2) || ' ',
           |      ' ' || replace(b.pair, ' ', '') || ' ')) AS sym, freq
           |  FROM w${k - 1} CROSS JOIN b$k b),
           |""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracleSql: String = {
    val steps = (1 to BpeMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS step, pair, " +
        s"replace(pair, ' ', '') AS merged, cnt FROM b$k"
    }.mkString("\n  UNION ALL ")
    s"""${bpeVocabCtes}m AS ($steps)
       |SELECT step, pair, merged, cnt FROM m ORDER BY step""".stripMargin
  }

  private def bpeEncodeOracleSql: String =
    s"""${bpeVocabCtes}enc AS (
       |  SELECT replace(sym, ' ', '') AS word,
       |    CAST(len(string_split(sym, '  ')) AS BIGINT) AS ntok
       |  FROM w$BpeMerges),
       |docw AS (
       |  SELECT doc_id, word, count(*) AS n FROM (
       |    SELECT doc_id, unnest(${tokensSql(cleanTextSql("text"))}) AS word
       |    FROM documents) t
       |  WHERE length(word) >= 2 AND regexp_full_match(word, '[a-z0-9]+')
       |  GROUP BY doc_id, word)
       |SELECT d.doc_id,
       |  CAST(sum(d.n) AS BIGINT) AS n_words,
       |  CAST(sum(d.n * e.ntok) AS BIGINT) AS n_tokens,
       |  CAST(sum(d.n * length(d.word)) AS BIGINT) AS n_chars,
       |  round(CAST(sum(d.n * length(d.word)) AS DOUBLE)
       |    / sum(d.n * e.ntok), 4) AS compression
       |FROM docw d JOIN enc e USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
}
