package graft.queries

import graft.sources.Tables
import graft.text.{StableHash, StableHash64, TextOps}
import Helpers._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-retrieval operators — the IR leg of a corpus pipeline: BM25
  * scoring, inverted-index construction, positional phrase search, and
  * an exact set-similarity join with prefix filtering. The reference
  * ranks documents with a dense cross-encoder (rank.py:15) over a
  * brute-force candidate scan (semantic.py:37-41); these are the sparse
  * complements a 100 TB corpus needs next to it.
  */
object RetrievalQueries {

  /** doc_id → cleaned len≥3 tokens — q57's tokenization, shared here. */
  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextOps.tokens(TextOps.cleanText(col("text")))).as("term"))
      .filter(length(col("term")) >= 3)

  private def toksCte: String =
    s"""toks AS (SELECT doc_id, term FROM (
       |  SELECT doc_id, unnest(${tokensSql(cleanTextSql("text"))}) AS term
       |  FROM documents) WHERE length(term) >= 3)""".stripMargin

  /** Distinct 5-token word shingles per document as signed 64-bit
    * StableHash64 keys `(doc_id, <hash>)` — identical ordering on both
    * engines (q65, q154).
    */
  private[queries] def shingles(docs: DataFrame, hash: String): DataFrame =
    docs
      .select(col("doc_id"),
        split(TextOps.cleanText(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))"))
        .as("shingle"))
      .select(col("doc_id"), StableHash64(col("shingle")).as(hash))
      .distinct()

  private def shinglesCte: String =
    s"""sh AS (SELECT DISTINCT doc_id,
       |    CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
       |         ELSE u END AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(${StableHash.hashes64Sql(
          "list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))")}) AS u
       |        FROM (SELECT doc_id, string_split(${cleanTextSql("text")}, ' ') AS toks
       |              FROM documents)
       |        WHERE len(toks) >= 5))""".stripMargin

  /** BM25-scored docs (doc_id, dl, score) for the fixed query-term set —
    * q146's scorer, shared with q180's fusion. One aggregate over the
    * token table for dl; the term-filtered tf/df frames and corpus
    * stats broadcast to the scorer.
    */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("spark", "vector", "customer")
    val t = toks(s, dir)
    val dl = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    val tf = t.filter(col("term").isin(qterms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("sterm", round(
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))),
        6))
      .groupBy("doc_id")
      .agg(max("dl").as("dl"),
        round(sum(col("sterm").cast(DecimalType(20, 6))).cast("double"), 6)
          .as("score"))
  }

  /** The matching DuckDB CTE chain ending in `bm(doc_id, dl, score)`. */
  private def bm25Cte: String =
    s"""$toksCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ('spark', 'vector', 'customer') GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |ts AS (SELECT tf.doc_id, dl.dl,
       |    round(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * tf.tf * 2.2 /
       |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (CAST(st.tot_dl AS DOUBLE) / st.n_docs))),
       |      6) AS sterm
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |bm AS (SELECT doc_id, max(dl) AS dl,
       |    round(CAST(sum(CAST(sterm AS DECIMAL(20,6))) AS DOUBLE), 6) AS score
       |  FROM ts GROUP BY doc_id)""".stripMargin

  val all: Seq[Q] = Seq(

    // Okapi BM25 over a fixed query-term set (k1=1.2, b=0.75): tf and
    // df are exact integers, avgdl one exact-sum division, and each
    // per-term partial is rounded then decimal-summed so the total is
    // fold-order-free. Plan shape at scale: the big token table
    // aggregates once for dl, once (post term-filter, so it is tiny)
    // for tf; df and the corpus stats broadcast to the scorer — no
    // shuffle ever carries more than (matching doc, term) rows.
    Q("q146_bm25", (s, dir) => {
      bm25Scored(s, dir)
        .orderBy(desc("score"), asc("doc_id")).limit(20)
        .select(col("doc_id"), col("dl"), col("score"))
    }, Some(
      s"""WITH $bm25Cte
         |SELECT doc_id, dl, score
         |FROM bm ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // Reciprocal-rank fusion (Cormack et al., SIGIR'09) of the sparse
    // BM25 list and the dense cosine list (doc_id ≡ vec_id) — the hybrid
    // retrieval every RAG stack runs. Each system contributes its top-50
    // (rank 0 = absent); rrf = Σ 1/(60 + rank) over the systems that
    // returned the doc. Ranks are integers and the fusion is exact
    // rational arithmetic — nothing transcendental crosses engines. At
    // scale both lists are top-k-pruned before the full-outer rank
    // join, so fusion never touches more than k rows per system.
    Q("q180_rrf_fusion", (s, dir) => {
      val bmr = bm25Scored(s, dir)
        .orderBy(desc("score"), asc("doc_id")).limit(50)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(desc("score"), asc("doc_id")))
            .cast("long").as("rb"))
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), graft.vector.VectorOps.asDouble(col("embedding")).as("vec"))
      val qv = emb.filter(col("vec_id") === 0).select(col("vec").as("qv"))
      val csr = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          graft.vector.VectorOps.cosineRounded(col("vec"), col("qv")).as("sim"))
        .orderBy(desc("sim"), asc("doc_id")).limit(50)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(desc("sim"), asc("doc_id")))
            .cast("long").as("rc"))
      bmr.join(csr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("rb"), lit(0L)).as("r_bm25"),
          coalesce(col("rc"), lit(0L)).as("r_cos"),
          round(
            when(col("rb").isNull, 0.0).otherwise(lit(1.0) / (col("rb") + 60)) +
            when(col("rc").isNull, 0.0).otherwise(lit(1.0) / (col("rc") + 60)),
            6).as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id")).limit(10)
    }, Some(
      s"""WITH $bm25Cte,
         |bmr AS (SELECT doc_id, CAST(row_number() OVER
         |          (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
         |        FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
         |      WHERE vec_id = 0),
         |cs AS (SELECT vec_id AS doc_id,
         |         round(${cosineSql("CAST(embedding AS DOUBLE[])", "qv")}, 6) AS sim
         |       FROM embeddings CROSS JOIN q),
         |csr AS (SELECT doc_id, CAST(row_number() OVER
         |          (ORDER BY sim DESC, doc_id) AS BIGINT) AS rc
         |        FROM cs ORDER BY sim DESC, doc_id LIMIT 50),
         |f AS (SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id, rb, rc
         |      FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.doc_id)
         |SELECT doc_id, coalesce(rb, 0) AS r_bm25, coalesce(rc, 0) AS r_cos,
         |  round(CASE WHEN rb IS NULL THEN 0 ELSE 1.0/(rb + 60) END +
         |        CASE WHEN rc IS NULL THEN 0 ELSE 1.0/(rc + 60) END, 6) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Inverted-index build: term → document frequency, collection
    // frequency, and the head of the numerically-sorted posting list
    // (the LISTAGG contract: sort before slicing, because collect_list
    // order is partition-nondeterministic). One shuffle on term — the
    // natural partitioning key for a distributed index; posting lists
    // stay bounded here by the head slice, and at 100 TB by per-term
    // segment files rather than one driver-side array.
    Q("q147_inverted_index", (s, dir) => {
      toks(s, dir)
        .groupBy("term")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"),
          array_join(transform(
            slice(array_sort(collect_set(col("doc_id"))), 1, 3),
            x => x.cast("string")), "|").as("postings_head"))
        .orderBy(desc("df"), asc("term"))
    }, Some(
      s"""WITH $toksCte
         |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf,
         |  array_to_string(list_sort(list(DISTINCT doc_id))[1:3], '|') AS postings_head
         |FROM toks GROUP BY term ORDER BY df DESC, term""".stripMargin)),

    // Positional phrase search ("table table"): a positional posting
    // join — occurrences of the term at position p matched with p+1,
    // counting OVERLAPPING matches ("table table table" = 2), which
    // substring counting gets wrong. The position explode is map-only;
    // the self-join keys on (doc_id, pos) so co-location is free after
    // one hash partition on doc_id.
    Q("q148_phrase_search", (s, dir) => {
      val pos = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(split(TextOps.cleanText(col("text")), " ")))
        .filter(col("col") === "table")
        .select(col("doc_id"), (col("pos") + 1).as("pos"))
      pos.as("a").join(pos.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("b.pos") === col("a.pos") + 1)
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("a.pos")).cast("long").as("first_pos"))
        .orderBy(desc("n_matches"), asc("doc_id"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, string_split(${cleanTextSql("text")}, ' ') AS l
         |           FROM documents),
         |p AS (SELECT doc_id, u.i AS pos FROM t, UNNEST(range(1, len(l) + 1)) AS u(i)
         |      WHERE l[u.i] = 'table')
         |SELECT a.doc_id AS doc_id, count(*) AS n_matches,
         |  CAST(min(a.pos) AS BIGINT) AS first_pos
         |FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |GROUP BY a.doc_id ORDER BY n_matches DESC, doc_id""".stripMargin)),

    // Exact set-similarity self-join (Jaccard ≥ 0.5 on 5-gram shingle
    // sets) with PREFIX FILTERING (Bayardo et al., WWW'07 "Scaling Up
    // All Pairs Similarity Search"): each doc's shingles are ranked
    // rarest-first by global frequency; only the first
    // n − ⌈θ·n⌉ + 1 can witness a qualifying pair, so the candidate
    // join touches the skinny prefix table instead of all |doc|²
    // pairs. Candidates are then verified with the exact intersection.
    // At 100 TB the prefix join is the only quadratic-risk step and its
    // fan-out is bounded by rare-token frequency, not document count.
    Q("q154_setsim_join", (s, dir) => {
      val theta = 0.5
      val sh = shingles(Tables.documents(s, dir), "h").persist()
      // The core pipeline, parameterized by which shingle table it runs
      // over: global-frequency prefix ranking, prefix-collision
      // candidates, exact-intersection verification. Prefix filtering is
      // LOSSLESS under ANY consistent global token order, so running it
      // over a subset of documents yields exactly the qualifying pairs
      // among that subset.
      def verifiedPairs(shX: DataFrame, sets: DataFrame): DataFrame = {
        val freq = shX.groupBy("h").agg(count(lit(1)).as("f"))
        val pfx = shX.join(freq, "h")
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(asc("f"), asc("h"))))
          .join(sets.select("doc_id", "n"), "doc_id")
          .filter(col("rk") <= col("n") - ceil(lit(theta) * col("n")) + 1)
          .select("doc_id", "h")
        val cand = pfx.as("a").join(pfx.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        // Join strategy for the verify joins: left to AQE. An r14
        // experiment forced a bytes-gated SHUFFLE_HASH build on the
        // sets side (guide §3.1) after an sf10 probe showed 60 GB of
        // spill around the verify stage — measured back-to-back it was
        // WORSE (312 → 420 s; the spill actually lives in the
        // prefix-candidate self-join + distinct, and the eager size
        // census pinned the array cache into the heap), so the
        // planner's choice stands. Full adjudication with both probe
        // censuses in OPTIMIZATION_r14.md.
        cand
          .join(sets.select(col("doc_id").as("da"), col("set").as("sa"),
            col("n").as("n_a")), "da")
          .join(sets.select(col("doc_id").as("db"), col("set").as("sb"),
            col("n").as("n_b")), "db")
          .withColumn("n_inter",
            size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("jaccard", round(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")), 6))
          .filter(col("jaccard") >= theta)
          .select(col("da"), col("db"), col("n_a"), col("n_b"),
            col("n_inter"), col("jaccard"))
      }
      def setsOver(shX: DataFrame): DataFrame = shX.groupBy("doc_id")
        // persisted: feeds the prefix-length probe AND both
        // verification joins — unpersisted, the collect_set aggregate
        // would run 3×
        .agg(collect_set(col("h")).as("set"), count(lit(1)).as("n"))
        .persist()
      // Exact-duplicate census (the q17/minHashSubstrate pattern, made
      // ADAPTIVE): identical shingle sets are detected by an
      // order-independent (bit_xor ∘ xxhash64)²-plus-cardinality content
      // key — one skinny map-side-partial aggregation, no set array
      // materialized, a corpus-dominating dup group costs one combiner.
      // On a dup-free corpus the census is the only overhead and the
      // direct pipeline runs; when exact-dup groups exist, the pipeline
      // runs over one min-id representative per distinct set and
      // results expand back over membership (identical sets imply
      // identical n, intersection, and jaccard against any third set —
      // bit-identical output, pinned old-vs-new on the SkewGen corpus,
      // where the naive form verified C(1001,2) pairs, a measured
      // ×2.5).
      // cost-based switch: canonicalization trades ~7 extra skinny
      // stages for Σ C(g,2) saved pair verifications — worth it only
      // when duplication is material (a handful of 2-member groups is
      // not; the SkewGen mega-group's 500k pairs are). The DECISION
      // census runs on raw text (one cheap documents scan, no
      // shingling; raw-identical ⇒ shingle-set-identical, so it can
      // only under-count and fall back to the direct path); the exact
      // set-level grouping apparatus is built only when it wins.
      val census = Tables.documents(s, dir)
        .groupBy(md5(col("text"))).agg(count(lit(1)).as("g"))
        .agg(coalesce(sum(when(col("g") > 1,
          col("g").cast("double") * (col("g") - 1) / 2)), lit(0.0)).as("saved"),
          count(lit(1)).cast("double").as("n_docs")).head()
      val worthIt = census.getDouble(0) >= census.getDouble(1)
      if (!worthIt) {
        verifiedPairs(sh, setsOver(sh)).orderBy("da", "db")
      } else {
        // order-sensitive 128-bit content key: xxhash64 over the SORTED
        // hash array folds elements through a seeded chain (the
        // Dedup.contentKey construction), so distinct sets cannot be
        // engineered into a collision the way a bit_xor aggregate's
        // GF(2)-linearity allows. The per-doc set array this carries
        // through the partial aggregate is the same cardinality as `sh`
        // itself — still one combiner per dup group map-side.
        val keyed = sh.groupBy("doc_id")
          .agg(sort_array(collect_set(col("h"))).as("hs"),
            count(lit(1)).as("nk"))
          .select(col("doc_id"), xxhash64(col("hs")).as("ck1"),
            xxhash64(col("hs"), lit(1)).as("ck2"), col("nk"))
          .persist()
        val reps = keyed.groupBy("ck1", "ck2", "nk")
          .agg(min(col("doc_id")).as("rep"))
          .persist()
        val membership = keyed.join(reps, Seq("ck1", "ck2", "nk"))
          .select(col("doc_id"), col("rep")).persist()
        val shR = sh.join(reps.select(col("rep").as("doc_id")),
          Seq("doc_id"), "left_semi").persist()
        val sets = setsOver(shR)
        val repPairs = verifiedPairs(shR, sets)
          .select(col("da").as("ra"), col("db").as("rb"), col("n_a"),
            col("n_b"), col("n_inter"), col("jaccard"))
        // within an identical-set group every pair qualifies at exactly
        // jaccard 1.0 with n_inter = n — pure expansion, no verification
        val within = membership.as("a").join(membership.as("b"),
            col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            col("a.rep").as("rep"))
          .join(sets.select(col("doc_id").as("rep"), col("n")), "rep")
          .select(col("da"), col("db"), col("n").as("n_a"), col("n").as("n_b"),
            col("n").as("n_inter"), lit(1.0).as("jaccard"))
        // a representative pair expands to every cross-group member
        // pair; n_a/n_b swap with the id order since they ride the
        // output's (da < db) normalization
        val cross = repPairs
          .join(membership.select(col("rep").as("ra"), col("doc_id").as("ia")), "ra")
          .join(membership.select(col("rep").as("rb"), col("doc_id").as("ib")), "rb")
          .select(least(col("ia"), col("ib")).as("da"),
            greatest(col("ia"), col("ib")).as("db"),
            when(col("ia") < col("ib"), col("n_a")).otherwise(col("n_b")).as("n_a"),
            when(col("ia") < col("ib"), col("n_b")).otherwise(col("n_a")).as("n_b"),
            col("n_inter"), col("jaccard"))
        within.unionByName(cross).orderBy("da", "db")
      }
    }, Some(
      s"""WITH $shinglesCte,
         |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |f AS (SELECT h, count(*) AS f FROM sh GROUP BY h),
         |r AS (SELECT sh.doc_id, sh.h, n.n,
         |        row_number() OVER (PARTITION BY sh.doc_id ORDER BY f.f, sh.h) AS rk
         |      FROM sh JOIN f USING (h) JOIN n USING (doc_id)),
         |p AS (SELECT doc_id, h FROM r WHERE rk <= n - ceil(0.5 * n) + 1),
         |c AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |      FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id),
         |sets AS (SELECT doc_id, list(h) AS s FROM sh GROUP BY doc_id),
         |v AS (SELECT c.da, c.db, na.n AS n_a, nb.n AS n_b,
         |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter
         |      FROM c JOIN sets sa ON sa.doc_id = c.da
         |             JOIN sets sb ON sb.doc_id = c.db
         |             JOIN n na ON na.doc_id = c.da
         |             JOIN n nb ON nb.doc_id = c.db)
         |SELECT da, db, n_a, n_b, n_inter,
         |  round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) AS jaccard
         |FROM v WHERE round(CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter), 6) >= 0.5
         |ORDER BY da, db""".stripMargin)))
}
