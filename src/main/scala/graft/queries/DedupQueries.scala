package graft.queries

import graft.dedup.Dedup
import graft.sources.Tables
import graft.text.{StableHash, StableHash64, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection at pipeline scale. The corpus is `documents`
  * plus deterministic corrupted copies (first 30 chars dropped, id +
  * 100000) so true near-dups exist to find; the same corpus construction
  * is mirrored in the oracle SQL, whose brute-force O(n²) verify is
  * feasible at oracle scale (sf0.01) while Spark runs the LSH path that
  * scales.
  *
  * LSH parameters (k=144, 48 bands × 3 rows): P[miss | J] = (1-J³)⁴⁸,
  * ≈5e-7 at the J≈0.64 floor of this corpus's true-dup band — the
  * banding cannot realistically drop an oracle pair — while the ≤0.1
  * Jaccard background stays below a 0.6% candidate rate.
  */
object DedupQueries {
  import Helpers._

  private def dupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("id"),
          expr("substring(text, 31)").as("text")))

  private val dupCorpusSql =
    """SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS id, substr(text, 31) AS text
      |  FROM documents WHERE doc_id % 10 = 0""".stripMargin

  private val shinglesSql =
    s"""list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END)""".stripMargin

  /** Adjacent suffix-array pairs with their longest-common-prefix — the
    * shared substrate of q232 (longest-repeat report), q234 (the
    * per-document cut list) and q235 (contamination spans). This is the
    * build-once LCP ANNEX of the q231 index
    * (graft.dedup.SuffixArray.adjacentLcp): a suite pass pays one SA
    * construction plus one annex pass, and every consumer reads the
    * same checkpointed skinny frame — their own plans contain no join
    * against the documents table and no corpus text column. Full text
    * never crosses a per-suffix exchange inside the annex build either:
    * its doc-keyed joins project bounded head bands in-task through a
    * staged cascade (32 chars for every pair, 256 only for the
    * duplicated minority that caps the first band), the LCP is the
    * native lcp_chars kernel over the bands, and only 256-band cap
    * hits (the rare ≥256-char repeats, which pay their own length)
    * escalate through a skinny full-text re-join.
    *
    * Columns: (r_a, doc_a, off_a, doc_b, off_b, lcp, head); `r_a` is
    * the left row's suffix rank, so (r_a, doc_a, off_a) is the pair's
    * position in SA order (q235 groups pairs into runs with it), and
    * `head` is the first min(lcp, 24) chars of the repeated span.
    */
  private def saAdjacentLcp(s: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    graft.dedup.SuffixArray.adjacentLcp(s, s"documents|$dir",
      Tables.documents(s, dir), "doc_id", "text")

  /** Maximal repeated-span intervals per document — the q234 cut list
    * (half-open 1-based char ranges [span_start, span_end)), shared
    * with q236 which applies it. Every suffix whose adjacent-SA LCP ≥
    * minLcp sits in a repeated span; BOTH occurrences are emitted
    * in-row (no second pass over the pairs) and overlapping intervals
    * merge under a per-doc window (running max of ends → new-group
    * flags → running sum) — skew-bounded by document length, never
    * corpus-sized.
    */
  private def mergedRepeatSpans(s: org.apache.spark.sql.SparkSession,
                                dir: String, minLcp: Int): DataFrame = {
    val spans = saAdjacentLcp(s, dir)
      .filter(col("lcp") >= minLcp)
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("off_a").as("s0")),
        struct(col("doc_b").as("doc_id"), col("off_b").as("s0")))).as("x"),
        col("lcp"))
      .select(col("x.doc_id"), col("x.s0"), (col("x.s0") + col("lcp")).as("e0"))
    val wDoc = Window.partitionBy("doc_id").orderBy("s0", "e0")
    val wPrev = wDoc.rowsBetween(Window.unboundedPreceding, -1)
    spans
      .withColumn("pmax", max(col("e0")).over(wPrev))
      .withColumn("ng",
        when(col("pmax").isNull || col("s0") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("gid", sum(col("ng")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("s0")).as("span_start"), max(col("e0")).as("span_end"))
  }

  val all: Seq[Q] = Seq(

    // MinHash + banded LSH candidates, exact shingle-Jaccard verify.
    // Oracle: brute-force all-pairs Jaccard (same corpus, same metric).
    Q("q17_minhash_dedup", (s, dir) => {
      Dedup.minHashDupPairs(dupCorpus(Tables.documents(s, dir)), "id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }, Some(
      s"""WITH corpus AS ($dupCorpusSql),
         |t AS (SELECT id, ${tokensSql(cleanTextSql("text"))} AS toks FROM corpus),
         |sh AS (SELECT id, $shinglesSql AS shingles FROM t)
         |SELECT a.id AS id_a, b.id AS id_b,
         | round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |   (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.id < b.id
         |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |   (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin)),

    // 64-bit SimHash fingerprints (bit-vote of token hashes). StableHash
    // has an exact DuckDB twin (HUGEINT mod-2^64 SQL), so the fingerprints
    // are oracle-checked bit-for-bit; DedupSpec additionally pins the
    // near-dup → small-Hamming-distance property.
    Q("q18_simhash", (s, dir) => {
      dupCorpus(Tables.documents(s, dir))
        .select(col("id"),
          array_join(transform(
            Dedup.simHashBits(TextOps.tokens(TextOps.cleanText(col("text")))),
            b => b.cast("string")), "").as("simhash"))
        .orderBy("id")
    }, Some(
      s"""WITH corpus AS ($dupCorpusSql),
         |t AS (SELECT id, ${tokensSql(cleanTextSql("text"))} AS toks FROM corpus)
         |SELECT id, ${StableHash.simHashSql("toks")} AS simhash
         |FROM t ORDER BY id""".stripMargin)),

    // Near-dup clusters: MinHash pairs → connected components → one
    // canonical (minimum) id per cluster — the "keep one copy per
    // near-dup group" primitive a dedup pipeline actually ships. The pair
    // list (tiny vs the corpus) is collected to the driver and labeled by
    // a union-by-min union-find (see Dedup.connectedComponents for the
    // scale boundary); the oracle computes the same fixpoint as a
    // recursive-CTE transitive closure over the brute-force pair list.
    // Docs in no pair are their own cluster.
    Q("q43_dedup_clusters", (s, dir) => {
      val corpus = dupCorpus(Tables.documents(s, dir))
      // the LINEAR star+rep edge list — same components as the full pair
      // graph (Dedup.minHashClusterEdges) without materializing the
      // C(g,2) pairs of an exact-duplicate group
      val pairs = Dedup.minHashClusterEdges(corpus, "id", "text", threshold = 0.5)
      val clustered = Dedup.connectedComponents(pairs, "id_a", "id_b")
      corpus.select(col("id"))
        .join(clustered, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("cluster"))
        .orderBy("id")
    }, Some(
      s"""WITH RECURSIVE corpus AS ($dupCorpusSql),
         |t AS (SELECT id, ${tokensSql(cleanTextSql("text"))} AS toks FROM corpus),
         |sh AS (SELECT id, $shinglesSql AS shingles FROM t),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |    (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM corpus
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN e ON reach.id = e.a)
         |SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // Embedding near-dup: random-hyperplane LSH candidates, exact cosine
    // verify ≥ 0.99. Corpus = embeddings + perturbed copies; margin
    // analysis: original pairs max out at cosine 0.513, perturbed copies
    // sit in [0.9983, 0.9986] — no boundary sensitivity. 8 tables × 12
    // bits: true-pair (θ/π≈0.0175) per-table match 0.98255¹² ≈ 0.81 →
    // miss (1-0.81)⁸ ≈ 2e-6; random pairs (cosine≈0, per-bit 0.5) collide
    // per table at 0.5¹² ≈ 2.4e-4, ~16× fewer background candidates than
    // 8 bits — candidate volume, not sketch cost, is what explodes.
    Q("q19_embedding_neardup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val orig = emb.select(col("vec_id").as("id"),
        graft.vector.VectorOps.asDouble(col("embedding")).as("vec"))
      val pert = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("id"),
          transform(graft.vector.VectorOps.asDouble(col("embedding")),
            (x, i) => x + lit(0.01) * sin(col("vec_id") + i)).as("vec"))
      Dedup.cosineDupPairs(orig.unionAll(pert), "id", "vec", dim = 64,
          threshold = 0.99, tables = 8, bitsPerTable = 12)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }, Some {
      val cos = cosineSql("a.vec", "b.vec")
      s"""WITH e AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS id,
         |    list_transform(list_zip(CAST(embedding AS DOUBLE[]), range(0, len(embedding))),
         |      p -> p[1] + 0.01*sin(vec_id + p[2])) AS vec
         |  FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT a.id AS id_a, b.id AS id_b, round($cos, 6) AS cosine
         |FROM e a JOIN e b ON a.id < b.id
         |WHERE $cos >= 0.99
         |ORDER BY id_a, id_b""".stripMargin
    }),

    // Incremental dedup — the daily-ingest shape: a small new batch
    // (doc_id ≡ 0 mod 10) is screened against the standing corpus AND
    // itself on a content key (40-char clean prefix, which collides on
    // this corpus). Only batch-sized frames are ever broadcast; the
    // history contributes one column-pruned scan and nothing of it is
    // shuffled — the reason incremental dedup costs minutes, not a
    // corpus re-shuffle, at 100 TB.
    Q("q91_incremental_dedup", (s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(TextOps.cleanText(col("text")), 1, 40).as("k"))
      val batch = keyed.filter(col("doc_id") % 10 === 0)
      val hist = keyed.filter(col("doc_id") % 10 =!= 0)
      val histHits = hist
        .join(broadcast(batch.select("k").distinct()), "k")
        .select("k").distinct().withColumn("in_hist", lit(1L))
      val firstInBatch = batch.groupBy("k").agg(min("doc_id").as("first_id"))
      batch
        .join(broadcast(histHits), Seq("k"), "left")
        .join(broadcast(firstInBatch), "k")
        .select(col("doc_id"),
          coalesce(col("in_hist"), lit(0L)).as("dup_hist"),
          when(col("doc_id") > col("first_id"), 1L).otherwise(0L).as("dup_batch"))
        .withColumn("verdict",
          when(col("dup_hist") === 1, "drop_vs_history")
            .when(col("dup_batch") === 1, "drop_in_batch")
            .otherwise("keep"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH keyed AS (SELECT doc_id, substr(${cleanTextSql("text")}, 1, 40) AS k
         |               FROM documents),
         |batch AS (SELECT * FROM keyed WHERE doc_id % 10 = 0),
         |hist AS (SELECT * FROM keyed WHERE doc_id % 10 <> 0),
         |hh AS (SELECT DISTINCT h.k FROM hist h JOIN (SELECT DISTINCT k FROM batch) b
         |       ON h.k = b.k),
         |fb AS (SELECT k, min(doc_id) AS first_id FROM batch GROUP BY k),
         |o AS (SELECT b.doc_id,
         |        CASE WHEN hh.k IS NOT NULL THEN 1 ELSE 0 END AS dup_hist,
         |        CASE WHEN b.doc_id > fb.first_id THEN 1 ELSE 0 END AS dup_batch
         |      FROM batch b LEFT JOIN hh ON b.k = hh.k JOIN fb ON b.k = fb.k)
         |SELECT doc_id, CAST(dup_hist AS BIGINT) AS dup_hist,
         |  CAST(dup_batch AS BIGINT) AS dup_batch,
         |  CASE WHEN dup_hist = 1 THEN 'drop_vs_history'
         |       WHEN dup_batch = 1 THEN 'drop_in_batch' ELSE 'keep' END AS verdict
         |FROM o ORDER BY doc_id""".stripMargin)),

    // Canonicalization policy on top of q43's clusters: per near-dup
    // cluster keep the BEST document (longest text, id tiebreak), not
    // the min-id — the quality-aware representative selection a corpus
    // release actually ships. Argmax is the two-step max-then-min-id
    // join (identical semantics in both engines, no arg_max tie
    // ambiguity); cluster state never exceeds one row per cluster.
    Q("q169_dedup_keep_best", (s, dir) => {
      val corpus = dupCorpus(Tables.documents(s, dir))
      val pairs = Dedup.minHashClusterEdges(corpus, "id", "text", threshold = 0.5)
      val clustered = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val withC = corpus
        .select(col("id"), length(col("text")).cast("long").as("len"))
        .join(clustered, Seq("id"), "left")
        .withColumn("cluster", coalesce(col("label"), col("id")))
        // persisted: feeds both the census and the argmax probe — without
        // it the whole LSH+connected-components pipeline runs twice
        .scopedPersist
      val agg = withC.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"), max("len").as("keep_len"))
      val keep = withC.join(agg, "cluster")
        .filter(col("len") === col("keep_len"))
        .groupBy("cluster").agg(min("id").as("keep_id"))
      agg.join(keep, "cluster")
        .select(col("cluster"), col("n_members"), col("keep_id"),
          col("keep_len"), (col("n_members") - 1).as("n_dropped"))
        .orderBy("cluster")
    }, Some(
      s"""WITH RECURSIVE corpus AS ($dupCorpusSql),
         |t AS (SELECT id, ${tokensSql(cleanTextSql("text"))} AS toks FROM corpus),
         |sh AS (SELECT id, $shinglesSql AS shingles FROM t),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         |    (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM corpus
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN e ON reach.id = e.a),
         |cl AS (SELECT c.id, CAST(length(c.text) AS BIGINT) AS len,
         |         m.cluster
         |       FROM corpus c JOIN
         |         (SELECT id, min(r) AS cluster FROM reach GROUP BY id) m
         |         USING (id)),
         |agg AS (SELECT cluster, count(*) AS n_members, max(len) AS keep_len
         |        FROM cl GROUP BY cluster),
         |keep AS (SELECT cl.cluster, min(cl.id) AS keep_id
         |         FROM cl JOIN agg USING (cluster)
         |         WHERE cl.len = agg.keep_len GROUP BY cl.cluster)
         |SELECT agg.cluster AS cluster, n_members, keep_id, keep_len,
         |  n_members - 1 AS n_dropped
         |FROM agg JOIN keep USING (cluster) ORDER BY cluster""".stripMargin)),

    // Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better", arXiv:2107.06499 — the
    // token-window adaptation of its suffix-array substring pass):
    // every 8-token window is StableHash64'd (an 8-byte shuffle key
    // instead of the gram text), windows whose hash occurs ≥2× ANYWHERE
    // in the corpus (cross-doc or same-doc) are duplicated material,
    // and each document reports the fraction of its tokens covered by
    // at least one duplicated window (interval union via
    // gaps-and-islands over a doc-partitioned window — no global sort).
    // Scale shape: one hash-partitioned exchange builds both the
    // occurrence counts and the semi-join probe; coverage is
    // doc-partitioned; nothing is collected. The oracle replays the
    // identical hash (HUGEINT mod-2^64 twin) so the duplicate classes
    // match bit-for-bit.
    Q("q213_substring_dedup", (s, dir) => {
      val n = 8
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n_tok"))
      val wins = docs.filter(col("n_tok") >= n)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), (col("n_tok") - n).cast("int")),
            i => StableHash64(array_join(slice(col("toks"), i + 1, lit(n)), " ")))))
        .select(col("doc_id"), col("pos"), col("col").as("h"))
        .scopedPersist
      val dupHashes =
        wins.groupBy("h").count().filter(col("count") >= 2).select("h")
      val covered = wins.join(dupHashes, Seq("h"), "left_semi")
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val prevEnd = max(col("pos") + lit(n - 1))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
      val dupTok = covered
        .withColumn("new_isl",
          when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
        .withColumn("isl",
          sum(col("new_isl")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("isl"))
        .agg((max(col("pos")) + lit(n - 1) - min(col("pos")) + 1).as("ctok"))
        .groupBy(col("doc_id")).agg(sum(col("ctok")).as("dup_tok"))
      docs.join(dupTok, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("dup_tok"), lit(0L)).as("dup_tok"),
          round(coalesce(col("dup_tok"), lit(0L)) / col("n_tok"), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, ${tokensSql(cleanTextSql("text"))} AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
         |g AS (SELECT doc_id, n_tok,
         |        list_transform(range(0, CAST(n_tok AS INTEGER) - 7),
         |          i -> array_to_string(list_slice(toks, i+1, i+8), ' ')) AS grams
         |      FROM d WHERE n_tok >= 8),
         |w AS (SELECT doc_id, unnest(range(0, CAST(n_tok AS INTEGER) - 7)) AS pos,
         |        unnest(${StableHash.hashes64Sql("grams")}) AS h FROM g),
         |dup AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
         |c AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM dup)),
         |i1 AS (SELECT doc_id, pos,
         |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM c),
         |i2 AS (SELECT doc_id, pos,
         |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |       FROM i1),
         |cov AS (SELECT doc_id, CAST(sum(ctok) AS BIGINT) AS dup_tok FROM (
         |         SELECT doc_id, isl, max(pos) + 7 - min(pos) + 1 AS ctok
         |         FROM i2 GROUP BY doc_id, isl) GROUP BY doc_id)
         |SELECT d.doc_id, d.n_tok, coalesce(cov.dup_tok, 0) AS dup_tok,
         |  round(CAST(coalesce(cov.dup_tok, 0) AS DOUBLE) / d.n_tok, 6) AS dup_frac
         |FROM d LEFT JOIN cov USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // Fuzzy record linkage (the Fellegi–Sunter compare step over
    // blocked candidates): parts are blocked on (first name token,
    // brand), then — because that key has a FIXED vocabulary (~92
    // first words × 25 brands), so block COUNT is constant and block
    // SIZE grows with the corpus — candidates inside each block are
    // capped by sorted-neighborhood rank bands (q194's merge/purge
    // trick composed into the block): sort the block by full name,
    // pair each part with its ±5 neighbors. Jaro–Winkler weights the
    // shared prefix, so name-sorted neighbors are exactly the
    // plausible fuzzy matches, and the pair count is ≤ 2·5·n — linear
    // in the corpus, vs the Σ|block|² ∝ n²/2300 of full in-block
    // pairing. The band join is an EQUI-join on (blk, brand, rn):
    // the probe side explodes off ∈ 1..5 map-side, and both pair
    // orientations come from one explode over the scored pair (JW is
    // symmetric — no self-union re-execution). Each part reports its
    // best candidate: highest rounded similarity, smallest partkey on
    // ties — an argmax via max(struct(...)), which partial-aggregates
    // map-side instead of window-sorting every pair. Oracle: DuckDB's
    // built-in jaro_winkler_similarity (same Winkler 1990 variant:
    // 0.7 boost threshold, 0.1 scale, 4-char prefix cap).
    Q("q214_fuzzy_linkage", (s, dir) => {
      val p = Tables.part(s, dir).select(
        col("p_partkey"), col("p_name"), col("p_brand"),
        split(col("p_name"), " ").getItem(0).as("blk"))
      val keyed = p.withColumn("rn", row_number().over(
        Window.partitionBy("blk", "p_brand")
          .orderBy("p_name", "p_partkey")).cast("long"))
      val a = keyed
        .withColumn("off", explode(typedLit(Seq(1L, 2L, 3L, 4L, 5L))))
        .select(col("blk"), col("p_brand"), col("p_partkey").as("ak"),
          col("p_name").as("an"), (col("rn") + col("off")).as("rn"))
      val b = keyed.select(col("blk"), col("p_brand"),
        col("p_partkey").as("bk"), col("p_name").as("bn"), col("rn"))
      val scored = a.join(b, Seq("blk", "p_brand", "rn"))
        .select(col("ak"), col("an"), col("bk"), col("bn"),
          round(graft.text.JaroWinkler(col("an"), col("bn")), 6).as("jw"))
      val pairs = scored.select(explode(array(
          struct(col("ak").as("p_partkey"), col("bk").as("bk"),
            col("bn").as("bn"), col("jw").as("jw")),
          struct(col("bk").as("p_partkey"), col("ak").as("bk"),
            col("an").as("bn"), col("jw").as("jw")))).as("e"))
        .select(col("e.*"))
      pairs
        .groupBy("p_partkey")
        .agg(max(struct(col("jw"), (-col("bk")).as("nk"),
          col("bk"), col("bn"))).as("best"))
        .select(col("p_partkey"), col("best.bk").as("match_key"),
          col("best.bn").as("match_name"), col("best.jw").as("jw"))
        .orderBy("p_partkey")
    }, Some(
      """WITH p AS (SELECT p_partkey, p_name, p_brand,
        |             split_part(p_name, ' ', 1) AS blk FROM part),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY blk, p_brand
        |        ORDER BY p_name, p_partkey) AS BIGINT) AS rn FROM p),
        |scored AS (
        |  SELECT a.p_partkey AS ak, a.p_name AS an,
        |    b.p_partkey AS bk, b.p_name AS bn,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |  FROM r a CROSS JOIN (SELECT UNNEST([1, 2, 3, 4, 5]) AS o) t
        |  JOIN r b ON b.blk = a.blk AND b.p_brand = a.p_brand
        |    AND b.rn = a.rn + t.o),
        |pairs AS (
        |  SELECT ak AS p_partkey, bk, bn, jw FROM scored
        |  UNION ALL
        |  SELECT bk AS p_partkey, ak AS bk, an AS bn, jw FROM scored),
        |best AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
        |        ORDER BY jw DESC, bk ASC) AS rnk FROM pairs)
        |SELECT p_partkey, bk AS match_key, bn AS match_name, jw
        |FROM best WHERE rnk = 1 ORDER BY p_partkey""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    // makes embedding near-dup removal tractable by k-means-bucketing the
    // corpus and comparing pairs ONLY within a cluster — Σ|cell|² work
    // instead of n²; at 100 TB, k scales with the corpus so cell size
    // (and the per-cell pair fan-out) stays bounded, and the only wide
    // shuffle is the one cell-key exchange. Clustering reuses the
    // deterministic exact-decimal Lloyd trainer + broadcast assignment of
    // the IVF index (similarity/Ivf), so the whole pipeline — seeding,
    // assignment, in-cell cosine, keep-lowest-id policy (the paper's
    // one-pass filter, deterministic stand-in for its keep-one-random) —
    // replays bit-for-bit in the oracle's unrolled CTEs. Corpus = q19's
    // perturbed-copy construction (6dp-quantized post-perturbation), so
    // the dups to remove are known by construction: copies sit at cosine
    // ≈0.9985, unrelated pairs max out at 0.513.
    Q("q230_semdedup", (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val q6 = (c: org.apache.spark.sql.Column) =>
        c.cast(DecimalType(20, 6)).cast("double")
      val emb = Tables.embeddings(s, dir)
      val orig = emb.select(col("vec_id").as("id"),
        transform(graft.vector.VectorOps.asDouble(col("embedding")), q6).as("vec"))
      val pert = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("id"),
          transform(graft.vector.VectorOps.asDouble(col("embedding")),
            (x, i) => q6(x + lit(0.01) * sin(col("vec_id") + i))).as("vec"))
      val corpus = orig.unionAll(pert)
      // k=16 is the oracle config; the production response is k ∝
      // corpus, keeping Σ|cell|² bounded (the sf1 scaling probe ran
      // k=160 at ×10 data)
      val model = graft.similarity.Ivf.train(corpus, "id", "vec", k = 16, iters = 3)
      val withCell = corpus
        .join(graft.similarity.Ivf.assign(corpus, "id", "vec", model), "id")
      val dropped = withCell.as("a").join(withCell.as("b"),
          col("a.cell") === col("b.cell") && col("a.id") > col("b.id") &&
            graft.vector.VectorOps.cosine(col("a.vec"), col("b.vec")) >= 0.99)
        .select(col("a.id").as("id")).distinct()
      withCell.join(dropped.withColumn("drp", lit(1L)), Seq("id"), "left")
        .select(col("id"), col("cell").cast("long").as("cell"),
          (lit(1L) - coalesce(col("drp"), lit(0L))).as("kept"))
        .orderBy("id")
    }, Some(
      s"""WITH vecs AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(CAST(x AS DECIMAL(20,6)) AS DOUBLE)) AS vec
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS id,
         |    list_transform(list_zip(CAST(embedding AS DOUBLE[]), range(0, len(embedding))),
         |      p -> CAST(CAST(p[1] + 0.01*sin(vec_id + p[2]) AS DECIMAL(20,6)) AS DOUBLE)) AS vec
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |${lloydSql(16, 3, 800)},
         |wc AS MATERIALIZED (
         |  SELECT v.id, v.vec, a.cell FROM vecs v JOIN asg a USING (id)),
         |dropped AS (
         |  SELECT DISTINCT a.id FROM wc a JOIN wc b
         |    ON a.cell = b.cell AND a.id > b.id
         |  WHERE ${cosineSql("a.vec", "b.vec")} >= 0.99)
         |SELECT w.id, CAST(w.cell AS BIGINT) AS cell,
         |  CAST(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM wc w LEFT JOIN dropped d ON w.id = d.id
         |ORDER BY w.id""".stripMargin)),

    // Distributed suffix array (Manber–Myers prefix doubling) over the
    // documents corpus — the general-purpose index behind
    // arbitrary-length repeated-substring discovery (Lee et al. 2022),
    // generalizing q213's fixed-width window hashes. The ~log(maxLen)
    // doubling rounds each cost ONE distributed range-sort of the
    // (rank, next-rank) pair frame plus a boundary-stitch dense
    // re-rank — no single-partition window and no exchange keyed on the
    // skewed rank pair anywhere (see dedup/SuffixArray.scala).
    // Output: the first 300 suffix-array
    // entries; the oracle sorts materialized suffix strings directly,
    // so the doubling ranks are checked against the ground-truth
    // lexicographic order (ties = identical suffixes, broken by
    // doc_id/off in both engines). The final row_number runs over the
    // already-limited 300-row frame — bounded, not corpus-sized.
    Q("q231_suffix_array", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // build-once index: q232 (and any later SA consumer) reuses this
      // exact build — the suite pays one Ω(n) construction per corpus
      val sa = graft.dedup.SuffixArray.build(s, s"documents|$dir",
        Tables.documents(s, dir), "doc_id", "text")
      val head = sa
        .orderBy("r", "doc_id", "off").limit(300)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      head
        .select(
          row_number().over(Window.orderBy("r", "doc_id", "off"))
            .cast("long").as("sa_rank"),
          col("doc_id"), col("off"),
          expr("substr(text, CAST(off AS INT), 16)").as("head"))
        .orderBy("sa_rank")
    }, Some(
      """WITH suf AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS off, text
        |  FROM documents)
        |SELECT row_number() OVER (
        |    ORDER BY substr(text, CAST(off AS INT)), doc_id, off) AS sa_rank,
        |  doc_id, CAST(off AS BIGINT) AS off,
        |  substr(text, CAST(off AS INT), 16) AS head
        |FROM suf ORDER BY sa_rank LIMIT 300""".stripMargin)),

    // Longest repeated substrings — the dedup-actionable product of the
    // q231 suffix array (Lee et al. 2022: a span is repeated iff two
    // ADJACENT suffix-array entries share it as a prefix, so the global
    // max over adjacent-pair LCPs finds every big copy-paste span).
    // Pure annex read: the pairs, their LCPs and the span previews all
    // come from the build-once SA+LCP index (see saAdjacentLcp) — this
    // plan touches no corpus text, ends in a TakeOrdered, and its only
    // work is a scan of the skinny annex.
    Q("q232_longest_repeat", (s, dir) => {
      saAdjacentLcp(s, dir)
        .select(col("lcp"), col("doc_a"), col("off_a"), col("doc_b"), col("off_b"),
          col("head"))
        .orderBy(desc("lcp"), col("doc_a"), col("off_a"), col("doc_b"), col("off_b"))
        .limit(20)
    }, Some(
      """WITH suf AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS off, text
        |  FROM documents),
        |ord AS (
        |  SELECT doc_id, off, text,
        |    lead(doc_id) OVER w AS doc_b, lead(off) OVER w AS off_b,
        |    lead(text) OVER w AS text_b
        |  FROM suf
        |  WINDOW w AS (ORDER BY substr(text, CAST(off AS INT)), doc_id, off)),
        |pairs AS (
        |  SELECT doc_id AS doc_a, off AS off_a, doc_b, off_b, text AS text_a,
        |    substr(text, CAST(off AS INT)) AS sa, substr(text_b, CAST(off_b AS INT)) AS sb
        |  FROM ord WHERE doc_b IS NOT NULL),
        |scored AS (
        |  SELECT doc_a, off_a, doc_b, off_b, text_a,
        |    coalesce(list_position(list_transform(list_zip(
        |        regexp_split_to_array(sa, ''), regexp_split_to_array(sb, '')),
        |      z -> coalesce(z[1], '') = coalesce(z[2], '')), false) - 1,
        |      least(length(sa), length(sb))) AS lcp
        |  FROM pairs)
        |SELECT CAST(lcp AS BIGINT) AS lcp, doc_a, CAST(off_a AS BIGINT) AS off_a,
        |  doc_b, CAST(off_b AS BIGINT) AS off_b,
        |  substr(text_a, CAST(off_a AS INT), CAST(least(lcp, 24) AS INT)) AS head
        |FROM scored
        |ORDER BY lcp DESC, doc_a, off_a, doc_b, off_b LIMIT 20""".stripMargin)),

    // Repeated-span CUT LIST — the dedup ACTION of the suffix-array
    // pipeline (Lee et al. 2022 "Deduplicating Training Data Makes
    // Language Models Better": remove every substring of ≥50 BPE tokens
    // that repeats; here the threshold is the ~equivalent 100 chars).
    // Capability gap it fills: q213 finds duplicated fixed-width token
    // windows (approximate coverage stats) and q232 reports the top-20
    // longest repeats (a diagnostic); neither emits what a dedup pass
    // actually consumes — the per-document character ranges to cut.
    // Every suffix whose adjacent-SA LCP ≥ L sits in a repeated span
    // [off, off+lcp); the LCP-interval property (lcp(sa[i], sa[j]) =
    // min of adjacent LCPs between them) guarantees BOTH occurrences'
    // positions surface from adjacent pairs alone. Emitting both sides
    // and merging overlapping intervals per document reconstructs the
    // maximal repeated regions. The merge is a per-doc window (running
    // max of span ends → new-group flags → running sum), skew-bounded
    // by document length, never corpus-sized.
    Q("q234_repeated_spans", (s, dir) => {
      mergedRepeatSpans(s, dir, minLcp = 100)
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("span_len"))
        .orderBy("doc_id", "span_start")
    }, Some(
      """WITH suf AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS off, text
        |  FROM documents),
        |ord AS (
        |  SELECT doc_id, off, text,
        |    lead(doc_id) OVER w AS doc_b, lead(off) OVER w AS off_b,
        |    lead(text) OVER w AS text_b
        |  FROM suf
        |  WINDOW w AS (ORDER BY substr(text, CAST(off AS INT)), doc_id, off)),
        |pairs AS (
        |  SELECT doc_id AS doc_a, off AS off_a, doc_b, off_b,
        |    substr(text, CAST(off AS INT)) AS sa, substr(text_b, CAST(off_b AS INT)) AS sb
        |  FROM ord WHERE doc_b IS NOT NULL),
        |scored AS (
        |  SELECT doc_a, off_a, doc_b, off_b,
        |    coalesce(list_position(list_transform(list_zip(
        |        regexp_split_to_array(sa, ''), regexp_split_to_array(sb, '')),
        |      z -> coalesce(z[1], '') = coalesce(z[2], '')), false) - 1,
        |      least(length(sa), length(sb))) AS lcp
        |  FROM pairs),
        |spans AS (
        |  SELECT doc_a AS doc_id, off_a AS s0, off_a + lcp AS e0
        |  FROM scored WHERE lcp >= 100
        |  UNION ALL
        |  SELECT doc_b, off_b, off_b + lcp FROM scored WHERE lcp >= 100),
        |flagged AS (
        |  SELECT doc_id, s0, e0,
        |    CASE WHEN s0 <= max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS ng
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s0, e0, sum(ng) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |    ROWS UNBOUNDED PRECEDING) AS gid
        |  FROM flagged)
        |SELECT doc_id, CAST(min(s0) AS BIGINT) AS span_start,
        |  CAST(max(e0) AS BIGINT) AS span_end,
        |  CAST(max(e0) - min(s0) AS BIGINT) AS span_len
        |FROM grp GROUP BY doc_id, gid
        |ORDER BY doc_id, span_start""".stripMargin)),

    // Cross-corpus contamination spans — Lee et al. 2022's test-set
    // decontamination: find every TRAIN character range that appears
    // verbatim (≥ 100 chars) in the EVAL split (doc_id % 10 = 0 plays
    // eval), as exact cut intervals. Capability gap it fills: q65
    // decontaminates on FIXED 8-token window hashes (misses overlaps
    // that dodge the window grid, reports no spans); this finds
    // arbitrary-length exact overlaps with their positions — and pays
    // ZERO additional index cost, because it is the fourth consumer of
    // the build-once q231 suffix array (the index-engine payoff: one
    // Ω(n) build, many queries).
    //
    // Adjacent pairs alone under-report cross-corpus overlap: in SA
    // order E,E',T the eval suffix E never neighbors a train suffix,
    // yet lcp(E,T) = min(lcp(E,E'), lcp(E',T)) ≥ t (the LCP-interval
    // property). So qualifying pairs (lcp ≥ t) are grouped into RUNS of
    // SA-consecutive pairs: within a run EVERY member shares ≥ min
    // adjacent lcp with every other, so a run that contains both splits
    // marks all its train members as contaminated with guaranteed
    // overlap cmin = the run's min adjacent lcp. Run grouping is
    // distributed the same way the SA itself stitches ranks: range sort
    // the (sparse — only genuine ≥t repeats) qualifying pairs by SA
    // position, flag run starts with a per-partition lag (a pair
    // continues a run iff its left row IS the previous pair's right
    // row — row identity, exact), and chain partition-spanning runs on
    // the driver from a partition-count-sized census. No corpus-sized
    // window, no exchange keyed on run id before partial aggregation;
    // the per-doc interval merge is skew-bounded by document length.
    Q("q235_contamination_spans", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val minLcp = 100
      val isEval: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        d => d % 10 === 0
      val qual = saAdjacentLcp(s, dir)
        .filter(col("lcp") >= minLcp)
        .select(col("r_a"), col("doc_a"), col("off_a"),
          col("doc_b"), col("off_b"), col("lcp"))
      // same explicit-count pinning as the SA build: AQE must not
      // coalesce the range sort below the per-partition run flagging
      val nParts = s.sessionState.conf.numShufflePartitions
      // run flags as ONE streaming pass per range partition (the SA
      // stitch pattern since r14): a pair extends the current run iff
      // its LEFT row is the previous qualifying pair's RIGHT row —
      // (doc, off) identifies an SA row uniquely, so equality ⇔
      // SA-consecutive. The former shape hash re-exchanged the pairs on
      // spark_partition_id so lag/sum windows could run per-partition;
      // the scan computes the same running values with no second
      // exchange and no WindowExec.
      val routed = qual
        .repartitionByRange(nParts, col("r_a"), col("doc_a"), col("off_a"))
        .sortWithinPartitions("r_a", "doc_a", "off_a")
        .withColumn("pid", spark_partition_id())
      val rSch = routed.schema
      val ix = Seq("r_a", "doc_a", "off_a", "doc_b", "off_b", "lcp", "pid")
        .map(rSch.fieldIndex)
      val outSchema = org.apache.spark.sql.types.StructType(rSch.fields ++ Seq(
        org.apache.spark.sql.types.StructField("nr",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lrun",
          org.apache.spark.sql.types.LongType)))
      val flagged = routed.mapPartitions { it =>
        var lrun = 0L
        var prevB = -1L
        var prevOffB = -1L
        var first = true
        it.map { row =>
          val contin = !first && prevB == row.getLong(ix(1)) &&
            prevOffB == row.getLong(ix(2))
          val nr = if (contin) 0L else 1L
          lrun += nr
          first = false
          prevB = row.getLong(ix(3)); prevOffB = row.getLong(ix(4))
          org.apache.spark.sql.Row.fromSeq(row.toSeq ++ Seq(nr, lrun))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
        .scopedPersist
      // partition-count-sized census → driver chains runs that span
      // partition boundaries (transitively, like the SA rank stitch)
      val census = flagged.groupBy("pid").agg(
        sum(col("nr")).as("nruns"),
        min(struct(col("r_a"), col("doc_a"), col("off_a"))).as("first"),
        max(struct(col("r_a"), col("doc_a"), col("off_a"),
          col("doc_b"), col("off_b"))).as("last"))
        .collect().map(r => r.getInt(0) -> r).toMap
      val maxPid = if (census.isEmpty) -1 else census.keys.max
      val bases = new Array[Long](maxPid + 2)
      val firstMap = Array.fill[Long](maxPid + 2)(-1L)
      var acc = 0L
      var prevKey: Option[(Long, Long)] = None
      var prevLastGlobal = -1L
      for (pid <- 0 to maxPid; r <- census.get(pid)) {
        val n = r.getLong(r.fieldIndex("nruns"))
        val f = r.getStruct(r.fieldIndex("first"))
        val l = r.getStruct(r.fieldIndex("last"))
        val merged = prevKey.contains((f.getLong(1), f.getLong(2)))
        firstMap(pid) = if (merged) prevLastGlobal else -1L
        bases(pid) = acc - (if (merged) 1L else 0L)
        prevLastGlobal =
          if (n == 1 && merged) prevLastGlobal else bases(pid) + n
        acc = bases(pid) + n
        prevKey = Some((l.getLong(3), l.getLong(4)))
      }
      val fm = element_at(typedlit(firstMap.toSeq), col("pid") + 1)
      val bs = element_at(typedlit(bases.toSeq), col("pid") + 1)
      val runs = flagged.withColumn("run",
        when(col("lrun") === 1 && fm >= 0, fm).otherwise(bs + col("lrun")))
      // run verdicts from the pairs directly (map-side partial agg);
      // a run is contaminating iff it touches both splits
      val stats = runs.groupBy("run").agg(
        min(col("lcp")).as("cmin"),
        max(when(isEval(col("doc_a")) || isEval(col("doc_b")), 1L)
          .otherwise(0L)).as("has_eval"))
      val members = runs
        .select(col("run"), explode(array(
          struct(col("doc_a").as("doc_id"), col("off_a").as("off")),
          struct(col("doc_b").as("doc_id"), col("off_b").as("off")))).as("m"))
        .select(col("run"), col("m.doc_id"), col("m.off"))
        .distinct()
      // join-back skew note: a mega-run (one span repeated across a
      // constant fraction of the corpus) hashes all its members to one
      // join partition. Both inputs are already aggregate-bounded
      // (distinct members / per-run stats rows, never raw pairs), and
      // the residual hot key is the AQE skew-join case this engine runs
      // with: the stats side is one tiny row per run, so AQE splits the
      // skewed member partition and replicates that row — no
      // straggler. PlanShapeSpec pins the aggregate-below-exchange
      // shape.
      val spans = members.join(stats, "run")
        .filter(col("has_eval") === 1L && !isEval(col("doc_id")))
        .select(col("doc_id"), col("off").as("s0"),
          (col("off") + col("cmin")).as("e0"))
      // per-train-doc maximal cut intervals — q234's merge shape
      val wDoc = Window.partitionBy("doc_id").orderBy("s0", "e0")
      val wPrev = wDoc.rowsBetween(Window.unboundedPreceding, -1)
      spans
        .withColumn("pmax", max(col("e0")).over(wPrev))
        .withColumn("ng",
          when(col("pmax").isNull || col("s0") > col("pmax"), 1L)
            .otherwise(0L))
        .withColumn("gid", sum(col("ng")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s0")).as("span_start"), max(col("e0")).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("span_len"))
        .orderBy("doc_id", "span_start")
    }, Some(
      """WITH suf AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS off, text
        |  FROM documents),
        |ord AS (
        |  SELECT doc_id, off, text,
        |    lead(doc_id) OVER w AS doc_b, lead(off) OVER w AS off_b,
        |    lead(text) OVER w AS text_b,
        |    row_number() OVER w AS rn
        |  FROM suf
        |  WINDOW w AS (ORDER BY substr(text, CAST(off AS INT)), doc_id, off)),
        |pairs AS (
        |  SELECT rn, doc_id AS doc_a, off AS off_a, doc_b, off_b,
        |    coalesce(list_position(list_transform(list_zip(
        |        regexp_split_to_array(substr(text, CAST(off AS INT)), ''),
        |        regexp_split_to_array(substr(text_b, CAST(off_b AS INT)), '')),
        |      z -> coalesce(z[1], '') = coalesce(z[2], '')), false) - 1,
        |      least(length(substr(text, CAST(off AS INT))),
        |            length(substr(text_b, CAST(off_b AS INT))))) AS lcp
        |  FROM ord WHERE doc_b IS NOT NULL),
        |qual AS (
        |  SELECT *, CASE WHEN lag(rn) OVER wq = rn - 1 THEN 0 ELSE 1 END AS nr
        |  FROM pairs WHERE lcp >= 100 WINDOW wq AS (ORDER BY rn)),
        |runs AS (
        |  SELECT *, sum(nr) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM qual),
        |stats AS (
        |  SELECT run_id, min(lcp) AS cmin,
        |    max(CASE WHEN doc_a % 10 = 0 OR doc_b % 10 = 0 THEN 1 ELSE 0 END)
        |      AS has_eval
        |  FROM runs GROUP BY run_id),
        |members AS (
        |  SELECT DISTINCT run_id, doc_id, off FROM (
        |    SELECT run_id, doc_a AS doc_id, off_a AS off FROM runs
        |    UNION ALL SELECT run_id, doc_b, off_b FROM runs)),
        |spans AS (
        |  SELECT m.doc_id, m.off AS s0, m.off + s.cmin AS e0
        |  FROM members m JOIN stats s USING (run_id)
        |  WHERE s.has_eval = 1 AND m.doc_id % 10 <> 0),
        |fl2 AS (
        |  SELECT doc_id, s0, e0,
        |    CASE WHEN s0 <= max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS ng
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s0, e0, sum(ng) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |    ROWS UNBOUNDED PRECEDING) AS gid
        |  FROM fl2)
        |SELECT doc_id, CAST(min(s0) AS BIGINT) AS span_start,
        |  CAST(max(e0) AS BIGINT) AS span_end,
        |  CAST(max(e0) - min(s0) AS BIGINT) AS span_len
        |FROM grp GROUP BY doc_id, gid
        |ORDER BY doc_id, span_start""".stripMargin)),

    // Apply the repeated-span cut list: emit the CLEANED CORPUS — the
    // artifact a training pipeline actually feeds the tokenizer.
    // Capability gap it fills: q234 emits the per-document char ranges
    // (the dedup decision), but nothing executes it; this excises every
    // merged ≥100-char repeated span (the conservative
    // remove-all-occurrences variant — the cut list marks both sides,
    // and after interval merging a canonical "first occurrence" of an
    // overlapping span cluster is ill-defined) and stitches the kept
    // segments back together. Scale shape: the merged span list is
    // skinny (aggregate-bounded per doc); segment slicing joins docs
    // ONCE by doc_id (docs move once; the in-task expansion collapses
    // immediately to the kept slices, so no exchange ever carries a
    // document more than once); the rebuild shuffle carries exactly
    // the kept text (≤ corpus — this query's OUTPUT). Fifth consumer
    // of the build-once SA index; zero additional index cost.
    Q("q236_apply_cuts", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the merge subtree feeds both segment kinds — persist it once
      val merged = mergedRepeatSpans(s, dir, minLcp = 100).scopedPersist
      val w = Window.partitionBy("doc_id").orderBy("span_start")
      // kept segment before each span: [prev span_end (or 1), span_start)
      val mids = merged
        .withColumn("ss", coalesce(lag(col("span_end"), 1).over(w), lit(1L)))
        .select(col("doc_id"), col("ss"), col("span_start").as("se"))
      // kept tail after the last span: [max span_end, end-of-doc]
      val tails = merged.groupBy("doc_id")
        .agg(max(col("span_end")).as("ss"))
        .withColumn("se", lit(null).cast("long"))
      // ONE doc-keyed join: docs LEFT JOIN segments, so a doc with no
      // spans surfaces as a single whole-doc segment (null ss) and each
      // document's text crosses exactly one exchange; the in-task
      // expansion collapses immediately to the kept slices
      val pieces = docs
        .join(mids.unionByName(tails), Seq("doc_id"), "left")
        .select(col("doc_id"), length(col("text")).cast("long").as("orig_len"),
          coalesce(col("ss"), lit(1L)).as("ss"),
          when(col("ss").isNull, col("text"))
            .when(col("se").isNull, expr("substr(text, CAST(ss AS INT))"))
            .otherwise(expr("substr(text, CAST(ss AS INT), CAST(se - ss AS INT))"))
            .as("seg"))
      // merged spans are disjoint with ≥1 kept char between groups, so
      // ss is unique per doc — the struct sort is total; the rebuild
      // shuffle carries exactly the kept text
      pieces.groupBy("doc_id")
        .agg(max(col("orig_len")).as("orig_len"),
          concat_ws("", array_sort(collect_list(
            struct(col("ss").as("k"), col("seg")))).getField("seg")).as("ct"))
        .select(col("doc_id"),
          length(col("ct")).cast("long").as("clean_len"),
          (col("orig_len") - length(col("ct"))).as("removed"),
          col("ct").as("clean_text"))
        .orderBy("doc_id")
    }, Some(
      """WITH suf AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text))) AS off, text
        |  FROM documents),
        |ord AS (
        |  SELECT doc_id, off, text,
        |    lead(doc_id) OVER w AS doc_b, lead(off) OVER w AS off_b,
        |    lead(text) OVER w AS text_b
        |  FROM suf
        |  WINDOW w AS (ORDER BY substr(text, CAST(off AS INT)), doc_id, off)),
        |pairs AS (
        |  SELECT doc_id AS doc_a, off AS off_a, doc_b, off_b,
        |    substr(text, CAST(off AS INT)) AS sa, substr(text_b, CAST(off_b AS INT)) AS sb
        |  FROM ord WHERE doc_b IS NOT NULL),
        |scored AS (
        |  SELECT doc_a, off_a, doc_b, off_b,
        |    coalesce(list_position(list_transform(list_zip(
        |        regexp_split_to_array(sa, ''), regexp_split_to_array(sb, '')),
        |      z -> coalesce(z[1], '') = coalesce(z[2], '')), false) - 1,
        |      least(length(sa), length(sb))) AS lcp
        |  FROM pairs),
        |spans AS (
        |  SELECT doc_a AS doc_id, off_a AS s0, off_a + lcp AS e0
        |  FROM scored WHERE lcp >= 100
        |  UNION ALL
        |  SELECT doc_b, off_b, off_b + lcp FROM scored WHERE lcp >= 100),
        |flagged AS (
        |  SELECT doc_id, s0, e0,
        |    CASE WHEN s0 <= max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS ng
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s0, e0, sum(ng) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |    ROWS UNBOUNDED PRECEDING) AS gid
        |  FROM flagged),
        |merged AS (
        |  SELECT doc_id, min(s0) AS ms, max(e0) AS me
        |  FROM grp GROUP BY doc_id, gid),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(me) OVER (PARTITION BY doc_id ORDER BY ms), 1) AS ss,
        |    ms AS se
        |  FROM merged
        |  UNION ALL
        |  SELECT doc_id, max(me) AS ss, CAST(NULL AS BIGINT) AS se
        |  FROM merged GROUP BY doc_id),
        |pieces AS (
        |  SELECT s.doc_id, s.ss,
        |    CASE WHEN s.se IS NULL THEN substr(d.text, CAST(s.ss AS INT))
        |         ELSE substr(d.text, CAST(s.ss AS INT), CAST(s.se - s.ss AS INT))
        |    END AS seg
        |  FROM segs s JOIN documents d USING (doc_id)),
        |reb AS (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY ss) AS ct
        |  FROM pieces GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(length(coalesce(r.ct, d.text)) AS BIGINT) AS clean_len,
        |  CAST(length(d.text) - length(coalesce(r.ct, d.text)) AS BIGINT) AS removed,
        |  coalesce(r.ct, d.text) AS clean_text
        |FROM documents d LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)))
}
