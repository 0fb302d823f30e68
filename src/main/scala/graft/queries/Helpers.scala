package graft.queries

import graft.sources.Tables
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One query = a Spark plan + (optionally) its ANSI-SQL mirror for the
  * driver's DuckDB oracle. Column names must match exactly (the driver
  * sorts columns by name before hashing).
  *
  * Cache contract: a query may `.persist()` an intermediate that feeds
  * several branches of its plan (e.g. q100's edge set). Those frames
  * live in the session's cache until the caller's
  * `spark.catalog.clearCache()`, which every runner of registry queries
  * (Bench, Verify, PlanProbe) calls after each query.
  * Build-once artifacts (suffix-array index, BPE merges, edge table)
  * are held in `Artifacts` memos and live until `Artifacts.clearAll()`.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Cross-engine determinism helpers, and the fragments several query
  * modules share.
  *
  * Doubles summed in different orders differ in the last ulps, so any
  * aggregate that feeds a hash comparison goes through exact decimal
  * arithmetic (identical in Spark and DuckDB) and is rounded on output.
  * Every query also carries a total ORDER BY (ties broken by key) so row
  * order is reproducible on both engines.
  *
  * Shared here: the exact aggregates (`dsum`, `micros`, `davg` with
  * their SQL twins; `exactMoments` with `momentsAsDouble`); the
  * DuckDB mirrors of the text, vector and ranking operators
  * (`cleanTextSql`, `cosineSql`, `lloydSql`, `minMaxSql`, …); the
  * purchase-fact joins `customerBrandLines` and `nationBrandLines`;
  * `metaAnalog`; and `chunkedPairs`. A fragment that one module owns
  * stays there (e.g. `DedupQueries.mergeSpans`,
  * `VectorQueries.int8Quantized`, `RetrievalQueries.shingles`,
  * `SketchQueries.cmsEstimates`); `LaunchSurfaceSpec`'s copy lint keeps
  * each one defined once.
  */
object Helpers {

  /** Exact sum: cast to decimal(20,6) (bit-identical for doubles of this
    * provenance), sum exactly, surface as rounded double.
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(20, 6))).cast("double"), 4)

  def dsumSql(e: String): String =
    s"round(CAST(sum(CAST(($e) AS DECIMAL(20,6))) AS DOUBLE), 4)"

  /** Exact micro-unit column: value → round-half-up 6dp → Long micros.
    * Sums of these are exact integers — moment computations over them
    * are then plain double arithmetic over identical inputs in both
    * engines.
    */
  def micros(c: Column): Column =
    (c.cast(DecimalType(20, 6)) * 1000000).cast("long")

  def microsSql(e: String): String =
    s"CAST(CAST(($e) AS DECIMAL(20,6)) * 1000000 AS BIGINT)"

  /** Exact second moments of two integer columns in one map-side-
    * combinable aggregate: n, Σx, Σy, Σxy, Σx², Σy² summed as
    * DECIMAL(38,0), so every sum is exact and identical on any
    * partitioning (q44, q149, q175). [[momentsAsDouble]] reads them back.
    */
  def exactMoments(df: DataFrame, x: Column, y: Column): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      sum(x.cast(DecimalType(38, 0))).as("sx"),
      sum(y.cast(DecimalType(38, 0))).as("sy"),
      sum((x * y).cast(DecimalType(38, 0))).as("sxy"),
      sum((x * x).cast(DecimalType(38, 0))).as("sxx"),
      sum((y * y).cast(DecimalType(38, 0))).as("syy"))

  /** The six sums of [[exactMoments]] as doubles: (n, sx, sy, sxy, sxx, syy). */
  def momentsAsDouble: (Column, Column, Column, Column, Column, Column) = (
    col("n").cast("double"), col("sx").cast("double"),
    col("sy").cast("double"), col("sxy").cast("double"),
    col("sxx").cast("double"), col("syy").cast("double"))

  /** Exact mean: decimal sum cast double, divided by count, rounded. */
  def davg(c: Column): Column =
    round(sum(c.cast(DecimalType(20, 6))).cast("double") / count(lit(1)), 6)

  def davgSql(e: String): String =
    s"round(CAST(sum(CAST(($e) AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6)"

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB mirror of TextOps.htmlUnescape — generated from the same
    * entity tables and the same sentinel-mark/split/decode scheme so the
    * two engines cannot drift. Sentinels are built with chr(0)/chr(1)
    * rather than literal control characters so the SQL text stays clean.
    */
  def htmlUnescapeSql(e: String): String = {
    val pat = sqlLit(TextOps.entityPattern)
    val marked =
      s"regexp_replace(coalesce(($e), ''), $pat, chr(0) || '\\1' || chr(1), 'g')"
    // inside the lambda, s is one split segment; body is the entity name
    // or #digits head of a marked segment
    def sig(d: String): String =
      s"(CASE WHEN ltrim($d, '0') = '' THEN '0' ELSE ltrim($d, '0') END)"
    val hexD = sig("substr(body, 3)")
    val decD = sig("substr(body, 2)")
    val code =
      s"""(CASE WHEN lower(substr(body, 2, 1)) = 'x'
         | THEN CASE WHEN len($hexD) <= 6
         |   THEN CAST('0x' || $hexD AS BIGINT) ELSE 1114112 END
         | ELSE CASE WHEN len($decD) <= 7
         |   THEN CAST($decD AS BIGINT) ELSE 1114112 END END)""".stripMargin
    // DuckDB forbids subqueries inside lambdas, so `body` and `code`
    // are textually inlined (the generated SQL is long but flat)
    val remapCases = TextOps.numericRemap.map { case (k, v) =>
      s"WHEN $code = $k THEN ${sqlLit(v)}"
    }.mkString(" ")
    // branch order mirrors CPython _replace_charref: remap, then
    // surrogates/out-of-range -> U+FFFD, then the invalid-codepoint
    // DROP set (C0 controls, DEL, noncharacters) -> empty string
    val chrU =
      s"""(CASE $remapCases
         | WHEN $code <= 0 OR ($code BETWEEN 55296 AND 57343)
         |   OR $code > 1114111 THEN chr(65533)
         | WHEN ($code BETWEEN 1 AND 8) OR $code = 11
         |   OR ($code BETWEEN 14 AND 31) OR $code = 127
         |   OR ($code BETWEEN 64976 AND 65007)
         |   OR ($code % 65536 >= 65534) THEN ''
         | ELSE chr(CAST($code AS INTEGER)) END)""".stripMargin
    val namedCases = TextOps.namedEntities.map { case (k, v) =>
      s"WHEN body = ${sqlLit(k)} THEN ${sqlLit(v)}"
    }.mkString(" ")
    val decodeBody =
      s"""(CASE WHEN body LIKE '#%'
         | THEN $chrU
         | $namedCases ELSE body END)""".stripMargin
    val inlined = decodeBody.replace("body", "split_part(s, chr(1), 1)")
    // lambda over segments: unmarked segments pass through; marked ones
    // decode the head and append the tail after the chr(1) sentinel
    s"""array_to_string(list_transform(string_split($marked, chr(0)),
       | s -> CASE WHEN strpos(s, chr(1)) = 0 THEN s
       |      ELSE $inlined || substr(s, strpos(s, chr(1)) + 1) END), '')""".stripMargin
  }

  /** DuckDB mirror of TextOps.cleanText — generated from the same entity
    * and regex step lists so the two engines cannot drift.
    */
  def cleanTextSql(e: String): String = {
    val unescaped = htmlUnescapeSql(e)
    val replaced = TextOps.cleanSteps.foldLeft(s"lower($unescaped)") {
      case (acc, (pat, rep)) =>
        s"regexp_replace($acc, ${sqlLit(pat)}, ${sqlLit(rep)}, 'g')"
    }
    s"trim($replaced)"
  }

  /** DuckDB mirror of TextOps.tokens (single-space split, Python parity). */
  def tokensSql(cleanExpr: String): String = s"string_split($cleanExpr, ' ')"

  def vocabHitsSql(toksExpr: String, vocab: Seq[String]): String =
    s"len(list_intersect(list_distinct($toksExpr), [${vocab.map(sqlLit).mkString(",")}]))"

  /** DuckDB mirror of TextOps.langId — same fold, same tie semantics. */
  def langIdSql(toksExpr: String): String = {
    val hits = TextOps.stopwords.map { case (l, ws) => l -> vocabHitsSql(toksExpr, ws) }
    hits.tail.foldLeft((sqlLit(hits.head._1), hits.head._2)) {
      case ((bl, bh), (l, h)) =>
        (s"(CASE WHEN $h > $bh THEN ${sqlLit(l)} ELSE $bl END)", s"greatest($h, $bh)")
    }._1
  }

  /** DuckDB mirror of VectorOps.dot over DOUBLE[] expressions. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2]))"

  def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x*x)))"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  /** DuckDB mirror of the squared L2 distance between DOUBLE[] lists. */
  def sqDistSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1]-z[2])*(z[1]-z[2])))"

  /** DuckDB mirror of Ivf.train + per-vector assignment: unrolled
    * MATERIALIZED Lloyd CTEs over a caller-defined `vecs(id, vec)` CTE
    * (6dp-quantized DOUBLE[]s — the quantization plus exact DECIMAL
    * micro-unit mean updates is what makes seeding, assignment and
    * centroid updates replay bit-for-bit across engines; see q26).
    * Emits `c$iters` (final centroids) and `asg` (id → nearest cell,
    * ties to the lowest cell like Ivf.Model.nearestCell). Callers append
    * their own probe / in-cell logic on top.
    */
  def lloydSql(k: Int, iters: Int, sampleN: Int): String = {
    def assignCte(name: String, cents: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT v.id, c.cell, row_number() OVER (PARTITION BY v.id ORDER BY ${sqDistSql("v.vec", "c.cvec")}, c.cell) AS rn
         |    FROM vecs v, $cents c) t WHERE rn = 1)""".stripMargin
    def iterCte(i: Int): String = {
      val p = i - 1
      s"""${assignCte(s"a$i", s"c$p")},
         |u$i AS MATERIALIZED (
         |  SELECT a.cell, pos1, CAST(sum(CAST(val AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS m
         |  FROM a$i a JOIN (SELECT id, unnest(vec) AS val, generate_subscripts(vec,1) AS pos1 FROM vecs) x USING (id)
         |  GROUP BY a.cell, pos1),
         |c$i AS MATERIALIZED (
         |  SELECT c.cell, coalesce(u.cv, c.cvec) AS cvec
         |  FROM c$p c LEFT JOIN (SELECT cell, list(m ORDER BY pos1) AS cv FROM u$i GROUP BY cell) u USING (cell))""".stripMargin
    }
    s"""params AS MATERIALIZED (
       |  SELECT least($sampleN, count(*)) AS n, least($k, least($sampleN, count(*))) AS keff FROM vecs),
       |smp AS MATERIALIZED (
       |  SELECT vec, row_number() OVER (ORDER BY id) - 1 AS rn
       |  FROM (SELECT id, vec FROM vecs ORDER BY id LIMIT $sampleN) s),
       |c0 AS MATERIALIZED (
       |  SELECT i.i AS cell, smp.vec AS cvec
       |  FROM range(0,$k) i(i), params p, smp
       |  WHERE i.i < p.keff AND smp.rn = (i.i * greatest(1, p.n // p.keff)) % p.n),
       |${(1 to iters).map(iterCte).mkString(",\n")},
       |${assignCte("asg", s"c$iters")}""".stripMargin
  }

  /** DuckDB mirror of Features.minMaxScale given precomputed lo/hi
    * columns.
    */
  def minMaxSql(e: String, lo: String, hi: String): String =
    s"(CASE WHEN abs(($hi) - ($lo)) <= 1e-8 + 1e-5*abs($lo) THEN 0.5 " +
      s"ELSE (least(greatest(($e), ($lo)), ($hi)) - ($lo)) / (($hi) - ($lo) + 1e-9) END)"

  /** DuckDB mirror of Features.bayesianRating / 5.0 + popularity + priceFit. */
  def bayesSql(r: String, n: String): String =
    s"((4.3*100.0 + coalesce(CAST(($r) AS DOUBLE), 4.3) * coalesce(CAST(($n) AS DOUBLE), 0.0)) " +
      s"/ (100.0 + coalesce(CAST(($n) AS DOUBLE), 0.0)))"

  def popularitySql(n: String): String =
    s"(CASE WHEN ($n) IS NOT NULL AND ($n) >= 0 THEN ln(1.0 + CAST(($n) AS DOUBLE)) ELSE 0.0 END)"

  def priceFitSql(price: String, anchor: String, priceStd: String): String = {
    val sigmaBase = s"(CASE WHEN ($priceStd) IS NOT NULL AND ($priceStd) > 0 " +
      s"THEN greatest(0.3*($anchor), 0.5*($priceStd)) ELSE 0.3*($anchor) END)"
    val sigma = s"((CASE WHEN ($price) > ($anchor) THEN 0.6 ELSE 1.2 END) * $sigmaBase)"
    s"(CASE WHEN ($anchor) IS NULL OR ($anchor) <= 0 THEN 0.5 " +
      s"WHEN ($price) IS NULL OR ($price) <= 0 THEN 0.2 " +
      s"ELSE exp(-pow(($price) - ($anchor), 2) / (2.0 * pow($sigma, 2))) END)"
  }

  /** Deterministic pseudo-metadata derived from `documents` — gives the
    * reference's product-meta shape (title/summary/rating/review_count/
    * price with realistic null patterns) on the driver's synthetic corpus.
    * Mirrored exactly in metaAnalogSql.
    */
  def metaAnalog(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("id"),
      substring(col("text"), 1, 80).as("title"),
      substring(col("text"), 81, 80).as("summary"),
      when(col("doc_id") % 5 === 0, lit(null))
        .otherwise(lit(3.0) + (col("doc_id") % 21) / lit(10.0)).as("rating"),
      when(col("doc_id") % 4 === 0, lit(null))
        .otherwise((col("doc_id") * 37) % 1000).as("review_count"),
      when(col("doc_id") % 7 === 0, lit(null))
        .otherwise(round(col("n_chars") / lit(10.0), 2)).as("price"))

  val metaAnalogSql: String =
    """SELECT doc_id AS id,
      | substr(text, 1, 80) AS title, substr(text, 81, 80) AS summary,
      | CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 3.0 + (doc_id % 21)/10.0 END AS rating,
      | CASE WHEN doc_id % 4 = 0 THEN NULL ELSE (doc_id * 37) % 1000 END AS review_count,
      | CASE WHEN doc_id % 7 = 0 THEN NULL ELSE round(n_chars/10.0, 2) END AS price
      |FROM documents""".stripMargin

  /** Purchase lines with their customer and brand: lineitem ⋈ orders ⋈
    * part in that join order (q185, q207). All three are fact-scaled, so
    * no broadcast hint: AQE broadcasts at small SF and shuffle-joins at
    * 100 TB.
    */
  def customerBrandLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))

  /** Purchase lines with the buyer's nation and the brand: lineitem ⋈
    * orders ⋈ customer ⋈ part in that join order (q186, q211), no
    * broadcast hints for the same reason.
    */
  def nationBrandLines(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))

  /** Chunk width for [[chunkedPairs]] — ≤ ChunkB²/2 pair structs per
    * generator evaluation (~131k structs ≈ a few MB), the per-task
    * allocation bound that replaces the naive whole-set expansion.
    */
  private[graft] val ChunkB = 512

  /** C(n,2) element-pair stream (i, j) with i < j in sorted order, from
    * per-key sorted-set rows `(c, ps, payload…)`, with BOUNDED per-task
    * allocations; `payload` columns ride along on every emitted pair
    * (e.g. a per-center wedge weight).
    *
    * The naive shape — one `explode(flatten(transform(ps, ...)))` per
    * key — evaluates the ENTIRE |ps|²/2 struct array in a single
    * allocation before the generator streams it: a hot entity owning
    * 30% of the fact table (the SkewGen `orders` axis) turns that into
    * a multi-GB array in one task and OOMs the executor. Instead the
    * sorted set is cut into chunkB-sized slices: pairs WITHIN a chunk
    * explode map-side, and pairs ACROSS two chunks come from an
    * equi-join of the chunk rows on the key (skew-free: ≤ |ps|/B rows
    * per key), repartitioned on (c, k1, k2) so a whale's quadratic
    * work spreads over its ~(|ps|/B)²/2 chunk-pair rows instead of
    * serializing in one task. Sets that fit one chunk take the
    * map-side path only. Because `ps` is sorted, every element of chunk
    * k1 precedes every element of chunk k2 > k1, so the (i, j)
    * orientation — and hence the pair multiset — is exactly the naive
    * expansion's (MiningSpec fuzzes this against brute force).
    *
    * ADAPTIVE (the same cheap-census idiom as the LSH
    * canonicalization): when no set exceeds one chunk the cross branch
    * is provably empty, and the returned plan is the single within
    * branch — not for the empty exchange it saves, but because a
    * self-join's size estimate is the PRODUCT of its children under
    * Catalyst's fallback heuristic: carried into a checkpointed
    * artifact's origin stats (the co-purchase edge table) it inflates
    * the frame ~10⁴× past every broadcast threshold and flips
    * downstream |E|-joins to sort-merge — re-shuffling the edge set
    * that the consumers' scale contracts keep exchange-free.
    * `maxSetLen` < 0 runs the census here (one max-of-size aggregate
    * over `sets` — free when the caller persists it); callers with a
    * cheaper census (a map-side-combined count per key instead of the
    * full set build) pass the value in.
    */
  private[graft] def chunkedPairs(sets: DataFrame, payload: Seq[String] = Nil,
      chunkB: Int = ChunkB, maxSetLen: Int = -1): DataFrame = {
    val pay = payload.map(col)
    // greatest(..., 0): an EMPTY set at chunkB=1 would otherwise make
    // the upper bound (0-1)/1 = -1, and sequence(0, -1) DESCENDS — its
    // k=-1 element feeds slice a start of 0, which throws. Clamped, an
    // empty set yields one empty chunk → zero pairs.
    def chunksOf(df: DataFrame) = df.select(col("c") +: pay :+ posexplode(expr(
        s"transform(sequence(0, greatest(int((size(ps) - 1) / $chunkB), 0)), " +
          s"k -> slice(ps, k * $chunkB + 1, $chunkB))"))
      .as(Seq("k", "chunk")): _*)
    val within = chunksOf(sets)
      .select(explode(expr(
        """flatten(transform(chunk, (x, i) ->
          |  transform(slice(chunk, i + 2, size(chunk) - i - 1),
          |    y -> struct(x AS i, y AS j))))""".stripMargin)).as("uv") +: pay: _*)
      .select(col("uv.i").as("i") +: col("uv.j").as("j") +: pay: _*)
    val biggest =
      if (maxSetLen >= 0) maxSetLen
      else sets.agg(coalesce(max(size(col("ps"))), lit(0))).head().getInt(0)
    if (biggest <= chunkB) return within
    val bigChunks = chunksOf(sets.filter(size(col("ps")) > chunkB))
    val cross = bigChunks
      .select(col("c") +: col("k").as("k1") +: col("chunk").as("ca") +: pay: _*)
      .join(bigChunks.select(col("c"), col("k").as("k2"),
        col("chunk").as("cb")), "c")
      .filter(col("k1") < col("k2"))
      .repartition(col("c"), col("k1"), col("k2"))
      .select(explode(expr(
        "flatten(transform(ca, x -> transform(cb, y -> " +
          "struct(x AS i, y AS j))))")).as("uv") +: pay: _*)
      .select(col("uv.i").as("i") +: col("uv.j").as("j") +: pay: _*)
    within.union(cross)
  }
}
