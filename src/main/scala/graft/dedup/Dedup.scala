package graft.dedup

import graft.text.TextOps
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Large-scale dedup operators (the LLM-training-pipeline extensions):
  * exact hash-dedup, MinHash+LSH banding, SimHash, and embedding-cosine
  * near-dup via random-hyperplane LSH.
  *
  * Scale design:
  *  - Sketches (signatures, bucket keys) are computed in tight JVM loops
  *    inside typed map/flatMap — Spark's higher-order array functions are
  *    interpreted (no codegen), so a 64-hash-per-shingle signature as a
  *    column expression is 1-2 orders of magnitude slower.
  *  - The band shuffle carries ONLY (id, band_idx, band_key) — never the
  *    document payload. Candidate pairs are deduplicated skinny, and the
  *    payload (shingle set / vector) is joined back just for the exact
  *    verification of surviving candidates. At 100 TB the text never
  *    rides the wide shuffle.
  *  - Verification math (Jaccard ratio, cosine) uses the same
  *    left-to-right double arithmetic as the DuckDB oracle, so emitted
  *    values are bit-identical cross-engine.
  */
object Dedup {

  // ---------------------------------------------------------------- hashing

  /** 64-bit base hash of a shingle — deterministic across JVMs
    * (MurmurHash3 is pure Scala).
    */
  private[dedup] def baseHash(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
    h1.toLong << 32 | (h2.toLong & 0xffffffffL)
  }

  /** Sorted distinct 64-bit hashes of a shingle set: the verification
    * currency — Jaccard over these equals Jaccard over the string sets
    * up to a ~1e-13 collision probability, at a fraction of the memory
    * and compare cost.
    */
  def shingleHashes(shingles: Seq[String]): Array[Long] =
    sortDedup(shingles.iterator.map(baseHash).toArray)

  private def sortDedup(arr: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(arr)
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(n - 1) != arr(i)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(arr, n)
  }

  /** Shingle + hash in one JVM pass over the token stream (the column-
    * expression shingler allocates an array slice + concat per shingle in
    * interpreted eval — ~100× slower). Produces exactly the hashes of
    * `wordShingles` strings: n-gram space-joined, whole-doc fallback.
    */
  def shingleHashesFromTokens(toks: Seq[String], n: Int = 3): Array[Long] = {
    val t = toks.toIndexedSeq
    if (t.length < n) return Array(baseHash(t.mkString(" ")))
    val out = new Array[Long](t.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= t.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(t(i + j))
        j += 1
      }
      out(i) = baseHash(sb.toString)
      i += 1
    }
    sortDedup(out)
  }

  /** Seeded hash family via the splitmix64 finalizer: full avalanche per
    * component, so each i behaves as an independent permutation of the
    * shingle space. (A linear family h + i·c is NOT min-wise independent
    * — its component orderings collapse onto one permutation, which
    * empirically cost ~9% recall on J≈0.7-0.9 pairs.)
    */
  @inline private def seeded(h: Long, i: Int): Long = {
    var z = h + i.toLong * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** k-component MinHash signature from hashed shingles. */
  def signatureFromHashes(hs: Array[Long], k: Int = 144): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var i = 0
      while (i < k) { val v = seeded(h, i); if (v < sig(i)) sig(i) = v; i += 1 }
      j += 1
    }
    sig
  }

  /** k-component MinHash signature of a shingle string set. */
  def signature(shingles: Seq[String], k: Int = 144): Array[Long] =
    signatureFromHashes(shingleHashes(shingles), k)

  /** Exact Jaccard of two sorted distinct long arrays (merge count). */
  private[graft] def jaccardSorted(a: Seq[Long], b: Seq[Long]): Double = {
    val (xa, xb) = (a.toArray, b.toArray)
    var i = 0; var j = 0; var inter = 0
    while (i < xa.length && j < xb.length) {
      if (xa(i) == xb(j)) { inter += 1; i += 1; j += 1 }
      else if (xa(i) < xb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (xa.length + xb.length - inter)
  }

  private[dedup] val jaccardSortedUdf =
    udf((a: Seq[Long], b: Seq[Long]) => jaccardSorted(a, b))

  /** Banded LSH keys: signature → `bands` fold-hashed keys; a pair
    * colliding on ANY band becomes a candidate.
    */
  def bandKeysJvm(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L + b
      var r = 0
      while (r < rowsPerBand) { h = h * 31 + sig(b * rowsPerBand + r); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  // ----------------------------------------------------------- shingling

  /** Word n-gram shingles of a token array (column form); documents
    * shorter than n collapse to a single whole-document shingle.
    */
  def wordShingles(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  // ------------------------------------------------------------- MinHash

  /** 128-bit content key of a sorted-distinct hash array — two
    * independently seeded folds over the (deterministically ordered)
    * elements. Across 10^10 distinct shingle sets the any-collision
    * probability is ~3e-19, so equal keys are treated as identical sets.
    */
  private def contentKey(hs: Array[Long]): (Long, Long) = {
    var a = 0x243f6a8885a308d3L
    var b = 0x13198a2e03707344L
    var i = 0
    while (i < hs.length) {
      a = seeded(a ^ hs(i), 1); b = seeded(b + hs(i), 2); i += 1
    }
    (a, b)
  }

  /** Exact-first canonicalized MinHash-LSH substrate. A raw banded
    * self-join is O(bands · g²) in the size g of an exact-duplicate
    * group (all members share every band key), and re-verifies every
    * member pair — on a web-scale corpus where one boilerplate text can
    * own percents of the documents, that mega-bucket is THE scale
    * killer of naive LSH (measured ×5-7 on the SkewGen corpus, where
    * g = 20% of docs). So identical shingle sets are collapsed FIRST:
    * group by a 128-bit content key of the hashed shingle set (the
    * exact currency Jaccard is computed over, so "identical" here is
    * precisely "Jaccard 1.0 with certainty"), elect the minimum id as
    * representative, and run banding + verification over
    * representatives only. Because identical sets imply identical
    * signatures, band keys, and Jaccard against any third document,
    * expanding representative-level results back over group membership
    * reproduces the naive output bit-for-bit — while banding work,
    * candidate volume, and verify joins scale with DISTINCT texts.
    *
    * The collapse is ADAPTIVE (same cost rule as q154): a skinny census
    * over the content-key groups compares Σ C(g,2) saved band-and-verify
    * pairs against the corpus size, and the expansion apparatus is paid
    * only when duplication is material.
    *
    * Returns (membership, verifiedPairs): membership is Some of the
    * persisted skinny (id, rep) map when the canonical path ran — pairs
    * are then representative-level (rep_a < rep_b, verified ≥
    * threshold) and the caller expands them — or None when the direct
    * pipeline ran and pairs are already document-level.
    */
  private def minHashSubstrate(docs: DataFrame, idCol: String, textCol: String,
                               threshold: Double, k: Int, bands: Int)
      : (Option[DataFrame], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = k / bands
    // Persisted: feeds the rep census, the band generation AND both
    // verify joins — the plan would otherwise re-run clean+shingle+hash
    // four times. Tiny relative to the corpus (~n_shingles longs/doc).
    // The 128-bit content key rides along at zero extra cost (computed
    // from the hashes already in hand).
    val keyed = docs.select(
        col(idCol).as("id"),
        TextOps.tokens(TextOps.cleanText(col(textCol))).as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        val hs = shingleHashesFromTokens(toks)
        val ck = contentKey(hs)
        (id, hs.toSeq, ck._1, ck._2)
      }
      .toDF("id", "hs", "k1", "k2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // banded candidates + exact verification over any (id, hs) frame
    def verifiedPairs(hashed: DataFrame): DataFrame = {
      // Persisted: self-joined below — without it the k-hash signature
      // computation (the expensive sketch step) executes once per side.
      val bandRows = hashed.select("id", "hs").as[(Long, Seq[Long])]
        .flatMap { case (id, hs) =>
          bandKeysJvm(signatureFromHashes(hs.toArray, k), bands, rowsPerBand)
            .zipWithIndex.map { case (bk, bi) => (id, bi, bk) }
        }
        .toDF("id", "band_idx", "band")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cands = bandRows.as("a")
        .join(bandRows.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      cands
        .join(keyed.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(keyed.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
        .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"),
          jaccardSortedUdf(col("hs_a"), col("hs_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }

    // one representative (min id) per distinct shingle set; the census
    // shuffle is skinny (k1, k2, id) with map-side partial aggregation,
    // so a corpus-dominating duplicate group costs one combiner, not
    // one task. The membership join's hot key is the AQE skew-join case.
    val reps = keyed.groupBy("k1", "k2")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cost-based switch (same rule as q154): canonicalization trades
    // the membership/semi/expansion apparatus for Σ C(g,2) saved
    // band-and-verify pairs — taken only when duplication is material
    val census = reps.agg(
      coalesce(sum(when(col("g") > 1,
        col("g").cast("double") * (col("g") - 1) / 2)), lit(0.0)).as("saved"),
      coalesce(sum(col("g")), lit(0L)).cast("double").as("n_docs")).head()
    if (census.getDouble(0) < census.getDouble(1)) {
      (None, verifiedPairs(keyed))
    } else {
      val membership = keyed.select("id", "k1", "k2")
        .join(reps, Seq("k1", "k2"))
        .select(col("id"), col("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val repHashed = keyed
        .join(reps.select(col("rep").as("id")), Seq("id"), "left_semi")
      (Some(membership), verifiedPairs(repHashed))
    }
  }

  /** MinHash-LSH near-dup pairs over (id, text): banded candidates from a
    * skinny (id, band_idx, band_key) shuffle over distinct-text
    * representatives (see [[minHashSubstrate]] for the exact-first
    * canonicalization), exact Jaccard over the hashed shingle sets for
    * verification — the same metric the signatures estimate, so the
    * (1-J^r)^b recall bound applies to the final result. Defaults (48
    * bands × 3 rows): a J=0.64 pair is missed w.p. (1-0.64³)⁴⁸ ≈ 5e-7,
    * while J≤0.1 background pairs become candidates w.p. ≤0.6% — band
    * width is the precision/recall lever, and candidate volume (not
    * signature cost) is what explodes when r is too small. Returns
    * (id_a, id_b, jaccard) with id_a < id_b. NOTE the all-PAIRS contract
    * is itself quadratic in exact-duplicate group size (g identical docs
    * ARE C(g,2) true pairs); pipelines that only need groups should take
    * [[minHashClusterEdges]], whose output is linear.
    */
  def minHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5,
                      k: Int = 144, bands: Int = 48): DataFrame = {
    minHashSubstrate(docs, idCol, textCol, threshold, k, bands) match {
      case (None, pairs) =>
        pairs.select(col("rep_a").as("id_a"), col("rep_b").as("id_b"),
          col("jaccard"))
      case (Some(membership), repPairs) =>
        // within an identical-text group every pair is a true pair at
        // Jaccard exactly 1.0 (the naive band join always emitted them:
        // identical signatures collide in all bands) — pure expansion
        // join, no per-pair verification
        val within = membership.as("a")
          .join(membership.as("b"),
            col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            lit(1.0).as("jaccard"))
          .filter(lit(1.0) >= threshold)
        // a representative pair expands to every cross-group member
        // pair, all at the representatives' (text-determined) Jaccard
        val cross = repPairs
          .join(membership.select(col("rep").as("rep_a"), col("id").as("ia")), "rep_a")
          .join(membership.select(col("rep").as("rep_b"), col("id").as("ib")), "rep_b")
          .select(least(col("ia"), col("ib")).as("id_a"),
            greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
        within.unionByName(cross)
    }
  }

  /** LINEAR near-dup edge list whose connected components equal those of
    * the full [[minHashDupPairs]] pair graph: one star edge per
    * non-representative member (rep ↔ member spans each identical-text
    * group) plus the verified representative pairs (spanning the
    * cross-group links). Component membership — hence every min-id
    * cluster label — is identical to the quadratic pair list's, but the
    * edge count is O(corpus + distinct-text pairs) instead of
    * O(Σ g²): the form a dedup pipeline should feed to connected
    * components at scale.
    */
  def minHashClusterEdges(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.5,
                          k: Int = 144, bands: Int = 48): DataFrame = {
    minHashSubstrate(docs, idCol, textCol, threshold, k, bands) match {
      case (None, pairs) =>
        pairs.select(col("rep_a").as("id_a"), col("rep_b").as("id_b"))
      case (Some(membership), repPairs) =>
        val star = membership
          .filter(col("id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("id").as("id_b"))
          .filter(lit(1.0) >= threshold)
        star.unionByName(repPairs.select(col("rep_a").as("id_a"),
          col("rep_b").as("id_b")))
    }
  }

  /** Connected components over an undirected pair list: every vertex maps
    * to the minimum id reachable from it (the canonical representative of
    * its near-dup cluster).
    *
    * Scope: only vertices that APPEAR in `pairs` are labeled — a vertex
    * with no near-dup pair is its own singleton cluster and is simply
    * absent from the output (an empty pair list yields an empty frame).
    * Callers that need identity labels for singletons left-join the
    * corpus against this frame and coalesce to the vertex's own id, as
    * q43 and q169 do (DedupQueries.clusterLabels).
    *
    * The verified near-dup pair list is orders of magnitude smaller than
    * the corpus (dup rate × corpus, skinny id pairs) — at 100 TB of
    * documents the pairs are gigabytes, not terabytes — so the right
    * engineering is the same collect boundary the ranking pipeline uses
    * for MMR: union-find at the driver (α(n) per edge), labels broadcast
    * back as a frame. An alternating join/aggregate loop (the "big graph"
    * CC) pays several shuffles × rounds for a graph that fits in one
    * task; measured at sf0.1 it was >100× slower than this path. Above
    * `maxDriverPairs` the call transparently delegates to
    * [[connectedComponentsDistributed]] — same labels, never an OOM.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxDriverPairs: Long = 50_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val skinny = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .persist()
    // guard the collect boundary: 50M (id, id) pairs ≈ 800 MB on the
    // driver — beyond that the collect would OOM, so the pair list stays
    // distributed and the alternating large-star/small-star contraction
    // (connectedComponentsDistributed) computes the identical labels with
    // a few shuffles per round instead
    val nPairs = skinny.count()
    if (nPairs > maxDriverPairs) {
      System.err.println(
        s"[dedup] connectedComponents: $nPairs pairs exceed the " +
          s"$maxDriverPairs driver boundary; delegating to the " +
          "distributed star contraction")
      // materialize the labels BEFORE releasing skinny: the distributed
      // result's vertex/label join is lazy over the pair pipeline, so an
      // early unpersist would make the caller's action re-derive the full
      // upstream pairs computation
      val out = graft.Artifacts.materialize(
        connectedComponentsDistributed(skinny.toDF(aCol, bCol), aCol, bCol))
      skinny.unpersist()
      return out
    }
    val es = skinny.as[(Long, Long)].collect()
    skinny.unpersist()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min keeps the canonical (minimum) id as the root
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val labels = es.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSet.toSeq.map((id: Long) => (id, find(id)))
    labels.toDF("id", "label")
  }

  /** Fully-distributed connected components: alternating large-star /
    * small-star contraction (Kiveris et al. 2014, "Connected Components
    * in MapReduce and Beyond"). Same contract as [[connectedComponents]]
    * — (id, label) with label = component minimum, only vertices present
    * in `pairs` are labeled — but the edge list never crosses the driver,
    * so it is the 100 TB path when the pair list itself is huge
    * (reference semantics: the dedup cluster step of dedup.py). Query
    * code reaches it only through [[connectedComponents]]' size switch,
    * above `maxDriverPairs` (LaunchSurfaceSpec holds `src/main` to that).
    *
    * Each round is two rounds of shuffles over a skinny (child, parent)
    * long-pair frame that SHRINKS geometrically: large-star hangs every
    * node's larger neighbors onto its minimum neighbor, small-star then
    * collapses the smaller neighborhood onto the minimum, so path-shaped
    * components (the worst case) contract in O(log diameter) rounds.
    * Convergence is detected by an order-insensitive edge-set signature
    * (count + XOR of a 64-bit edge hash over the distinct edge set) and
    * then CONFIRMED by exact set checks (no hash-collision exposure on
    * the final verdict); the fixpoint is a star forest
    * whose centers are the component minima — exactly union-find's
    * answer. Each round's edge set is cut with an eager localCheckpoint:
    * without the cut the plan REFERENCES the previous round twice per
    * step, so Catalyst analysis (and even the listener-bus plan string)
    * grows exponentially with rounds — the q224 lesson. Blocks of
    * superseded rounds are released by the ContextCleaner once the loop
    * drops their references; the sets shrink geometrically, so peak
    * storage is ~2× the first round's skinny long-pair frame.
    */
  private[graft] def connectedComponentsDistributed(
      pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val verts = pairs
      .select(explode(array(col(aCol).cast("long"), col(bCol).cast("long"))).as("id"))
      .distinct()
    // canonical (child > parent) long pairs, self-loops dropped
    var edges = graft.Artifacts.materialize(pairs
      .select(greatest(col(aCol), col(bCol)).cast("long").as("c"),
        least(col(aCol), col(bCol)).cast("long").as("p"))
      .filter(col("c") =!= col("p"))
      .distinct())

    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("c"), col("p"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // symmetrized neighbor view (u, v) of the undirected edge set
    def sym(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("c").as("u"), col("p").as("v")),
        struct(col("p").as("u"), col("c").as("v")))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
    // large-star: per node u, m = min(N(u) ∪ {u}); each LARGER neighbor
    // v > u re-hangs onto m. One groupBy + one equi-join, both on u.
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      s.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("c"), col("m").as("p")).distinct()
    }
    // small-star: per node u, m = min of its SMALLER neighbors; u and
    // every other smaller neighbor re-hang onto m.
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("v") < col("u"))
      val mins = s.groupBy("u").agg(min(col("v")).as("m"))
      val moved = s.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("c"), col("m").as("p"))
      moved.unionByName(mins.select(col("u").as("c"), col("m").as("p")))
        .distinct()
    }

    var sig = signature(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = graft.Artifacts.materialize(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      val stable = nextSig == sig
      edges = next
      sig = nextSig
      rounds += 1
      // composite stability alone could mask an oscillation between the
      // two operators, so a stable round confirms that large-star is
      // individually a no-op — with stability that implies
      // smallStar(E)=E too, and a fixpoint of both operators is provably
      // a min-centered star forest. The confirm is EXACT set equality,
      // not the XOR signature: the signature steers the cheap per-round
      // loop, but a 2^-64 collision there must not silently declare a
      // non-converged edge set final. Both sides are distinct sets, so
      // ⊆ (anti-join empty) plus count equality (the edge count is
      // already known from nextSig) ⇒ equality; the check runs once at
      // convergence, so its two extra jobs are bounded.
      def exactNoop(applied: DataFrame): Boolean =
        applied.count() == nextSig._1 &&
          applied.join(edges, Seq("c", "p"), "left_anti").isEmpty
      converged = stable && exactNoop(largeStar(edges))
    }
    require(converged,
      s"connectedComponentsDistributed: no fixpoint after $maxRounds rounds")
    // one line per invocation: round count is the log-depth scale metric
    // (path components converge in O(log diameter) rounds), and a skewed
    // corpus shows up here first — cheap to keep on at 100 TB
    System.err.println(
      s"[dedup] connectedComponentsDistributed: converged in $rounds rounds")
    // fixpoint = star forest: children carry their root; centers (never a
    // child) are their own label. The star set is checkpoint-backed, so
    // the caller's action reads materialized blocks instead of replaying
    // the iteration.
    verts
      .join(edges.select(col("c").as("id"), col("p").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token stream: per-bit majority vote of the token
    * hashes, MSB first. Hash = StableHash.hash64, whose DuckDB SQL mirror
    * (StableHash.simHashSql) makes the fingerprints exactly
    * oracle-checkable; the JVM voting loop replaces the old interpreted
    * HOF aggregate (64 column ops per token).
    */
  def simHash64(toks: Seq[String]): Array[Int] = {
    val votes = new Array[Int](64)
    if (toks != null) toks.foreach { t =>
      if (t != null) {
        val h = graft.text.StableHash.hash64(t)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> (63 - b)) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
    }
    votes.map(v => if (v > 0) 1 else 0)
  }

  /** Column form of `simHash64` (array<int> of 0/1, used by q18 and the
    * Hamming-distance checks).
    */
  def simHashBits(toks: Column): Column = simHashBitsUdf(toks)

  private val simHashBitsUdf = udf((toks: Seq[String]) => simHash64(toks))

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x =!= y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  // -------------------------------------------------- hyperplane LSH

  /** Rademacher (±1) hyperplanes derived from StableHash bits: the
    * sign-projection LSH family with a bit-exact DuckDB twin (no RNG, no
    * libm — a gaussian family's Box-Muller would hit cross-engine
    * cos/log ulp differences). Sign(t,j,i) = parity of
    * hash64("t:j:i"). The one plane family: the oracle-checked ANN path
    * (q25) and the embedding near-dup candidates (q19) both use it.
    */
  def radePlanes(dim: Int, tables: Int, bitsPerTable: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bitsPerTable, dim) { (t, j, i) =>
      if ((graft.text.StableHash.hash64(s"$t:$j:$i") & 1L) == 1L) 1.0 else -1.0
    }

  /** One bucket key per table: table index + sign pattern of the vector
    * against that table's planes, packed into a long.
    */
  def bucketKeys(vec: Seq[Double], pl: Array[Array[Array[Double]]]): Array[Long] = {
    val out = new Array[Long](pl.length)
    var t = 0
    while (t < pl.length) {
      var key = t.toLong << 32
      var j = 0
      while (j < pl(t).length) {
        var d = 0.0
        val p = pl(t)(j)
        var i = 0
        val n = math.min(p.length, vec.length)
        while (i < n) { d += vec(i) * p(i); i += 1 }
        key = (key << 1) | (if (d >= 0) 1L else 0L)
        j += 1
      }
      out(t) = key
      t += 1
    }
    out
  }

  /** Exact cosine with left-to-right double accumulation — bit-identical
    * to the HOF/DuckDB formulation used by the oracles.
    */
  private[graft] def cosineJvm(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Embedding near-dup pairs: multi-table hyperplane-LSH candidates from
    * a skinny (id, bucket) shuffle, exact cosine ≥ threshold on the
    * joined-back vectors. (id_a < id_b, deduplicated.)
    */
  def cosineDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double = 0.99,
                     tables: Int = 8, bitsPerTable: Int = 4): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val pl = radePlanes(dim, tables, bitsPerTable)
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))

    // Persisted for the same reason as the MinHash band rows: the bucket
    // computation (tables × bits × dim dots per vector) is self-joined.
    val bucketRows = base.as[(Long, Seq[Double])]
      .flatMap { case (id, v) => bucketKeys(v, pl).map(bk => (id, bk)) }
      .toDF("id", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val cands = bucketRows.as("a")
      .join(bucketRows.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    cands
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // codegen CosineSim — bit-identical to cosineJvm (same
        // left-to-right accumulation; VectorOpsSpec pins the equality)
        graft.vector.VectorOps.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
