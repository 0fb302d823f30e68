package graft

import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Dedup operator semantics on constructed near-dups. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val docB = "the quick brown fox jumps over the lazy dog near the river bank tonight" // 1-word change
  private val docC = "completely different content about spark query engines and shuffles everywhere"

  test("minHash LSH finds the near-dup pair and not the unrelated one") {
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("exact-first canonicalization reproduces brute force under a mega dup group") {
    // the SkewGen regime in miniature: one identical-text group (ids
    // 100-139) plus a near-dup pair and an unrelated doc. The expanded
    // pair list must equal brute force over the hashed-shingle Jaccard
    // (within-group 1.0s included), and the LINEAR cluster edge list
    // must produce the same components as the quadratic pair graph.
    val group = (100L to 139L).map(i => (i, docA))
    val docs = (group ++ Seq((1L, docB), (3L, docC))).toDF("doc_id", "text")
    val got = Dedup.minHashDupPairs(docs, "doc_id", "text", threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force over the same currency (hashed shingle sets)
    val hs = docs
      .select(col("doc_id"), TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, toks) =>
        id -> Dedup.shingleHashesFromTokens(toks).toSeq
      }.toMap
    val ids = hs.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      jac = Dedup.jaccardSorted(hs(i), hs(j)) if jac >= 0.4
    } yield (i, j) -> jac).toMap
    assert(got == want, s"pairs got=${got.size} want=${want.size}")
    // within-group pairs are exactly 1.0
    assert(got((100L, 101L)) == 1.0)
    // cluster edges: linear count, same components as the pair graph
    val edges = Dedup.minHashClusterEdges(docs, "doc_id", "text", threshold = 0.4)
    assert(edges.count() <= group.size + 2,
      "cluster edge list must be linear, not quadratic, in group size")
    val fromEdges = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairsDf = got.keys.toSeq.toDF("id_a", "id_b")
    val fromPairs = Dedup.connectedComponents(pairsDf, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromEdges == fromPairs)
  }

  test("wordShingles: n-grams, short-doc collapse") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.wordShingles(TextOps.tokens(col("t")), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("simhash: near-dups have smaller hamming distance than unrelated docs") {
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("id", "text")
      .select(col("id"), Dedup.simHashBits(TextOps.tokens(TextOps.cleanText(col("text")))).as("bits"))
    val a = df.filter(col("id") === 1).select(col("bits").as("ba"))
    val near = df.filter(col("id") === 2).crossJoin(a)
      .select(Dedup.hamming(col("bits"), col("ba"))).head().getInt(0)
    val far = df.filter(col("id") === 3).crossJoin(a)
      .select(Dedup.hamming(col("bits"), col("ba"))).head().getInt(0)
    assert(near < far, s"near=$near far=$far")
  }

  test("cosineDupPairs finds identical-direction vectors only") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.5)),
      (2L, Seq(2.0, 0.0, 0.0, 1.0)), // same direction as 1 → cosine 1
      (3L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("id", "vec")
    val pairs = Dedup.cosineDupPairs(vecs, "id", "vec", dim = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("connectedComponents labels every vertex with its cluster minimum") {
    // chain 1-2-3, ring 10-11-12-10, isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents labels only vertices present in the pair list") {
    // scope pinned by the scaladoc: singletons (vertices with no pair)
    // are absent from the output, and an empty pair list yields an
    // empty frame — callers coalesce identity labels themselves (q43)
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").count() == 0)
    val one = Seq((7L, 3L)).toDF("a", "b")
    val got = Dedup.connectedComponents(one, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 7L -> 3L)) // no label for any other id
  }

  test("connectedComponents delegates past the driver boundary, same labels") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)).toDF("a", "b")
    // force the distributed path: the boundary is inclusive, so limit 2
    // pushes these 6 pairs through the star contraction instead
    val got = Dedup.connectedComponents(pairs, "a", "b", maxDriverPairs = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // and exactly-at-limit still takes the driver union-find
    val ok = Dedup.connectedComponents(pairs, "a", "b", maxDriverPairs = 6L)
    assert(ok.count() == 8)
  }

  test("distributed CC contracts a long path to its minimum") {
    // a 0-1-2-…-199 path: diameter 199, the star-contraction worst case —
    // must converge in O(log diameter) rounds, far under the round cap,
    // and label every vertex with the path minimum
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponentsDistributed(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("distributed CC agrees with driver union-find on a mixed graph") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(300)(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val drv = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dst = Dedup.connectedComponentsDistributed(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dst == drv)
    // empty input keeps the same contract as the driver path
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponentsDistributed(empty, "a", "b").count() == 0)
  }

  test("suffix-array build is a per-corpus memo; clearCache resets it") {
    import spark.implicits._
    graft.dedup.SuffixArray.clearCache()
    val docs = Seq((1L, "abab"), (2L, "baba")).toDF("doc_id", "text")
    val a = graft.dedup.SuffixArray.build(spark, "memo-spec", docs, "doc_id", "text")
    val b = graft.dedup.SuffixArray.build(spark, "memo-spec", docs, "doc_id", "text")
    assert(a eq b, "same (session, key) must reuse the built index frame")
    val c = graft.dedup.SuffixArray.build(spark, "memo-spec-2", docs, "doc_id", "text")
    assert(!(a eq c), "a different corpus key must build its own index")
    graft.dedup.SuffixArray.clearCache()
    val d = graft.dedup.SuffixArray.build(spark, "memo-spec", docs, "doc_id", "text")
    assert(!(a eq d), "clearCache must drop the memo")
    assert(d.count() == 8)
    graft.dedup.SuffixArray.clearCache()
  }

  test("suffix-array ranks: empty, all-null and empty-string corpora yield empty frames") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.SuffixArray.ranks(empty, "doc_id", "text").count() == 0)
    val nulls = Seq((1L, null: String), (2L, ""), (3L, null: String))
      .toDF("doc_id", "text")
    assert(graft.dedup.SuffixArray.ranks(nulls, "doc_id", "text").count() == 0)
  }

  test("adjacent-LCP annex: empty and single-suffix corpora yield empty annexes") {
    import spark.implicits._
    graft.dedup.SuffixArray.clearCache()
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.dedup.SuffixArray
      .adjacentLcp(spark, "annex-empty", empty, "doc_id", "text").count() == 0)
    val one = Seq((1L, "x")).toDF("doc_id", "text") // one suffix → no pairs
    assert(graft.dedup.SuffixArray
      .adjacentLcp(spark, "annex-one", one, "doc_id", "text").count() == 0)
    graft.dedup.SuffixArray.clearCache()
  }

  test("adjacent-LCP annex matches brute-force adjacency incl. band cap-hit escalation") {
    // a 300-char shared block (> HeadBand = 256) forces the cap-hit
    // escalation path: those pairs' LCPs must come back exact from the
    // full-text re-join, everything else from the bands alone; heads
    // must be the first min(lcp, 24) chars of the match in both paths
    val rnd = new scala.util.Random(41)
    val blk = Array.fill(300)(('a' + rnd.nextInt(3)).toChar).mkString
    val corpus = Seq(1L -> (blk + "one"), 2L -> ("zz" + blk + "two"),
      3L -> "unrelatedshort")
    val docs = corpus.toDF("doc_id", "text")
    graft.dedup.SuffixArray.clearCache()
    val annex = graft.dedup.SuffixArray
      .adjacentLcp(spark, "annex-brute", docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)) -> (r.getLong(5), r.getString(6))).toMap
    val sufs = corpus.flatMap { case (d, t) =>
      (1 to t.length).map(i => (d, i.toLong, t.substring(i - 1)))
    }.sortBy { case (d, o, s) => (s, d, o) }
    def lcp(a: String, b: String): Long =
      a.lazyZip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val exp = sufs.sliding(2).collect { case Seq(a, b) =>
      val l = lcp(a._3, b._3)
      (a._1, a._2, b._1, b._2) -> (l, a._3.take(math.min(l, 24L).toInt))
    }.toMap
    assert(exp.values.exists(_._1 >= graft.dedup.SuffixArray.HeadBand),
      "corpus must produce a band cap hit")
    assert(annex.size == exp.size, s"${annex.size} pairs vs ${exp.size}")
    assert(annex == exp)
    graft.dedup.SuffixArray.clearCache()
  }

  test("annex band cascade and single-band pass agree on all three LCP strata") {
    // the annex sizes its bands adaptively (cascade on low-duplication
    // corpora, straight-to-HeadBand on heavy ones); both configurations
    // must produce identical annex rows. The corpus spans every
    // stratum: LCPs below FirstBand (resolved by the 32-band alone),
    // between the bands (stage-2 territory), and past HeadBand (the
    // full-text escalation) — so each tier of the cascade carries rows.
    import graft.dedup.SuffixArray
    val rnd = new scala.util.Random(59)
    def blk(n: Int) = Array.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
    val (mid, big) = (blk(80), blk(300))
    val corpus = Seq(
      1L -> (mid + "tailA" + big), 2L -> (big + "x" + mid),
      3L -> "completely different text", 4L -> blk(40))
    val docs = corpus.toDF("doc_id", "text")
    SuffixArray.clearCache()
    val sa = SuffixArray.ranks(docs, "doc_id", "text")
    val pairs = SuffixArray.pairScores(SuffixArray.saSorted(sa))
      .localCheckpoint(true)
    def annex(bands: Seq[Int]) =
      SuffixArray.annexFromPairs(pairs, docs, "doc_id", "text",
          bands = bands)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)) -> (r.getLong(5), r.getString(6))).toMap
    val cascade = annex(Seq(SuffixArray.FirstBand, SuffixArray.HeadBand))
    val single = annex(Seq(SuffixArray.HeadBand))
    val strata = cascade.values.map(_._1).toSeq
    assert(strata.exists(_ < SuffixArray.FirstBand) &&
      strata.exists(l => l >= SuffixArray.FirstBand && l < SuffixArray.HeadBand) &&
      strata.exists(_ >= SuffixArray.HeadBand),
      s"corpus must populate all three LCP strata: ${strata.sorted.reverse.take(8)}")
    assert(cascade == single)
    SuffixArray.clearCache()
  }

  test("suffix-array ranks reproduce brute-force lexicographic order") {
    // duplicate docs make genuinely equal suffixes: those must SHARE a
    // rank; everything else must order exactly like the suffix strings
    val corpus = Seq((1L, "banana"), (2L, "banana"), (3L, "abracadabra"))
    val docs = corpus.toDF("doc_id", "text")
    val got = graft.dedup.SuffixArray.ranks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sufs = for ((d, t) <- corpus; i <- 1 to t.length)
      yield (d, i.toLong, t.substring(i - 1))
    assert(got.size == sufs.size)
    for (a <- sufs; b <- sufs) {
      val byRank = got((a._1, a._2)).compareTo(got((b._1, b._2)))
      val byText = a._3.compareTo(b._3)
      assert(Integer.signum(byRank) == Integer.signum(byText),
        s"rank order of $a vs $b disagrees with suffix order")
    }
  }

  test("suffix-array hybrid: duplication-heavy corpus crosses full→frozen modes") {
    // A long shared prefix keeps >25% of suffixes ambiguous after the
    // 64-char base rank, so the build runs FULL lead(r, k) rounds first
    // and switches to FROZEN active-only refinement as classes resolve —
    // both code paths and the one-way switch execute in one build. The
    // small alphabet multiplies accidental collisions; distinct tails
    // guarantee eventual resolution; two identical docs keep genuinely
    // shared ranks in play.
    // docs 1-4: 120 shared chars + 12 distinct tail chars → ~47% of all
    // suffixes ambiguous at depth 64 (full mode), all resolved by depth
    // 128 (k=64 round). Docs 5/6: a short identical pair — 7% ambiguous
    // after that round, so the k=128 round runs frozen and then hits the
    // no-refinement exit on the identical classes.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(120)(('a' + rnd.nextInt(4)).toChar).mkString
    val corpus = (1L to 4L).map { i =>
      i -> (base + Array.fill(11)(('a' + rnd.nextInt(4)).toChar).mkString + i)
    } ++ Seq(5L -> ("q" * 20), 6L -> ("q" * 20))
    val docs = corpus.toDF("doc_id", "text")
    val got = graft.dedup.SuffixArray.ranks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sufs = for ((d, t) <- corpus; i <- 1 to t.length)
      yield (d, i.toLong, t.substring(i - 1))
    assert(got.size == sufs.size)
    for (a <- sufs; b <- sufs) {
      val byRank = got((a._1, a._2)).compareTo(got((b._1, b._2)))
      val byText = a._3.compareTo(b._3)
      assert(Integer.signum(byRank) == Integer.signum(byText),
        s"rank order of $a vs $b disagrees with suffix order")
    }
  }

  test("suffix-array ranks: randomized adversarial corpora match brute force") {
    // Property-level fuzz for the refine-round edge cases the pinned
    // corpora can't reach: all-identical docs (classes that only split
    // by suffix length), a single-char alphabet (maximal ambiguity at
    // every doubling round), and random exact-dup mixtures. Each seeded
    // corpus is checked pairwise against brute-force lexicographic
    // order of the actual suffix strings — equal suffixes must share a
    // rank, everything else must order exactly.
    val trials: Seq[(Int, Seq[(Long, String)])] = Seq(
      // all-identical docs over one character: every cross-doc suffix
      // of equal length is genuinely equal and must share its rank
      1 -> (1L to 4L).map(_ -> "a" * 20),
      // single-char alphabet, ragged lengths
      2 -> Seq.empty,
      // dup-heavy, 2-char alphabet
      3 -> Seq.empty,
      // looser 4-char alphabet mix
      4 -> Seq.empty)
    for ((seed, pinned) <- trials) {
      val rnd = new scala.util.Random(seed)
      val alpha = Map(2 -> 1, 3 -> 2, 4 -> 4).getOrElse(seed, 1)
      def txt(n: Int) = Array.fill(n)(('a' + rnd.nextInt(alpha)).toChar).mkString
      val corpus =
        if (pinned.nonEmpty) pinned
        else {
          val base = txt(10 + rnd.nextInt(50))
          (1L to (2L + rnd.nextInt(4))).map { i =>
            if (rnd.nextBoolean()) i -> base else i -> txt(1 + rnd.nextInt(70))
          }
        }
      graft.dedup.SuffixArray.clearCache()
      val docs = corpus.toDF("doc_id", "text")
      val got = graft.dedup.SuffixArray.ranks(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val sufs = for ((d, t) <- corpus; i <- 1 to t.length)
        yield (d, i.toLong, t.substring(i - 1))
      assert(got.size == sufs.size, s"seed=$seed suffix count")
      for (a <- sufs; b <- sufs) {
        val byRank = java.lang.Long.compare(got((a._1, a._2)), got((b._1, b._2)))
        val byText = a._3.compareTo(b._3)
        assert(Integer.signum(byRank) == Integer.signum(byText),
          s"seed=$seed rank order of ${(a._1, a._2)} vs ${(b._1, b._2)} " +
            "disagrees with suffix order")
      }
    }
    graft.dedup.SuffixArray.clearCache()
  }

  test("signature is permutation-stable (set semantics)") {
    val a = Dedup.signature(Seq("a", "b", "c", "d", "e", "f"))
    val b = Dedup.signature(Seq("f", "e", "d", "c", "b", "a"))
    assert(a.toSeq == b.toSeq) // same shingle SET → same signature
    val c = Dedup.signature(Seq("a", "b", "c", "d", "e", "zzz"))
    assert(a.toSeq != c.toSeq)
  }

  test("q235 contamination spans match a driver-side chain recompute") {
    // The load-bearing case is TRANSITIVITY: with eval docs 10 and 20
    // and train doc 25 sharing block B1, the SA orders each equal-class
    // run as (10, 20, 25) — the train suffix is NEVER adjacent to eval
    // doc 10, so only the run grouping (pair chains, driver-stitched
    // across partitions) can mark doc 25's spans. B2 (eval-eval) and B3
    // (train-train) must produce nothing: a run contaminates only when
    // it touches both splits.
    val rnd = new scala.util.Random(11)
    def blk(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val (b1, b2, b3) = (blk(150), blk(130), blk(140))
    val corpus = Seq(
      10L -> (b1 + "evalTailOne"), 20L -> (b1 + "evalTailTwo"),
      25L -> (b1 + "trainTail"),
      30L -> (b2 + "evalOnlyA"), 40L -> (b2 + "evalOnlyB"),
      11L -> (b3 + "trainOnlyA"), 21L -> (b3 + "trainOnlyB"),
      7L -> blk(80), 13L -> blk(90))
    val dir = graft.sources.Staging.scratchDir("contam-spec").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    graft.dedup.SuffixArray.clearCache()

    // brute-force replay of the declared semantics
    val sufs = corpus.flatMap { case (d, t) =>
      (1 to t.length).map(i => (d, i.toLong, t.substring(i - 1)))
    }.sortBy { case (d, o, s) => (s, d, o) }
    def lcp(a: String, b: String): Long =
      a.lazyZip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val pairs = sufs.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) => (i, a, b, lcp(a._3, b._3))
    }.filter(_._4 >= 100).toList
    val runs = pairs.foldLeft(List.empty[List[(Int, (Long, Long, String), (Long, Long, String), Long)]]) {
      case (acc @ cur :: rest, p) if cur.head._1 == p._1 - 1 => (p :: cur) :: rest
      case (acc, p) => List(p) :: acc
    }
    val expected = runs.flatMap { run =>
      val cmin = run.map(_._4).min
      val members = run.flatMap(p => Seq(p._2, p._3)).map(m => (m._1, m._2)).distinct
      if (members.exists(_._1 % 10 == 0))
        members.filter(_._1 % 10 != 0).map { case (d, o) => (d, o, o + cmin) }
      else Nil
    }.groupBy(_._1).flatMap { case (d, ss) =>
      ss.map(s => (s._2, s._3)).sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case (h :: t, (s0, e0)) if s0 <= h._2 => (h._1, math.max(h._2, e0)) :: t
          case (acc, s) => s :: acc
        }.reverse.map { case (s0, e0) => (d, s0, e0, e0 - s0) }
    }.toSet

    val got = SparkEntry.queries("q235_contamination_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty && expected.exists(_._1 == 25L),
      s"test corpus must contaminate train doc 25: $expected")
    assert(!expected.exists(e => e._1 == 11L || e._1 == 21L || e._1 == 30L))
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("q234 repeated spans match a driver-side recompute") {
    // q234's implementation and its DuckDB oracle both derive spans
    // from adjacent SA pairs, so a correlated drift in that shared
    // derivation would pass the hash gate; this recomputes the declared
    // semantics (sort raw suffix strings, adjacent LCPs, both-sides
    // spans ≥ 100, per-doc interval merge) on the driver. The corpus
    // crosses repeats between docs (b1: 1↔2↔3, b2: 1↔2) AND repeats
    // b1 twice INSIDE doc 3, so the merge sees overlapping staircase
    // spans and disjoint spans in one document.
    val rnd = new scala.util.Random(23)
    def blk(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val (b1, b2) = (blk(160), blk(120))
    val corpus = Seq(
      1L -> (b1 + "tailOne" + b2), 2L -> (b2 + "tailTwo" + b1),
      3L -> ("pre" + b1 + "mid" + b1 + "post"),
      4L -> blk(90), 5L -> blk(70))
    val dir = graft.sources.Staging.scratchDir("spans-spec").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    graft.dedup.SuffixArray.clearCache()

    val sufs = corpus.flatMap { case (d, t) =>
      (1 to t.length).map(i => (d, i.toLong, t.substring(i - 1)))
    }.sortBy { case (d, o, s) => (s, d, o) }
    def lcp(a: String, b: String): Long =
      a.lazyZip(b).takeWhile { case (x, y) => x == y }.size.toLong
    val spans = sufs.sliding(2).collect { case Seq(a, b) =>
      (a, b, lcp(a._3, b._3))
    }.filter(_._3 >= 100).toList
      .flatMap { case (a, b, l) =>
        Seq((a._1, a._2, a._2 + l), (b._1, b._2, b._2 + l))
      }
    val expected = spans.groupBy(_._1).flatMap { case (d, ss) =>
      ss.map(s => (s._2, s._3)).distinct.sorted
        .foldLeft(List.empty[(Long, Long)]) {
          case (h :: t, (s0, e0)) if s0 <= h._2 =>
            (h._1, math.max(h._2, e0)) :: t
          case (acc, s) => s :: acc
        }.reverse.map { case (s0, e0) => (d, s0, e0, e0 - s0) }
    }.toSet

    val got = SparkEntry.queries("q234_repeated_spans")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(expected.nonEmpty && expected.exists(_._1 == 3L),
      s"corpus must contain an internal repeat in doc 3: $expected")
    assert(got == expected, s"got $got\nexpected $expected")

    // q236 applies that cut list: driver-side replay deletes the merged
    // intervals from the raw strings and compares the rebuilt corpus
    val expectedClean = corpus.map { case (d, t) =>
      val cuts = expected.filter(_._1 == d).toList.sortBy(_._2)
      val kept = new StringBuilder
      var pos = 1L
      for ((_, s0, e0, _) <- cuts) {
        kept ++= t.substring((pos - 1).toInt, (s0 - 1).toInt)
        pos = e0
      }
      kept ++= t.substring(math.min((pos - 1).toInt, t.length))
      d -> kept.toString
    }.toMap
    val gotClean = SparkEntry.queries("q236_apply_cuts")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(gotClean == expectedClean,
      s"clean corpus mismatch: got $gotClean\nexpected $expectedClean")
    assert(expectedClean(3L).length < corpus.toMap.apply(3L).length,
      "doc 3's internal repeat must actually shrink")
    graft.dedup.SuffixArray.clearCache()
  }

  test("substring dedup matches a driver-side string-level recompute") {
    // independent oracle: gram STRINGS (no hashes) + brute interval
    // union — also guards against a StableHash gram collision
    val dir = "/root/testdata/sf0.001"
    val n = 8
    val toks = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.tokens(TextOps.cleanText(col("text"))).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val occurrences = scala.collection.mutable.Map.empty[String, Int]
    for ((_, ts) <- toks; i <- 0 to ts.length - n)
      occurrences.updateWith(ts.slice(i, i + n).mkString(" "))(
        c => Some(c.getOrElse(0) + 1))
    val expected = toks.map { case (id, ts) =>
      val covered = new Array[Boolean](ts.length)
      for (i <- 0 to ts.length - n
           if occurrences(ts.slice(i, i + n).mkString(" ")) >= 2;
           j <- i until i + n) covered(j) = true
      id -> covered.count(identity).toLong
    }
    val got = SparkEntry.queries("q213_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet == expected.keySet)
    for ((id, dup) <- expected)
      assert(got(id) == dup, s"doc $id: got ${got(id)}, expected $dup")
  }

  test("initK census: shallow on distinctive text, deep on duplication, tiny samples fall back") {
    import graft.dedup.SuffixArray
    val rnd = new scala.util.Random(64)
    def doc(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // ~40k suffixes of 26-letter random text: 16-char prefixes are
    // near-unique → the census may go shallow
    // minRows lowered to test-corpus scale (the prod default needs a
    // ≥1.3M-suffix corpus to trust its 1/64 prefix-space sample)
    val uniq = (1L to 400L).map(i => (i, doc(100))).toDF("doc_id", "text")
    val (kU, ambU) =
      SuffixArray.censusInitK(uniq.select(col("doc_id"), col("text")), minRows = 100L)
    assert(kU == 16, s"distinctive corpus chose $kU")
    assert(ambU.exists(_ < 0.05), s"amb32 estimate $ambU")
    // the same text duplicated 400× → every suffix collides at any
    // fixed depth → conservative 64
    val shared = doc(100)
    val dup = (1L to 400L).map(i => (i, shared)).toDF("doc_id", "text")
    val (kD, ambD) =
      SuffixArray.censusInitK(dup.select(col("doc_id"), col("text")), minRows = 100L)
    assert(kD == 64, s"duplicated corpus chose $kD")
    assert(ambD.exists(_ > 0.95), s"amb32 estimate $ambD")
    // sub-threshold sample → fixed fallback, no estimate
    val tiny = (1L to 3L).map(i => (i, doc(50))).toDF("doc_id", "text")
    val (kT, ambT) = SuffixArray.censusInitK(tiny.select(col("doc_id"), col("text")))
    assert(kT == 64 && ambT.isEmpty)
    // the adaptive path must produce exactly the fixed path's ranks
    val small = (1L to 30L).map(i => (i, doc(40) + shared.take(20))).toDF("doc_id", "text")
    val fixed = SuffixArray.ranks(small, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val adaptive = SuffixArray.ranks(small, "doc_id", "text", initK = 0)
      .collect().map(_.toSeq).toSet
    assert(adaptive == fixed)
  }

  test("forced shallow initK still publishes a depth-≥FirstBand dupFrac") {
    // round-8 advice: a caller-forced initK = 16 (initK > 0, so the
    // adaptive census used to be skipped) must NOT publish the
    // over-stated depth-16 ambiguity as dupFrac — that can flip the
    // annex cascade to HeadBand-only on low-duplication corpora. The
    // census now runs whenever k0 < FirstBand regardless of how k0 was
    // chosen. Corpus: a 40-char header shared by every doc + a
    // distinctive random tail → suffixes in the header are ambiguous at
    // depth 16 (~25/99 per doc) but mostly resolved at depth 32 (~9/99),
    // so the two estimates differ by more than 2×.
    import graft.dedup.SuffixArray
    val rnd = new scala.util.Random(9)
    val header = Seq.fill(40)(('a' + rnd.nextInt(26)).toChar).mkString
    def tail(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = (1L to 300L).map(i => (i, header + tail(59)))
      .toDF("doc_id", "text")
    val (_, dupShallow) = SuffixArray.ranksWithStats(
      docs, "doc_id", "text", initK = 16, censusMinRows = 100L)
    val (_, dupDeep) = SuffixArray.ranksWithStats(
      docs, "doc_id", "text", initK = 64)
    // depth-16 raw ambiguity on this corpus is ~0.25; the census's
    // depth-32 estimate and the depth-64 base census both land ~0.09.
    // The forced-shallow run must publish the deep-ish number.
    assert(dupShallow < 0.15,
      s"forced initK=16 published over-stated dupFrac $dupShallow")
    assert(math.abs(dupShallow - dupDeep) < 0.05,
      s"shallow ($dupShallow) and deep ($dupDeep) dupFrac disagree")
  }

  test("annex cascade: every band set yields identical (lcp, head) output") {
    // round-7 advice hardening: the staged cascade must be a pure
    // performance decision — FirstBand-only (everything ≥32 escalates
    // to full text), HeadBand-only (one wide pass), and the production
    // two-stage cascade have to agree row-for-row on an adversarial
    // duplication corpus that exercises every tier: >HeadBand-char
    // shared prefixes (final escalation), mid-length repeats (FirstBand
    // cap → HeadBand exact), a strict prefix-of pair, and small-alphabet
    // noise (dense short repeats).
    import graft.dedup.SuffixArray
    val rnd = new scala.util.Random(8)
    def randStr(n: Int) =
      Seq.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
    val longShared = randStr(300)
    val midShared = randStr(120)
    val docs = Seq(
      1L -> (longShared + randStr(40)),
      2L -> (longShared + randStr(40)),
      3L -> (midShared + randStr(30)),
      4L -> (midShared + randStr(30)),
      5L -> randStr(80),
      6L -> randStr(80),
      7L -> longShared,
      8L -> "xyz").toDF("doc_id", "text")
    val sorted = SuffixArray.saSorted(
      SuffixArray.ranks(docs, "doc_id", "text")).persist()
    val pairs = SuffixArray.pairScores(sorted).persist()
    val outs = Seq(Seq(SuffixArray.FirstBand), Seq(SuffixArray.HeadBand),
      Seq(SuffixArray.FirstBand, SuffixArray.HeadBand)).map { bands =>
      bands -> SuffixArray
        .annexFromPairs(pairs, docs, "doc_id", "text", identity, bands)
        .select("r_a", "doc_a", "off_a", "doc_b", "off_b", "lcp", "head")
        .collect().map(_.toSeq).toSet
    }
    val (refBands, ref) = outs.head
    assert(ref.nonEmpty && ref.exists(_(5).asInstanceOf[Long] > 256L),
      "corpus must exercise the post-HeadBand escalation tier")
    for ((bands, got) <- outs.tail)
      assert(got == ref,
        s"bands=$bands diverges from bands=$refBands: " +
          s"${(got diff ref).take(3)} vs ${(ref diff got).take(3)}")
    pairs.unpersist(); sorted.unpersist()
  }
}
