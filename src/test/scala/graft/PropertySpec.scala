package graft

import graft.dedup.Dedup
import graft.rank.{Features, MMR}
import graft.text.BudgetParser
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (SURVEY §5.3). Pure-JVM operators are
  * checked with ScalaCheck directly; column expressions are checked by
  * pushing one seeded random batch through a single Spark action.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def holds(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("MMR output is a duplicate-free subset of input with length min(k,n)") {
    val genCand = for {
      id <- Gen.choose(0L, 50L)
      score <- Gen.choose(0.0, 1.0)
      vec <- Gen.listOfN(4, Gen.choose(-1.0, 1.0))
    } yield MMR.Candidate(id, score, vec.toArray)
    holds(Prop.forAll(Gen.listOf(genCand), Gen.choose(0, 10)) { (cands0, k) =>
      val cands = cands0.distinctBy(_.id)
      val out = MMR.select(cands, k)
      val ids = out.map(_.id)
      ids.length == math.min(k, cands.length) &&
        ids.distinct.length == ids.length &&
        ids.forall(cands.map(_.id).contains)
    })
  }

  test("jaccardSorted is in [0,1], reflexive at 1, symmetric") {
    val genSet = Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
      .map(l => l.distinct.sorted)
    holds(Prop.forAll(genSet, genSet) { (a, b) =>
      val j = Dedup.jaccardSorted(a, b)
      val sym = Dedup.jaccardSorted(b, a)
      (a.isEmpty && b.isEmpty) || (j >= 0.0 && j <= 1.0 && j == sym &&
        (a.isEmpty || Dedup.jaccardSorted(a, a) == 1.0))
    })
  }

  test("cosineJvm bounded, reflexive, symmetric") {
    val genVec = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
      .suchThat(_.exists(_ != 0.0))
    holds(Prop.forAll(genVec, genVec) { (a, b) =>
      val c = Dedup.cosineJvm(a, b)
      math.abs(c) <= 1.0 + 1e-9 &&
        math.abs(Dedup.cosineJvm(a, a) - 1.0) <= 1e-9 &&
        c == Dedup.cosineJvm(b, a)
    })
  }

  test("minhash signature is permutation-invariant and component-wise monotone under union") {
    val genShingles = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))
    holds(Prop.forAll(genShingles, Gen.long) { (sh, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(sh)
      val s1 = Dedup.signature(sh, 16).toSeq
      s1 == Dedup.signature(shuffled, 16).toSeq &&
        Dedup.signature(sh ++ List("extra"), 16).toSeq.zip(s1).forall { case (u, o) => u <= o }
    })
  }

  test("column features: priceFit in [0,1], minMaxScale in [0,1]∪{0.5}, blend monotone in sim") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(500) { i =>
      val price = if (i % 7 == 0) None else Some(rnd.nextDouble() * 1000 - 50)
      val anchor = if (i % 5 == 0) None else Some(rnd.nextDouble() * 800)
      val std = if (i % 3 == 0) None else Some(rnd.nextDouble() * 200)
      (i.toLong, price, anchor, std, rnd.nextDouble() * 100)
    }
    val df = rows.toDF("id", "price", "anchor", "std", "x")
    val fit = df.select(
      Features.priceFit(col("price"), col("anchor"), col("std")).as("f")).collect()
    assert(fit.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0))

    val normed = df.crossJoin(df.select(Features.clipBounds(col("x"), "b"): _*))
      .select(Features.minMaxScale(col("x"), col("b_lo"), col("b_hi"))).collect()
    assert(normed.forall { r =>
      val v = r.getDouble(0); (v >= 0.0 && v <= 1.0) || v == 0.5
    })

    val blends = df.select(
      Features.blend(col("x") / 100, lit(0.5), lit(0.5), lit(0.5), lit(0.5)).as("b"),
      (col("x") / 100).as("s")).collect().map(r => (r.getDouble(1), r.getDouble(0)))
    val sorted = blends.sortBy(_._1)
    assert(sorted.zip(sorted.tail).forall { case ((_, b1), (_, b2)) => b1 <= b2 })
  }

  test("parseBudget is null or positive on arbitrary text") {
    val rnd = new scala.util.Random(7)
    val words = Seq("under", "between", "and", "around", "budget", "k", "$",
      "100", "2.5", "1,250", "-", "~", "to", "washer", "quiet", "3kk", "", "≤")
    val texts = Seq.tabulate(300)(_ =>
      Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
    val got = texts.toDF("q")
      .select(BudgetParser.parseBudget(col("q")).as("b")).collect()
    assert(got.forall(r => r.isNullAt(0) || r.getDouble(0) > 0))
  }

  test("suffix-array ranks agree with brute-force suffix order under adversarial duplication") {
    // randomized corpora biased toward the refine-round edge cases the
    // oracle corpus never hits: a 2-char alphabet multiplies rank-class
    // collisions, whole-corpus duplication keeps genuinely-equal suffix
    // classes alive to the end, and initK=2 forces MANY doubling rounds
    // (full and frozen modes, the hybrid switch, and the census
    // chaining all execute per case). Each case is a full distributed
    // build, so the case count stays small; the per-case check is the
    // exhaustive pairwise order comparison against sorted raw suffixes.
    val genDoc = for {
      n <- Gen.choose(0, 16)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b'))
    } yield cs.mkString
    val genCorpus = for {
      k <- Gen.choose(1, 5)
      docs <- Gen.listOfN(k, genDoc)
      dup <- Gen.oneOf(true, false)
    } yield {
      val base = docs.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      if (dup) base ++ base.map { case (i, t) => (i + 100L, t) } else base
    }
    val p = Prop.forAll(genCorpus) { corpus =>
      val docs = corpus.toDF("doc_id", "text")
      val rows = graft.dedup.SuffixArray
        .ranks(docs, "doc_id", "text", initK = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      val got = rows.toMap
      val sufs = for ((d, t) <- corpus; i <- 1 to t.length)
        yield (d, i.toLong, t.substring(i - 1))
      // row count BEFORE the map dedups: a duplicate-emission bug
      // (one suffix in two frozen parts) must not collapse silently
      rows.length == sufs.size && got.size == sufs.size && sufs.forall { a =>
        sufs.forall { b =>
          Integer.signum(got((a._1, a._2)).compareTo(got((b._1, b._2)))) ==
            Integer.signum(a._3.compareTo(b._3))
        }
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), p)
    assert(r.passed, r.status.toString)
  }

  test("minHash canonicalization ≡ naive banded LSH on randomized duplicated corpora") {
    // the exact-first substrate must reproduce the NAIVE path's output
    // bit-for-bit on any corpus: pairs = {(a,b) : ∃ band where the full
    // signatures collide, jaccard ≥ threshold}. Cases are biased toward
    // the regimes the rewrite reshaped — exact-duplicate groups (one
    // doc replicated 0-8×), a tiny vocabulary (near-threshold cross
    // pairs), and empty documents (whole-doc-hash fallback, which makes
    // all empties one identical group).
    val genDoc = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
    } yield ws.mkString(" ")
    val genCorpus = for {
      k <- Gen.choose(1, 6)
      docs <- Gen.listOfN(k, genDoc)
      dupIdx <- Gen.choose(0, k - 1)
      g <- Gen.choose(0, 8)
    } yield docs.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) } ++
      (1 to g).map(j => (100L + j, docs(dupIdx)))
    val p = Prop.forAll(genCorpus) { corpus =>
      val df = corpus.toDF("id", "text")
      val got = Dedup.minHashDupPairs(df, "id", "text", threshold = 0.3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
      // JVM emulation of the naive path over the same currency
      val hs = df.select(col("id"),
          graft.text.TextOps.tokens(graft.text.TextOps.cleanText(col("text"))))
        .as[(Long, Seq[String])].collect()
        .map { case (id, toks) => id -> Dedup.shingleHashesFromTokens(toks) }
        .toMap
      val bandKeys = hs.map { case (id, h) =>
        id -> Dedup.bandKeysJvm(Dedup.signatureFromHashes(h), 48, 3)
      }
      val ids = corpus.map(_._1).sorted
      val want = (for {
        i <- ids; j <- ids if i < j
        if bandKeys(i).zip(bandKeys(j)).exists { case (x, y) => x == y }
        jac = Dedup.jaccardSorted(hs(i), hs(j)) if jac >= 0.3
      } yield (i, j) -> jac).toMap
      got == want
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), p)
    assert(r.passed, r.status.toString)
  }

  test("jaroWinkler bounded, symmetric, identity 1, boost >= jaro, prefix cap") {
    import graft.text.JaroWinkler
    val genStr = Gen.listOf(Gen.alphaLowerChar).map(_.mkString)
    holds(Prop.forAll(genStr, genStr) { (a, b) =>
      val s = JaroWinkler.sim(a, b)
      val j = JaroWinkler.jaro(a, b)
      s >= 0.0 && s <= 1.0 &&
        math.abs(s - JaroWinkler.sim(b, a)) < 1e-12 &&
        (a.isEmpty || math.abs(JaroWinkler.sim(a, a) - 1.0) < 1e-12) &&
        s >= j - 1e-12 && // winkler boost never decreases jaro
        // boost is bounded by the 4-char prefix cap
        s <= j + 4 * JaroWinkler.PrefixScale * (1.0 - j) + 1e-12
    })
  }
}
