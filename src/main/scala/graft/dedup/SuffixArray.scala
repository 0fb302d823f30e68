package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix array over a document corpus by prefix doubling
  * (Manber–Myers 1990) with ambiguous-class-only refinement
  * (the distributed analogue of Larsson–Sadakane 1999's "sort only the
  * unsorted groups"). This is the general-purpose index behind
  * exact-substring dedup at corpus scale (Lee et al. 2022 build suffix
  * arrays to find arbitrary-length repeated spans; q213's fixed 8-token
  * windows are the special case this generalizes).
  *
  * Suffixes never cross document boundaries, so positions stay
  * (doc_id, off) pairs and no global concatenation is materialized; the
  * doubling lookup is a per-doc (off → off+k) equi-join.
  *
  * Ranks are POSITION ranks, not dense ranks: rank(s) = 1 + number of
  * suffixes strictly smaller than s (the global position of the first
  * row of s's equal-prefix class). Position ranks are order-isomorphic
  * to dense ranks — every consumer only compares them — but they are
  * also *refinement-stable*: when a class occupying positions
  * [r, r+size) splits, its subclasses get new ranks inside that same
  * interval and NO other suffix's rank moves. That stability is what
  * makes ambiguous-only refinement sound: once a suffix's class is a
  * singleton its rank is final, and later rounds never touch it.
  *
  * Per round, only the still-ambiguous suffixes (class size > 1) are
  * re-sorted. After the base rank at prefix depth `initK` the ambiguous
  * set is the genuinely-duplicated content — on natural text a small
  * fraction of the corpus (measured ~12% on the synthetic docs corpus,
  * shrinking every round) — so round cost is proportional to the
  * remaining duplication, not the corpus. The one corpus-sized cost per
  * round is one doc-keyed exchange + per-doc window over the
  * checkpointed rank map to look up each active suffix's
  * rank-at-offset+k as lead(r, k) (offsets are dense per doc) — never a
  * rank-keyed shuffle, and skew-bounded by document length.
  *
  * The re-rank itself (both the base rank and each refine round):
  *   1. range-sort the frame by its keys (Spark's sample-based range
  *      partitioner — the distributed sort; equal keys land in one
  *      partition because the partitioner is a pure function of the key);
  *   2. compute position ranks with the boundary-stitch trick: a
  *      within-partition lag change-flag marks each first row of a
  *      distinct key group, a running max of flagged row positions gives
  *      the class-start position locally, and a partition-count-sized
  *      census of per-partition ROW counts supplies each partition's
  *      global offset (collected — the driver holds a few longs per
  *      partition and re-attaches them as array literals, so the stitch
  *      costs no join and no broadcast exchange). In a refine round the
  *      new rank is r + (startPos(r,r2) − startPos(r)); an r-class can
  *      span range partitions, so the census also carries each
  *      partition's first/last key-head and the start position of its
  *      last head-group, letting the driver chain spanning class starts
  *      across partitions.
  * There is NO single-partition window and NO exchange keyed on the
  * rank pair itself: hash-clustering on (r, r2) would hand the hottest
  * duplicated span of a 100 TB corpus to one task. Equal keys share a
  * rank (peers take the same running-max value under the RANGE frame).
  *
  * Round count: the base rank is the position rank of the FIRST `initK`
  * CHARS directly (one string-keyed sort of substr(text, off, initK) —
  * truncated-prefix comparison equals suffix comparison up to depth
  * initK, strict prefixes first), so refinement starts at k = initK.
  * Each refinement round advances depth by the LARGER of two moves,
  * chosen from the measured state:
  *   - multi-key doubling — refine by (r, r@+k, …, r@+(m−1)k), all
  *     ranks at the current depth, resolving depth m·k in one sort
  *     (classic doubling is m = 2; m is sized to what maxLen still
  *     needs, capped at `maxFanout` so rank keys stay ≤ 8·maxFanout
  *     bytes — frozen rounds take 2·maxFanout, see below). In both
  *     modes the extra keys are extra lead()s over a per-doc window
  *     (offsets are dense per doc, so rank@off+k is lead(r, k)): full
  *     mode leads over its own frame; frozen mode leads over the
  *     round-start rank map (one corpus-sized doc-keyed exchange per
  *     round, skew-bounded by document length) and keeps only the
  *     active rows. Round count falls to
  *     ⌈log_m(maxLen/initK)⌉ — at m = 8 a 4096-char corpus resolves in
  *     two rounds from initK = 64.
  *   - text extension (frozen mode only) — sort the active set by the
  *     next E chars read from the docs table, E = extBudgetChars /
  *     |active| (capped at what maxLen still needs), advancing depth
  *     k → k+E in one round. When the active set is small relative to
  *     remaining length (long-document corpora, late rounds) this
  *     finishes in one round what doubling would take several; the
  *     char budget (≤ 4× in bytes under multi-byte UTF-8) keeps the
  *     sort-cost class flat at any corpus size.
  * Rounds run over the shrinking ambiguous set. Each round's census yields two EXACT early exits with
  * no extra job: no suffix still ambiguous, or no refinement this
  * round — if doubling at k splits nothing, classes are closed under
  * the k-shift and members are wholly identical suffixes, so no later
  * round can split them either (this fires on corpora full of duplicate
  * documents, where "all distinct" never happens; finer-than-depth-k r2
  * ranks from already-frozen classes only make splits MORE likely, so a
  * no-split observation under them implies no-split under exact
  * depth-k ranks and the classic argument applies). Each round is cut
  * with an eager localCheckpoint (the same lesson as
  * Dedup.connectedComponentsDistributed: without the cut, Catalyst
  * analysis grows exponentially with rounds); the checkpointed frames
  * are small — frozen ranks are written once and never rewritten.
  */
object SuffixArray {

  /** Range-route `df` by `route`, sort each partition by `route` then
    * `tieBreak`, and tag each row with its partition id (`pid`) — the
    * input of every per-partition streaming pass here and in q235. The
    * partition count is EXPLICIT: AQE's partition coalescing treats a
    * bare repartitionByRange exchange as fair game and at small data
    * collapses the sort into one or two partitions, which turns the
    * per-partition pass into single-task stragglers. A user-specified
    * count is exempt from coalescing, keeping the parallelism pinned to
    * the configured shuffle width at every data size.
    */
  private[graft] def rangeSorted(df: DataFrame, route: Seq[Column],
                                 tieBreak: Seq[Column] = Nil): DataFrame =
    df.repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions, route: _*)
      .sortWithinPartitions(route ++ tieBreak: _*)
      .withColumn("pid", spark_partition_id())

  /** Range-sort `df` by `keys` and annotate each row, within its
    * physical partition, with everything the position-rank stitch needs:
    * `chg`/`loc` (full-key group start flag and start position),
    * `ambig` (full-key group has ≥ 2 members), and for refine rounds
    * `pos` (row position), `chg1`/`loc1` (key-HEAD group start flag and
    * start position — the r-class). Exposed so PlanShapeSpec can hold
    * it to its scale claim (the ONLY exchange is the range sort itself;
    * a hash exchange on the skewed key pair never appears — and since
    * round 14, neither does the pid-clustering re-exchange the window
    * formulation needed). The stitch that follows ([[rankStep]]) is a
    * pure projection over this frame plus a partition-count-sized
    * census — it can add no further exchange.
    */
  private[graft] def sortAndFlag(df: DataFrame, keys: Seq[String]): DataFrame = {
    // ONE exchange and ONE local sort per round: range-route by the
    // keys (equal keys land in one partition — the partitioner is a
    // pure function of the key), then sort each partition by the keys
    // PLUS the (doc_id, off) tie-break — a TOTAL order, so the stream
    // positions below are deterministic functions of the data, not of
    // physical tie order (the keys-only ordering left ties to whatever
    // permutation the sort happened to stream — measured at sf1, 329 of
    // 15M ranks came out wrong before the tie-break was added).
    //
    // The flags themselves (pos/chg/loc/ambig and the refine round's
    // chg1/loc1) are all running values of the sorted stream, computed
    // by ONE streaming pass per partition with a single row of
    // lookahead (`ambig` for a group-first row needs to know whether
    // the next row shares its key). The previous shape computed them as
    // window functions partitioned by spark_partition_id(), which
    // forced a SECOND full exchange (hash on pid — the planner cannot
    // see that range partitioning already clusters by partition) plus
    // three to four WindowExec passes, one of them buffering whole key
    // groups; per rank round that re-shuffled the entire key-carrying
    // frame (≈ initK × corpus bytes in the base round) to compute what
    // a per-partition scan can. Guide §2.4: remove shuffles outright.
    // The stitch closure leaves whole-stage codegen for exactly one
    // narrow operator — the priced alternative was an extra corpuswide
    // exchange, and the windows it replaces were never codegen either.
    val sorted = rangeSorted(df, keys.map(col), Seq(col("doc_id"), col("off")))
    val refine = keys.size > 1
    val inSchema = sorted.schema
    val docIdIx = inSchema.fieldIndex("doc_id")
    val offIx = inSchema.fieldIndex("off")
    val pidIx = inSchema.fieldIndex("pid")
    val keyIx = keys.map(inSchema.fieldIndex).toArray
    val headIx = keyIx.head
    import org.apache.spark.sql.types._
    val outSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("off", LongType),
        StructField("pid", IntegerType), StructField("chg", LongType),
        StructField("loc", LongType), StructField("ambig", BooleanType)) ++
        (if (refine) Seq(StructField(keys.head, LongType),
          StructField("pos", LongType), StructField("chg1", LongType),
          StructField("loc1", LongType)) else Nil))
    def sameKeysRow(a: Array[Any], row: org.apache.spark.sql.Row): Boolean = {
      var i = 0
      while (i < keyIx.length) {
        if (!java.util.Objects.equals(a(i), row.get(keyIx(i)))) return false
        i += 1
      }
      true
    }
    def sameKeysArr(a: Array[Any], b: Array[Any]): Boolean = {
      var i = 0
      while (i < keyIx.length) {
        if (!java.util.Objects.equals(a(i), b(i))) return false
        i += 1
      }
      true
    }
    sorted.mapPartitions { it =>
      val buf = it.buffered
      // genuinely 64-bit positions: partition-local positions (and the
      // loc/loc1/lgs values derived from them) must not wrap past 2^31
      // rows in one range partition of a 100 TB corpus
      var pos = 0L
      var loc = 0L
      var loc1 = 0L
      var prev: Array[Any] = null
      var prevHead: Any = null
      buf.map { row =>
        pos += 1
        val cur = new Array[Any](keyIx.length)
        var i = 0
        while (i < keyIx.length) { cur(i) = row.get(keyIx(i)); i += 1 }
        val chg = prev == null || !sameKeysArr(cur, prev)
        if (chg) loc = pos
        // a row is ambiguous iff its full-key group has ≥ 2 members:
        // any non-first member, or a first member whose successor
        // matches — one row of lookahead, no group buffering
        val ambig = !chg || (buf.hasNext && sameKeysRow(cur, buf.head))
        prev = cur
        if (!refine)
          org.apache.spark.sql.Row(row.getLong(docIdIx), row.getLong(offIx),
            row.getInt(pidIx), if (chg) 1L else 0L, loc, ambig)
        else {
          val head = row.get(headIx)
          val chg1 = pos == 1L || !java.util.Objects.equals(prevHead, head)
          if (chg1) loc1 = pos
          prevHead = head
          org.apache.spark.sql.Row(row.getLong(docIdIx), row.getLong(offIx),
            row.getInt(pidIx), if (chg) 1L else 0L, loc, ambig,
            head.asInstanceOf[Long], pos, if (chg1) 1L else 0L, loc1)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }


  /** Everything one sort round learns, read from the same bounded
    * census that stitches the partition offsets — no extra job.
    */
  private case class Census(nRows: Long, nGroups: Long,
                            nAmbigRows: Long, nAmbigGroups: Long,
                            maxOff: Long)

  /** One rank round: sort by `keys`, stitch global position ranks,
    * flag ambiguity. `refine = false` ranks from scratch (base round,
    * single key); `refine = true` expects keys ("r", "r2") and refines
    * in place: newr = r + (startPos(r, r2) − startPos(r)), with
    * partition-spanning r-classes chained through the census.
    * Returns the checkpoint-cut (doc_id, off, r, ambig) frame plus the
    * census.
    */
  private def rankStep(df: DataFrame, keys: Seq[String], refine: Boolean,
                       materializeInput: Boolean = true): (DataFrame, Census) = {
    // materialize the input before the range sort when its pipeline is
    // worth not running twice: repartitionByRange's SAMPLING pass
    // re-executes its child, so an unmaterialized input runs once for
    // the sampler and once for the sort. The base round (explode +
    // substr of the whole corpus) and the frozen rounds (multi-join
    // probe pipeline over a SMALL active set) both win; a FULL-frame
    // lead round does not — checkpointing a corpus-sized frame costs
    // more than re-running its single exchange.
    val input =
      if (materializeInput) graft.Artifacts.materialize(df)
      else df
    // ONE materialization per round: the SLIM stitch frame — group/class
    // columns only, none of the (up to initK-byte) sort-key bytes — is
    // checkpointed once, and BOTH consumers read it: the census
    // aggregates below and the returned rank projection (a lazy map
    // over the checkpoint, re-run trivially by downstream actions).
    // The previous shape persisted the full key-carrying flagged frame
    // for the census and then paid a SECOND materialization pass to
    // checkpoint the projected output.
    val stitchCols =
      Seq(col("doc_id"), col("off"), col("pid"), col("chg"), col("loc"),
        col("ambig")) ++
        (if (refine) Seq(col(keys.head), col("pos"), col("chg1"),
          col("loc1")) else Nil)
    val slim = graft.Artifacts.materialize(
      sortAndFlag(input, keys).select(stitchCols: _*))
    val aggs = Seq(
      count(lit(1)).as("nr"), sum(col("chg")).as("ng"),
      sum(when(col("ambig"), 1L).otherwise(0L)).as("nar"),
      sum(when(col("ambig") && col("chg") === 1, 1L).otherwise(0L))
        .as("nag"),
      // rides along so ranksWithStats' maxLen needs no extra
      // corpus-scan job after the base round
      max(col("off")).as("mo")) ++ (if (refine) Seq(
      min(col(keys.head)).as("fk"), max(col(keys.head)).as("lk"),
      max(when(col("chg1") === 1, col("pos"))).as("lgs")) else Nil)
    // bounded census: a handful of longs per partition
    val byPid = slim.groupBy("pid").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    val maxPid = if (byPid.isEmpty) -1 else byPid.keys.max
    val bases = new Array[Long](maxPid + 2)
    val span = Array.fill[Long](maxPid + 2)(-1L)
    var acc = 0L
    var (ng, nar, nag) = (0L, 0L, 0L)
    var maxOff = 0L
    // the r-class open at the current partition boundary, for chaining
    // spanning class starts (refine only)
    var openR = 0L
    var openStart = -1L
    var havePrev = false
    for (pid <- 0 to maxPid; r <- byPid.get(pid)) {
      bases(pid) = acc
      if (refine) {
        val fk = r.getLong(r.fieldIndex("fk"))
        val lk = r.getLong(r.fieldIndex("lk"))
        val lgs = r.getLong(r.fieldIndex("lgs"))
        if (havePrev && fk == openR) span(pid) = openStart
        openStart =
          if (lk == fk && span(pid) >= 0) span(pid) else acc + lgs
        openR = lk
        havePrev = true
      }
      acc += r.getLong(r.fieldIndex("nr"))
      ng += r.getLong(r.fieldIndex("ng"))
      nar += r.getLong(r.fieldIndex("nar"))
      nag += r.getLong(r.fieldIndex("nag"))
      val mo = r.fieldIndex("mo")
      if (!r.isNullAt(mo)) maxOff = math.max(maxOff, r.getLong(mo))
    }
    val b: Column = element_at(typedlit(bases.toSeq), col("pid") + 1)
    val rOut: Column = if (!refine) b + col("loc") else {
      val sp = element_at(typedlit(span.toSeq), col("pid") + 1)
      // loc1 == 1 ⇔ the row sits in its partition's FIRST r-class,
      // the only one that can have started in an earlier partition
      val p1 = when(col("loc1") === 1 && sp >= 0, sp)
        .otherwise(b + col("loc1"))
      col("r") + ((b + col("loc")) - p1)
    }
    val out = slim
      .select(col("doc_id"), col("off"), rOut.cast("long").as("r"),
        col("ambig"))
    (out, Census(acc, ng, nar, nag, maxOff))
  }

  /** Suffix ranks for every (doc, offset): `r` orders all suffixes of all
    * documents lexicographically; identical suffixes (e.g. from duplicate
    * documents) share a rank, so callers break ties by (doc_id, off).
    * Offsets are 1-based to line up with substr semantics in both
    * engines. Ranks are position ranks (see object doc) — compare them,
    * never assume density.
    */
  def ranks(docs: DataFrame, docCol: String, textCol: String,
            initK: Int = BaseDepth): DataFrame =
    rankSuffixes(docs, docCol, textCol, initK)._1

  /** [[ranks]] at [[BaseDepth]] plus the measured base-rank duplication
    * fraction (ambiguous rows / total after depth-initK — what the
    * annex's band cascade sizes itself by).
    */
  private[graft] def ranksWithStats(docs: DataFrame, docCol: String,
                                    textCol: String): (DataFrame, Double) =
    rankSuffixes(docs, docCol, textCol, BaseDepth)

  /** Base-rank prefix depth, fixed, not sized per corpus. An adaptive
    * depth (a sampled census choosing 16, 32 or 64) was built and
    * A/B-measured on one box, min-of-two: the base round is
    * MATERIALIZATION-bound, not key-byte-bound (sf1 base rank 41.4 s at
    * depth 64 vs 41.9 s at depth 32 for identical row counts), and a
    * shallower start LOSES whenever duplication is material (more
    * FULL-mode rounds): q235 end-to-end took 218.8 s at sf1 from the
    * census's depth-32 pick against 187.6 s from depth 64 (sf0.1: 15.83
    * vs 15.65 s), and the census itself cost ~1.7 s per corpus on top. A
    * 16-char base is never safe on prose either (16-char ambiguity 0.72
    * on the natural docs corpus). Depth 64 leaves 11.4% of the docs
    * corpus ambiguous vs 12.4% at depth 32: nearly the same
    * discrimination, and it saves a whole doubling round.
    */
  private val BaseDepth = 64

  private def rankSuffixes(docs: DataFrame, docCol: String, textCol: String,
            initK: Int, maxRounds: Int = 40,
            maxFanout: Int = 8, extBudgetChars: Long = 64L << 20): (DataFrame, Double) = {
    val base = docs.select(col(docCol).cast("long").as("doc_id"),
      col(textCol).as("text"))

    // one row per suffix, keyed by its first initK chars — a bounded
    // (initK-byte) sort key per row, never a whole suffix
    val n0 = docs.sparkSession.sessionState.conf.numShufflePartitions
    // decouple the explode's parallelism from the SCAN's partitioning:
    // a compact docs file (few scan tasks, or long documents) would
    // otherwise serialize the ~len(doc)× fan-out, the substr kernel and
    // the base round's input materialization into those few tasks. One
    // doc-sized exchange, before the fan-out multiplies the bytes — and
    // ONLY when the input is actually under-split: a well-partitioned
    // corpus must not pay a corpus-text shuffle for nothing.
    val nonEmpty = base.filter(length(col("text")) >= 1)
    val spread =
      if (nonEmpty.rdd.getNumPartitions < n0) nonEmpty.repartition(n0)
      else nonEmpty
    val prefixes = spread
      // sequence(1, 0) would DESCEND ([1, 0]) — empty docs must not
      // reach the explode (hence the length filter above)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")))).as("off32"))
      .select(col("doc_id"), col("off32").cast("long").as("off"),
        expr(s"substr(text, off32, $initK)").as("pfx"))

    val (state0, c0) = rankStep(prefixes, Seq("pfx"), refine = false,
      materializeInput = false)
    def strip(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("off"), col("r"))
    // emptiness first: an empty/all-null corpus exits on the empty frame
    // path before any null-aggregate can NPE
    if (c0.nRows == 0L) return (strip(state0), 0.0)

    val total = c0.nRows
    // published duplication fraction (sizes the annex band cascade)
    val dupFrac = c0.nAmbigRows.toDouble / total
    // longest document (max offset) — rides the base census, no extra job
    val maxLen = c0.maxOff

    // Two refinement modes, chosen by the measured ambiguity each round:
    //  - FULL: while most suffixes are still ambiguous (heavily
    //    duplicated corpora), re-rank the whole frame. Suffix offsets
    //    are DENSE per doc (explode over 1..len and full mode keeps
    //    every row), so the rank at off+k is just lead(r, k) over a
    //    per-doc window — no join at all, and the per-doc hash exchange
    //    is skew-bounded by max doc length.
    //  - FROZEN: once the ambiguous set is small (most corpora after the
    //    base rank), singleton classes' position ranks are final; freeze
    //    them and re-sort only the active rows. The off+k lookup then
    //    probes the full rank map (a scan, never a shuffle: AQE
    //    broadcasts the small probe side). The switch is one-way —
    //    ambiguity only shrinks.
    var fullState = state0
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var active: DataFrame = null
    var frozenMode = false
    var nActive = c0.nAmbigRows
    var ambigGroups = c0.nAmbigGroups
    var carried = c0.nGroups

    var k = initK.toLong
    var rounds = 0
    var noRefine = false
    while (!noRefine && nActive > 0 && k < maxLen && rounds < maxRounds) {
      // switch once ambiguity drops below 25%: a frozen round's fixed
      // pipeline (map scan + probe joins) only undercuts a full lead
      // round when the active set is genuinely small (measured: at 33%
      // active the two cost the same; at ~6% frozen is >2× cheaper)
      if (!frozenMode && nActive * 4 <= total) {
        frozenMode = true
        parts += strip(fullState.filter(!col("ambig")))
        active = fullState.filter(col("ambig"))
        carried = ambigGroups
      }
      // Multi-key doubling: refining by (r, r@+k, r@+2k, …, r@+(m−1)k)
      // resolves depth m·k in ONE sort — the classic doubling is m = 2.
      // Round cost is materialization-bound, not key-byte-bound, so
      // widening the key from 16 to ≤ 8·maxFanout bytes to advance
      // log₂(m)× faster wins every time a round's fixed pipeline
      // (exchange + windows + checkpoint + census) dominates. m is
      // sized to what maxLen still needs, never past maxFanout; deltas
      // that no document can reach are dropped.
      // frozen rounds take double the fanout cap: their multi-key
      // lookup is window leads over the round-start map (below), where
      // an extra delta costs one more lead processor in the SAME window
      // pass — m is still sized to what maxLen needs, so a wider cap
      // only fires when it genuinely removes a round (each round pays a
      // fixed pipeline: corpus window + range sort + windows +
      // checkpoint + census). Full-mode keys stay ≤ 8·maxFanout bytes
      // through the re-rank sort as before.
      val fanCap = if (frozenMode) 2L * maxFanout else maxFanout.toLong
      val mDoub = math.min(fanCap,
        math.max(2L, (maxLen + k - 1) / k)).toInt
      val deltas = (1 until mDoub).map(_ * k)
        .filter(d => d < maxLen && d <= Int.MaxValue)
      val rCols = deltas.indices.map(j => s"r${j + 2}")
      // Frozen alternative — text EXTENSION: sort the active set by the
      // next E chars read straight from the docs table (E sized so
      // active × E stays within a fixed byte budget), advancing depth
      // k → k+E in one round. Beats multi-key doubling exactly when the
      // active set is small relative to remaining length (long-document
      // corpora, late rounds); the budget keeps the sort-bytes cost
      // class unchanged at any corpus size.
      val extAdv =
        if (!frozenMode) 0L
        else math.min(maxLen - k, extBudgetChars / math.max(nActive, 1L))
      // extension vs doubling, by depth reached: k+extAdv vs mDoub·k
      val useExt = frozenMode && extAdv > (mDoub - 1).toLong * k
      val (paired, keys2) = if (!frozenMode) {
        val wd = Window.partitionBy("doc_id").orderBy("off")
        val withLeads = deltas.zip(rCols).foldLeft(strip(fullState)) {
          case (df, (d, c)) => df.withColumn(c, lead(col("r"), d.toInt).over(wd))
        }
        // a miss (suffix shorter than depth+j·k) ranks as -1 so a
        // strict prefix sorts before everything it prefixes — substr
        // comparison semantics
        (withLeads.na.fill(-1L, rCols), "r" +: rCols)
      } else if (useExt) {
        // clamp the substr position into int range: off + k can pass
        // 2^31 even though a single document never can (a Spark string
        // is array-backed), and a wrapped-negative pos would silently
        // read from the END of the string. Past-the-end positions —
        // including the clamp value itself — yield '', the correct
        // strict-prefix key for an exhausted suffix.
        val pos = s"CAST(least(off + $k, ${Int.MaxValue}L) AS INT)"
        val ext = strip(active)
          .join(base.select(col("doc_id"), col("text")), "doc_id")
          .select(col("doc_id"), col("off"), col("r"),
            expr(s"substr(text, $pos, $extAdv)").as("ext"))
        (ext, Seq("r", "ext"))
      } else {
        // window-lead lookup over the round-start rank map: offsets are
        // DENSE per document (every suffix sits in exactly one frozen
        // part or in the active set), so rank-at-off+d is lead(r, d)
        // over the per-doc window — ONE corpus-sized hash exchange
        // (keyed by doc_id, skew-bounded by document length) serves
        // every delta, and the decorated map collapses back to the
        // active rows by their tag, map-side. The previous probe-join
        // shape ("AQE broadcasts the small exploded probe side") only
        // held while active×(m−1) probe rows stayed under the broadcast
        // threshold (~4·10⁵ rows); past that AQE fell to SortMergeJoins
        // that exchanged AND sorted the corpus-sized map PLUS the probe
        // stream, then paid a wide aggregate and a second (outer) join —
        // measured at sf0.1 (PlanProbe): 3 exchanges / 4 sorts per
        // frozen round vs this shape's 1 exchange / 1 window sort.
        val mapAll = (parts.toSeq.map(_.withColumn("act", lit(false)))
          :+ strip(active).withColumn("act", lit(true)))
          .reduce(_ unionByName _)
        val wdoc = Window.partitionBy("doc_id").orderBy("off")
        val withLeads = deltas.zip(rCols).foldLeft(mapAll) {
          case (df, (d, c)) =>
            df.withColumn(c, lead(col("r"), d.toInt).over(wdoc))
        }
        (withLeads.filter(col("act"))
          .select((Seq("doc_id", "off", "r") ++ rCols).map(col): _*)
          .na.fill(-1L, rCols), "r" +: rCols)
      }
      val (next, c) = rankStep(paired, keys2, refine = true,
        materializeInput = frozenMode)
      // exact early exit, free from the census: a no-refinement fixpoint
      // (identical-suffix classes only — see object doc; the argument
      // reads only the r@+k key, so extra keys — which can only split
      // MORE — preserve it). An extension round earns no such exit:
      // classes agreeing on the next E chars may still differ later.
      noRefine = !useExt && c.nGroups == carried
      if (!frozenMode) {
        fullState = next
        carried = c.nGroups
      } else {
        parts += strip(next.filter(!col("ambig")))
        active = next.filter(col("ambig"))
        carried = c.nAmbigGroups
      }
      nActive = c.nAmbigRows
      ambigGroups = c.nAmbigGroups
      k = if (useExt) k + extAdv else k * mDoub
      rounds += 1
    }
    val out =
      if (!frozenMode) strip(fullState)
      else {
        // still-ambiguous rows at exit are identical-suffix classes (or a
        // round-capped tail) and keep their shared rank
        parts += strip(active)
        parts.reduce(_ unionByName _)
      }
    (out, dupFrac)
  }

  // ----------------------------------------------------------- index reuse

  /** Build-once cache: every consumer of the same corpus (the SA-head
    * report, the repeated-substring scan, prospective substring dedup)
    * shares ONE index build per (session, corpus key) — a real index
    * engine amortizes its Ω(n) construction across queries rather than
    * rebuilding per consumer. The cached frame is localCheckpoint-backed
    * (RDD-level storage, untouched by `spark.catalog.clearCache()`), so
    * holding the reference keeps the materialized blocks alive.
    *
    * Bench clears this cache at the start of each pass
    * (`Artifacts.clearAll()`), so the published artifact still prices
    * exactly one build per suite pass — reuse within a pass is the
    * design, a warm second pass hiding the build cost would not be.
    */
  private val builds = graft.Artifacts.memo[DataFrame]

  /** Duplication fraction measured by each memoized build (ambiguous
    * rows after the base rank / total — i.e. the share of suffixes
    * whose initK-char prefix collides), keyed like [[builds]]. The
    * annex reads it to size its band cascade.
    */
  private val dupFracs = graft.Artifacts.memo[java.lang.Double]

  def build(spark: SparkSession, corpusKey: String, docs: => DataFrame,
            docCol: String, textCol: String): DataFrame = {
    builds.getOrElseUpdate(spark, corpusKey) {
      val (df, dupFrac) = ranksWithStats(docs, docCol, textCol)
      dupFracs.put(spark, corpusKey, dupFrac)
      df
    }
  }

  // ------------------------------------------------- adjacent-LCP annex

  /** Head-band width, in code points, stored per SA entry while the
    * annex is built: any adjacent-pair LCP < HeadBand resolves from the
    * two bounded head slices alone, so full document text never crosses
    * an exchange at per-suffix cardinality — the per-suffix sort moves
    * ≤ HeadBand bytes/row (the same cost class as the base rank's
    * initK-byte keys), not whole documents. Cap hits (lcp == HeadBand)
    * escalate through a skinny re-join; they are exactly the ≥
    * HeadBand-char repeats, which pay their own length.
    */
  private[graft] val HeadBand = 256

  /** First-stage band width for the annex cascade (see
    * [[annexFromPairs]]): the bulk per-suffix exchange carries this
    * many chars; only FirstBand cap-hits (the duplicated minority) pay
    * the HeadBand pass. Must be ≥ HeadPreview so stage-1 previews are
    * exact.
    */
  private[graft] val FirstBand = 32

  /** Shared-prefix preview, in code points, stored with each annex row
    * (`head` = first min(lcp, HeadPreview) chars of the repeated span) —
    * consumers report spans without ever touching the corpus again.
    */
  private[graft] val HeadPreview = 24

  /** SA entries routed into SA order, SKINNY (doc_id, off, r): range
    * partition by (r, doc_id, off) through [[rangeSorted]], locally
    * sorted. Skinny matters: the range exchange's
    * sampling pass re-executes its child, which here is just the index
    * checkpoint scan (nothing to materialize), and the one routing
    * exchange moves 24 B/suffix, not band-width rows. (The former
    * second exchange — pid-clustering so a WINDOW could run
    * per-partition — is gone: [[pairScores]] now streams each
    * partition directly, same as the rank stitch.)
    */
  private[graft] def saSorted(sa: DataFrame): DataFrame =
    rangeSorted(sa, Seq(col("r"), col("doc_id"), col("off")))

  /** Adjacent SKINNY pairs in SA order — (r_a, doc_a, off_a, doc_b,
    * off_b), no text. Adjacency without a corpus-wide window OR a
    * pid re-exchange: one streaming pass with a row of lookahead emits
    * within-partition neighbors, plus the ≤|partitions| boundary pairs
    * stitched from a partition-count-sized census (the tiny window over
    * it is bounded by the partition count, not the data).
    */
  private[graft] def pairScores(sorted: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val sch = sorted.schema
    val rIx = sch.fieldIndex("r")
    val dIx = sch.fieldIndex("doc_id")
    val oIx = sch.fieldIndex("off")
    val outSchema = StructType(Seq(
      StructField("r_a", LongType), StructField("doc_a", LongType),
      StructField("off_a", LongType), StructField("doc_b", LongType),
      StructField("off_b", LongType)))
    val within = sorted.mapPartitions { it =>
      val buf = it.buffered
      buf.flatMap { row =>
        if (!buf.hasNext) Iterator.empty
        else {
          val nx = buf.head
          Iterator.single(org.apache.spark.sql.Row(
            row.getLong(rIx), row.getLong(dIx), row.getLong(oIx),
            nx.getLong(dIx), nx.getLong(oIx)))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val perPart = sorted.groupBy("pid").agg(
      min(struct(col("r"), col("doc_id"), col("off"))).as("first"),
      max(struct(col("r"), col("doc_id"), col("off"))).as("last"))
    val wb = Window.orderBy("pid") // ≤ shuffle-partition-count rows
    val boundary = perPart
      .withColumn("nf", lead(col("first"), 1).over(wb))
      .filter(col("nf").isNotNull)
      .select(col("last.r").as("r_a"), col("last.doc_id").as("doc_a"),
        col("last.off").as("off_a"),
        col("nf.doc_id").as("doc_b"), col("nf.off").as("off_b"))
    within.unionByName(boundary)
  }

  /** One band pass over a skinny pair stream: two doc-keyed joins, each
    * projecting the bounded `substr(text, off, band)` slice IN-TASK
    * immediately after the join, so document text crosses exchanges
    * only on the docs-side relays (each document moves once per join) —
    * the pair stream itself carries at most one `band`-char slice
    * through one exchange (the doc_b join's probe side), never whole
    * documents. `lcp_c` is the native lcp_chars kernel over the two
    * bands — in-place byte walk, cost ∝ the actual LCP, capped at
    * `band`; `head` is the bounded span preview (exact whenever
    * band ≥ HeadPreview: a cap-hit's preview is a strict prefix of a
    * ≥ band-char match).
    */
  private[graft] def bandPass(pairs: DataFrame, docs: DataFrame,
                              docCol: String, textCol: String,
                              band: Int): DataFrame =
    pairs
      .join(docs.select(col(docCol).cast("long").as("doc_a"),
        col(textCol).as("text_a")), "doc_a")
      .select(col("r_a"), col("doc_a"), col("off_a"),
        col("doc_b"), col("off_b"),
        expr(s"substr(text_a, CAST(off_a AS INT), $band)").as("head_a"))
      .join(docs.select(col(docCol).cast("long").as("doc_b"),
        col(textCol).as("text_b")), "doc_b")
      .select(col("r_a"), col("doc_a"), col("off_a"),
        col("doc_b"), col("off_b"), col("head_a"),
        expr(s"substr(text_b, CAST(off_b AS INT), $band)").as("head_b"))
      .withColumn("lcp_c",
        graft.text.Lcp(col("head_a"), lit(1L), col("head_b"), lit(1L)))
      .select(col("r_a"), col("doc_a"), col("off_a"),
        col("doc_b"), col("off_b"), col("lcp_c"),
        expr(s"substr(head_a, 1, CAST(least(lcp_c, $HeadPreview) AS INT))")
          .as("head"))

  /** Staged band cascade over the skinny pairs. Stage 1 runs the cheap
    * FirstBand pass over EVERY pair — on natural text the vast majority
    * of adjacent-pair LCPs are short, so the bulk per-suffix exchange
    * carries FirstBand chars, not HeadBand (the annex's dominant byte
    * term drops from HeadBand× to FirstBand× corpus size). Stage 2
    * re-runs only FirstBand cap-hits (the genuinely-duplicated
    * fraction) at HeadBand; stage 3 escalates HeadBand cap-hits —
    * `lcp_c == band` means both slices filled the band and matched
    * end-to-end; anything less is already exact, including every
    * one-suffix-is-a-prefix case — through a skinny full-text re-join
    * for the exact value. Those rows are the ≥ HeadBand-char repeats,
    * which pay their own length. Previews need no fixup across stages:
    * each stage's band ≥ HeadPreview, so a cap-hit's preview is
    * recomputed exactly by the next stage.
    */
  private[graft] def annexFromPairs(pairs: DataFrame, docs: DataFrame,
                                    docCol: String, textCol: String,
                                    stage: DataFrame => DataFrame = identity,
                                    bands: Seq[Int] = Seq(FirstBand, HeadBand)): DataFrame = {
    require(bands.nonEmpty, "annex cascade needs at least one band")
    val keys = Seq("r_a", "doc_a", "off_a", "doc_b", "off_b")
    val out = keys :+ "lcp" :+ "head"
    // rows under a band's cap are exact — they leave the cascade here
    def resolved(tier: DataFrame, band: Int): DataFrame =
      tier.filter(col("lcp_c") < band).withColumnRenamed("lcp_c", "lcp")
        .select(out.head, out.tail: _*)
    // `stage` cuts each tier before its two consumers (the builder
    // persists; plan inspection passes identity). Each tier's cap-hits
    // (lcp_c == band) feed the next band as skinny keys; the final
    // tier's cap-hits take the full-text escalation.
    val tiers = Seq.newBuilder[DataFrame]
    val firstTier = stage(bandPass(pairs, docs, docCol, textCol, bands.head))
    tiers += resolved(firstTier, bands.head)
    val lastTier = bands.tail.foldLeft((firstTier, bands.head)) {
      case ((prev, prevBand), b) =>
        val s = stage(bandPass(prev.filter(col("lcp_c") === prevBand)
          .select(keys.head, keys.tail: _*), docs, docCol, textCol, b))
        tiers += resolved(s, b)
        (s, b)
    }._1
    val hard = lastTier.filter(col("lcp_c") === bands.last)
      .select(col("r_a"), col("doc_a"), col("off_a"),
        col("doc_b"), col("off_b"), col("head"))
      .join(docs.select(col(docCol).cast("long").as("doc_a"),
        col(textCol).as("text_a")), "doc_a")
      .join(docs.select(col(docCol).cast("long").as("doc_b"),
        col(textCol).as("text_b")), "doc_b")
      .select(col("r_a"), col("doc_a"), col("off_a"),
        col("doc_b"), col("off_b"),
        graft.text.Lcp(col("text_a"), col("off_a"),
          col("text_b"), col("off_b")).as("lcp"),
        col("head"))
    (tiers.result() :+ hard).reduce(_ unionByName _)
  }

  /** The full annex plan, unmaterialized — exposed so PlanShapeSpec can
    * hold the build to its scale claims (no full-text column through a
    * per-suffix exchange outside the cap-hit escalation).
    */
  private[graft] def adjacentLcpPlan(sa: DataFrame, docs: DataFrame,
                                     docCol: String, textCol: String): DataFrame =
    annexFromPairs(pairScores(saSorted(sa)), docs, docCol, textCol)

  /** Build-once adjacent-pair LCP annex — the LCP array beside
    * [[build]]'s suffix array. Lee et al. 2022 serve every
    * repeated-span query from SA + LCP, never from the corpus; same
    * here: consumers (the longest-repeat report, the repeated-span cut
    * list, cross-corpus contamination) read this one checkpointed
    * skinny frame — (r_a, doc_a, off_a, doc_b, off_b, lcp, head) — and
    * their own plans contain NO join against the documents table. The
    * annex build attaches bounded head bands with in-task projection
    * through the staged cascade (FirstBand for every pair, HeadBand
    * for cap-hits only — see [[annexFromPairs]]); full text crosses
    * per-suffix exchanges only in the rare final escalation.
    */
  def adjacentLcp(spark: SparkSession, corpusKey: String, docs: => DataFrame,
                  docCol: String, textCol: String): DataFrame = {
    val key = s"$corpusKey|adjlcp"
    val cached = builds.get(spark, key)
    if (cached.isDefined) cached.get
    else {
      // resolve the SA memo OUTSIDE computeIfAbsent: recursive updates
      // of the same ConcurrentHashMap are illegal
      val d = docs
      val sa = build(spark, corpusKey, d, docCol, textCol)
      // size the cascade from the build's own census: on low-duplication
      // corpora (natural text) the FirstBand pre-pass resolves the vast
      // majority of pairs and cuts the bulk exchange 8×; on heavily
      // duplicated corpora most pairs cap the first band and would pay
      // both passes, so go straight to HeadBand
      val dupFrac = dupFracs.get(spark, corpusKey)
        .fold(0.0)(_.doubleValue())
      val bands =
        if (dupFrac > 0.2) Seq(HeadBand) else Seq(FirstBand, HeadBand)
      builds.getOrElseUpdate(spark, key) {
        val sorted = saSorted(sa).persist()
        val tiers = scala.collection.mutable.ArrayBuffer[DataFrame]()
        try {
          val cut = (df: DataFrame) => { val p = df.persist(); tiers += p; p }
          graft.Artifacts.materialize(
            annexFromPairs(pairScores(sorted), d, docCol, textCol, cut, bands))
        } finally {
          tiers.foreach(_.unpersist())
          sorted.unpersist()
        }
      }
    }
  }
}
