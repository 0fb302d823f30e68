package graft.similarity

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a deterministic coarse k-means
  * quantizer partitions the corpus into cells; a query probes only the
  * `nprobe` nearest cells and exact-ranks the survivors.
  *
  * Scale shape: centroids are always driver-sized (k × dim doubles);
  * assignment is one narrow map over the corpus per Lloyd iteration with
  * a map-side-combinable mean aggregation back — the classic
  * "small model, big data" loop. The search scan prunes to
  * ~nprobe/k of the corpus, trading recall for throughput in the same
  * way as the hyperplane-LSH path (Knn.annTopK); IVF tends to win when
  * the corpus clusters, LSH when it does not.
  *
  * Determinism: initial centroids are the vectors at evenly spaced
  * positions in vec-id order; Lloyd updates are exact means — no RNG.
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    def nearestCell(v: Seq[Double]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val ctr = centroids(c)
        var d = 0.0
        var i = 0
        val n = math.min(ctr.length, v.length)
        while (i < n) { val x = v(i) - ctr(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    /** Cells sorted by distance to the query (for nprobe selection). */
    def nearestCells(v: Seq[Double], nprobe: Int): Seq[Int] =
      centroids.indices
        .map { c =>
          val ctr = centroids(c)
          var d = 0.0
          var i = 0
          val n = math.min(ctr.length, v.length)
          while (i < n) { val x = v(i) - ctr(i); d += x * x; i += 1 }
          c -> d
        }
        .sortBy(_._2).take(nprobe).map(_._1)
  }

  /** Deterministic Lloyd training: evenly spaced seeds, `iters` exact
    * mean updates. Empty cells keep their previous centroid.
    */
  def train(vecs: DataFrame, idCol: String, vecCol: String,
            k: Int = 16, iters: Int = 3): Model = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // each Lloyd iteration re-reads the assignment input; persist so the
    // parquet scan + projection run once, not iters+1 times
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic seed sample: prefix in id order, evenly spaced picks
    val sample = base.orderBy("id").take(math.max(k * 50, 1))
    val kEff = math.min(k, sample.length)
    val step = math.max(1, sample.length / kEff)
    var centroids =
      Array.tabulate(kEff)(i => sample((i * step) % sample.length)._2.toArray)

    var it = 0
    while (it < iters) {
      val m = Model(centroids)
      val bc = spark.sparkContext.broadcast(m)
      // Element sums accumulate as exact micro-units (Long): the result is
      // independent of partition/merge order — double summation would make
      // the centroids (and thus cell assignments) nondeterministic across
      // runs and engines. With 6dp-quantized inputs (see q26) the whole
      // Lloyd loop is bit-identical to the DuckDB DECIMAL(20,6) mirror.
      val updated = base
        .map { case (_, v) =>
          (bc.value.nearestCell(v),
            (v.map(x => math.rint(x * 1e6).toLong).toArray, 1L))
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups { (a: (Array[Long], Long), b: (Array[Long], Long)) =>
          val s = a._1.clone()
          var i = 0
          while (i < s.length && i < b._1.length) { s(i) += b._1(i); i += 1 }
          (s, a._2 + b._2)
        }
        .map { case (cell, (sum, cnt)) => (cell, sum.map(mu => mu.toDouble / 1e6 / cnt)) }
        .collect()
        .toMap
      centroids = centroids.indices
        .map(c => updated.getOrElse(c, centroids(c)))
        .toArray
      it += 1
    }
    base.unpersist()
    Model(centroids)
  }

  /** Per-vector nearest-cell assignment under `model` — the bucketing
    * primitive the ANN probe path shares with SemDeDup-style semantic
    * dedup (q230). Model is k×d and broadcast; the scan stays map-only.
    */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, bc.value.nearestCell(v)) }
      .toDF("id", "cell")
  }

  /** Corpus size above which q69 leaves its exact broadcast-n² plan for
    * [[hardNegatives]]. The measured exact/ANN checksum crossover sits at
    * ≈4.4k vectors (BASELINE.md round-10 addendum), so the sf0.01 oracle
    * entry and the sf0.1 bench plan stay exact.
    */
  val ExactMax = 5000L

  /** Size-aware `nprobe` for q69's delegation. Measured at sf1 (20k
    * vectors) on the balanced quantizer (BASELINE.md round-12 recall
    * addendum): nprobe=16 buys recall@1 0.534 → 0.700 over 8 for ~20%
    * more ANN wall — still ~6× cheaper than the exact scan; at or below
    * [[ExactMax]] a corpus is small enough that 8 already probes a large
    * cell fraction, so the cheaper setting stays. Pinned
    * in IvfSpec — changing either branch changes shipped quality.
    */
  def defaultNprobe(n: Long): Int = if (n > ExactMax) 16 else 8

  /** Cell count for an n-vector corpus probed `nprobe` ways:
    * k = √(n·nprobe/3) balances Lloyd training (3·n·k) against the probe
    * join (nprobe·n²/k), clamped to [64, 4096] so tiny corpora keep
    * enough cells and the trainer's driver-side seed sample (k·50 rows)
    * stays bounded. A fixed k would quietly re-enter the n²/k regime as
    * the corpus grows (measured: sf3 ANN ran 5.6× sf1 with k floored at
    * 64); k grows with √nprobe, so a wider probe also refines the cells.
    */
  def cellCount(n: Long, nprobe: Int): Int =
    math.max(64L, math.min(4096L, math.round(math.sqrt(n.toDouble * nprobe / 3)))).toInt

  /** The quantizer-collapse guard hardNegatives trains through, exposed
    * package-private so IvfSpec can pin it: dedup to one deterministic
    * representative (min id) per distinct vector, then train. Kept OUT
    * of `train` itself — q26/q230's DuckDB oracles unroll that exact
    * seeding in SQL (Helpers.scala `lloydSql`), so its semantics are
    * frozen; this wrapper is the ANN-mining policy on top of it.
    */
  private[graft] def trainOnDistinct(labeled: DataFrame, k: Int): Model = {
    val distinctVecs = labeled.groupBy("vec").agg(min(col("id")).as("id"))
    train(distinctVecs, "id", "vec", k = k)
  }

  /** Per-reducer pair budget for the probe join: a (cell, salt) task
    * scoring more pairs than this external-sorts alone (the round-12
    * sf10 collapse spent 2440 s in exactly that spill-merge). */
  private[graft] val probePairBudget = 2e7

  /** Per-cell salt widths for the probe join. Cell c's pair volume is
    * exactly q_c·i_c (query rows × index rows meeting on the cell key);
    * the width is ⌈max(q_c·i_c, i_c²·nprobe) / budget⌉ clamped [1, 64]
    * — the exact volume maxed with the index-side estimate
    * (q_c ≈ i_c·nprobe, probes concentrate near mass), so a cell is
    * salted whenever EITHER signal fires: the estimate catches a heavy
    * index cell even if the query histogram under-reads it, and the
    * exact term catches the converse (modest index mass drawing
    * disproportionate probe concentration, e.g. a dense query cluster
    * straddling cell boundaries). Only overloaded cells pay index
    * replication; cold cells keep width 1.
    */
  private[graft] def cellSaltWidths(iCounts: Map[Int, Long],
                                    qCounts: Map[Int, Long],
                                    nprobe: Int): Map[Int, Int] =
    iCounts.map { case (c, ic) =>
      val exact = qCounts.getOrElse(c, 0L).toDouble * ic
      val est = ic.toDouble * ic * nprobe
      c -> math.min(64L, math.max(1L,
        math.ceil(math.max(exact, est) / probePairBudget).toLong)).toInt
    }

  /** Hard-negative mining at corpus scale: for every vector, the
    * most-similar vector with a DIFFERENT label, searched through IVF
    * cells instead of the exact n² cross product. Every vector is
    * INDEXED in its single nearest cell; as a QUERY it probes its
    * `nprobe` nearest cells; candidates meet on the cell key (a plain
    * hash join co-partitioned by cell), so pair volume is
    * ≈ n·nprobe·(n/k). With k = [[cellCount]] — which
    * balances training (3·n·k) against the probe join (nprobe·n²/k) —
    * total work is Θ(n^1.5·√nprobe): superlinear but far below the
    * exact path's n², and spread evenly across cells so it
    * parallelizes. Approximate in the standard ANN
    * sense: the true hardest negative is missed iff it lives outside
    * the query's nprobe cells; a query whose probed cells hold only
    * same-label vectors drops out of the result (measured and pinned in
    * IvfSpec on the test corpus).
    *
    * Output schema matches the exact path: (idCol, hard_negative, sim),
    * ties broken to the lowest neighbor id at equal similarity.
    * `saltWidth` forces one global probe-join salt width in place of
    * [[cellSaltWidths]]; only tests pass it, to show the pair set does
    * not depend on the salt.
    */
  private[graft] def hardNegatives(emb: DataFrame, idCol: String, labelCol: String,
      vecCol: String, k: Int, nprobe: Int, saltWidth: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("long").as("label"), col(vecCol).as("vec"))
      .as[(Long, Long, Seq[Double])]
      // read once: the trainer re-scans per Lloyd iteration and the
      // index/query legs below both re-scan the assignment input
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var qCache: Option[DataFrame] = None
    try {
      // Train on the DISTINCT vector set (deterministic representative:
      // min id per vector). A duplicate-heavy corpus otherwise collapses
      // the quantizer: the k·50-row seed prefix holds few distinct
      // points, duplicated seeds produce identical centroids, nearest-
      // cell ties all resolve to the first of them, and the effective
      // cell count falls far below k. Measured on a ×100-copied 200k
      // corpus (sf10 scale probe, round 12): the collapsed model's probe
      // join ran 2440 s where the balanced one takes minutes — and
      // near-duplicate mass is exactly what a real training corpus
      // carries, so the trainer must not see multiplicity. On an
      // already-distinct corpus the dedup is a row-level no-op (same
      // ids, same seed order), so the model — and IvfSpec's pinned
      // quality floor — is bit-identical.
      val model = trainOnDistinct(base.toDF("id", "label", "vec"), k)
      val bc = spark.sparkContext.broadcast(model)
      val indexed = base
        .map { case (id, l, v) => (bc.value.nearestCell(v), id, l, v) }
        .toDF("cell", "nb_id", "nb_label", "nb_vec")
      // Residual skew guard: the probe join partitions by cell — a
      // low-cardinality key whose per-cell pair volume concentrates
      // whatever duplicate/cluster mass survives training, and one
      // overloaded reducer then external-sorts most of the pair stream
      // alone (the round-12 sf10 probe spent its 2440 s in exactly that
      // spill-merge). Salt the join key PER CELL so no single task owns
      // a whole giant cell: in cell c, queries carry
      // salt = hash(id) mod R_c and index rows replicate R_c ways — the
      // pair SET is identical for every width map (each (query, nb) pair
      // still meets exactly once, on the query's salt), and replication
      // is paid only where the skew is: a balanced model computes
      // R_c = 1 everywhere (a constant-zero extra join column), while a
      // single hot cell replicates ITS rows up to 64× without touching
      // the cold ones (a global width would inflate the whole index
      // side by the worst cell's factor).
      val queries = base
        .flatMap { case (id, l, v) =>
          bc.value.nearestCells(v, nprobe).map(c => (c, id, l, v)) }
        .toDF("cell", "id", "label", "vec")
        // the cell histogram below and the probe join both scan this
        // frame; persist so nearestCells (O(k·d) per vector) runs once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      qCache = Some(queries)
      val iCounts = indexed.groupBy("cell").count()
        .as[(Int, Long)].collect().toMap // ≤ k ≤ 4096 rows — driver-bounded
      val qCounts = queries.groupBy("cell").count()
        .as[(Int, Long)].collect().toMap // ≤ k ≤ 4096 rows — driver-bounded
      val widths: Map[Int, Int] = saltWidth match {
        case Some(w) => iCounts.map { case (c, _) => c -> w } // forced global
        case None    => cellSaltWidths(iCounts, qCounts, nprobe)
      }
      val hot = widths.filter(_._2 > 1)
      val (queriesSalted, indexedSalted) =
        if (hot.isEmpty)
          (queries.withColumn("salt", lit(0)),
            indexed.withColumn("salt", lit(0)))
        else {
          // width lookup as a tiny map literal (hot cells only; cold
          // cells — and query probes of index-empty cells — default 1)
          val wCol = coalesce(element_at(typedLit(hot), col("cell")), lit(1))
          (queries.withColumn("salt", pmod(hash(col("id")), wCol)),
            indexed.withColumn("salt", explode(sequence(lit(0), wCol - 1))))
        }
      queriesSalted.join(indexedSalted, Seq("cell", "salt"))
        .filter(col("nb_label") =!= col("label"))
        .select(col("id"), col("nb_id"),
          graft.vector.VectorOps.cosineRounded(col("vec"), col("nb_vec")).as("sim"))
        // a query probing cells that share its own indexed cell meets
        // itself only at equal label — already excluded by the filter
        .groupBy("id")
        .agg(max(struct(col("sim"), (-col("nb_id")).as("neg_nb"))).as("m"))
        .select(col("id").as(idCol), (-col("m.neg_nb")).as("hard_negative"),
          col("m.sim").as("sim"))
        // sever the lineage from the persisted input before unpersist:
        // the caller's action must not silently recompute the scan
        // (materialize = localCheckpoint locally, reliable on a cluster)
        .transform(graft.Artifacts.materialize)
    } finally { qCache.foreach(_.unpersist()); base.unpersist(); () }
  }

  /** ANN top-k: probe the `nprobe` nearest cells, exact cosine rerank. */
  def topK(vecs: DataFrame, idCol: String, vecCol: String, model: Model,
           query: Array[Double], k: Int, nprobe: Int = 4): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val probed = model.nearestCells(query.toSeq, nprobe).toSet
    val bc = spark.sparkContext.broadcast((model, probed))
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val candIds = base.as[(Long, Seq[Double])]
      .flatMap { case (id, v) =>
        if (bc.value._2.contains(bc.value._1.nearestCell(v))) Some(id) else None
      }
      .toDF("id")
    // nprobe/k of the corpus survives — broadcast the id sliver, keep the
    // base scan shuffle-free; rerank on the codegen CosineSim path
    base.join(broadcast(candIds), "id")
      .select(col("id"),
        graft.vector.VectorOps.cosineRounded(col("vec"), typedLit(query.toSeq)).as("sim"))
      .orderBy(desc("sim"), asc("id"))
      .limit(k)
  }
}
