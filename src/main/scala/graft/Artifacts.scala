package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one materialization + memoization seam for build-once artifacts
  * (suffix-array index, adjacent-LCP annex, co-purchase edge table, BPE
  * merges, CC contraction rounds).
  *
  * Two concerns, one home:
  *
  *  1. '''Materialization.''' Every build-once artifact needs an eager
  *     lineage cut — without it, iterative consumers re-derive the whole
  *     upstream pipeline per action and Catalyst analysis grows with
  *     rounds. Locally, `localCheckpoint(eager = true)` is right: block
  *     storage on the (single) executor, no filesystem round-trip, and
  *     it preserves the origin plan's size estimates (which the
  *     [[graft.queries.Helpers.chunkedPairs]] census depends on for its
  *     broadcast decisions). On a real cluster it is WRONG as a
  *     durability primitive: localCheckpoint truncates lineage and keeps
  *     blocks only on executors, so preemption or executor loss destroys
  *     the only copy with no recompute path — the job fails. There,
  *     [[materialize]] switches to reliable `checkpoint()` into a
  *     configured checkpoint directory (shared storage), which survives
  *     executor loss. Mode is `spark.graft.materialize` =
  *     `auto` (default: local master → local, else reliable) | `local` |
  *     `reliable`; the reliable path takes its directory from an
  *     already-set `SparkContext.setCheckpointDir` or the
  *     `spark.graft.checkpointDir` conf, and FAILS FAST with an
  *     actionable message when neither is set — a clear error at artifact
  *     build beats a silent durability hole that kills a 100 TB job
  *     hours in.
  *
  *  2. '''Memo registry.''' Each build-once cache used to carry its own
  *     `clearCache()` and Bench cleared them by an enumerated list — a
  *     new memo that missed the list would silently bench warm-cache.
  *     Every [[Memo]] now registers its own clear at construction, so
  *     [[clearAll]] covers present AND FUTURE memos by construction and
  *     Bench makes exactly one call.
  */
object Artifacts {

  // Weak refs: a memo created outside object-level init (tests build
  // several per run) must be collectable once unreachable — a strong
  // clearer closure would pin the memo, its map, and any cached
  // DataFrames forever. clearAll skips and prunes cleared refs.
  private val clearers =
    new java.util.concurrent.CopyOnWriteArrayList[WeakReference[Memo[_]]]()

  /** A build-once artifact cache. Constructing one registers its clear
    * with [[clearAll]] — a memo cannot exist outside the per-pass clear.
    * Scala object init is lazy, so a memo whose owner was never touched
    * is unregistered but also necessarily empty: clearAll still clears
    * every memo that can hold anything.
    */
  final class Memo[V] private[Artifacts] () {
    private val m = new ConcurrentHashMap[String, V]()
    clearers.add(new WeakReference[Memo[_]](this))
    /** Atomic compute-if-absent: one build per key per clear epoch. */
    def getOrElseUpdate(key: String)(build: => V): V =
      m.computeIfAbsent(key, _ => build)
    def get(key: String): Option[V] = Option(m.get(key))
    def put(key: String, v: V): Unit = m.put(key, v)
    def clear(): Unit = m.clear()
    def size: Int = m.size
  }

  def memo[V]: Memo[V] = new Memo[V]

  /** Drop every registered memo (all sessions, all corpora). Bench calls
    * this once per pass so each pass prices one honest build per
    * artifact; tests call it to isolate builds. GC'd memos are pruned
    * here so the registry itself stays bounded.
    */
  def clearAll(): Unit = {
    clearers.forEach { ref =>
      val memo = ref.get()
      if (memo != null) memo.clear()
    }
    clearers.removeIf(ref => ref.get() == null)
  }

  /** Number of live registered memos — exposed for the registry test. */
  private[graft] def registeredMemoCount: Int = {
    var n = 0
    clearers.forEach(ref => if (ref.get() != null) n += 1)
    n
  }

  /** Eagerly materialize a build-once artifact / iterative round with
    * the deployment-appropriate primitive (see object doc). All graft
    * artifact cuts route through here; raw `localCheckpoint` calls in
    * artifact paths are a bug.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val reliable = GraftConf.materialize(spark) match {
      case "local"    => false
      case "reliable" => true
      case _          => !sc.isLocal // auto
    }
    if (!reliable) df.localCheckpoint(eager = true)
    else {
      if (sc.getCheckpointDir.isEmpty) {
        GraftConf.checkpointDir(spark) match {
          case Some(dir) => sc.setCheckpointDir(dir)
          case None => throw new IllegalStateException(
            "Reliable artifact materialization needs a checkpoint " +
              "directory on shared storage: call " +
              s"SparkContext.setCheckpointDir or set ${GraftConf.checkpointDir.name}. " +
              "(localCheckpoint would lose " +
              "the only copy of this artifact on executor loss.)")
        }
      }
      // checkpoint(eager) on an unpersisted frame computes the plan
      // TWICE: once for the eager action, again when the
      // ReliableCheckpointRDD write job re-pulls the lineage. Persist
      // first so the write job reads the cached blocks, then drop the
      // cache — the checkpoint files are the durable copy. A frame the
      // CALLER already persisted keeps its cache: unpersisting it here
      // would silently evict state the caller still depends on.
      val callerPersisted = df.storageLevel != StorageLevel.NONE
      val persisted =
        if (callerPersisted) df else df.persist(StorageLevel.MEMORY_AND_DISK)
      try persisted.checkpoint(eager = true)
      finally { if (!callerPersisted) { persisted.unpersist(); () } }
    }
  }
}
