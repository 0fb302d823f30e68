package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table: the streaming
  * twin of EventQueries.q30 — watermarked tumbling-window aggregation.
  *
  * The parquet files carry `ts` as TIMESTAMP(MICROS); the source surfaces
  * it both as the engine's canonical bigint nanos (`ts`) and as a proper
  * timestamp (`event_ts`) for event-time semantics. At scale this is the
  * standard file-source → watermark → window → sink pipeline; swap the
  * source for Kafka and the sink for a Delta/parquet append without
  * touching the aggregation.
  */
object EventsStream {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), // micros since epoch on disk
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-store backend seam, mirroring `spark.graft.materialize`:
    * `spark.graft.stateStore` = `auto` (default: local master → Spark's
    * default HDFS-backed in-memory provider, else RocksDB) | `hdfs` |
    * `rocksdb`. The default provider keeps EVERY key's state on the
    * executor heap between commits — at 100 TB event volume (billions of
    * session/join keys) that OOMs executors; RocksDB spills state to
    * local disk with a bounded block cache and only uploads changelogs
    * at commit, which is the documented large-state deployment. Locally
    * the default provider stays: zero native-lib dependency in the hot
    * test path, and state volumes are tiny. Returns the provider class
    * to pin at query start, or None to leave Spark's default.
    */
  private[graft] def stateStoreProvider(spark: SparkSession): Option[String] = {
    val rocks = graft.GraftConf.stateStore(spark) match {
      case "hdfs"    => false
      case "rocksdb" => true
      case _         => !spark.sparkContext.isLocal // auto
    }
    if (rocks) Some(RocksDbProvider) else None
  }

  /** Run `f` with streaming-shaped session conf: a reduced
    * shuffle-partition count (each stateful operator materializes one
    * state store per shuffle partition per micro-batch, so at local
    * event volumes 32 partitions are pure commit overhead) and the
    * deployment-appropriate state-store provider (see
    * [[stateStoreProvider]]). Both are captured when the streaming query
    * STARTS, so the override must wrap `start()`. (At cluster scale the
    * right partition number is sized to state volume, not core count —
    * this helper is where that policy lives.)
    */
  def withStreamShufflePartitions[T](spark: SparkSession, n: Int = 8)(f: => T): T = {
    val PartsKey = "spark.sql.shuffle.partitions"
    val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
    // resolve BEFORE mutating any conf: stateStoreProvider throws on a
    // bad spark.graft.stateStore value, and a throw between set and the
    // try/finally below would leak the partition override into the
    // shared session (Bench/Verify catch per query and keep going — the
    // rest of the run would silently time at n partitions)
    val provider = stateStoreProvider(spark)
    val prevParts = spark.conf.get(PartsKey)
    // conf.getOption would return the SQLConf DEFAULT
    // (HDFSBackedStateStoreProvider) even when the key was never set,
    // making the unset-restore branch dead and leaving the session
    // pinned to the resolved default after the first wrapper use.
    // conf.getAll contains only explicitly-set entries, so this
    // restores a truly-unset key to unset.
    val prevProvider = spark.conf.getAll.get(ProviderKey)
    spark.conf.set(PartsKey, n.toString)
    provider.foreach(spark.conf.set(ProviderKey, _))
    try f finally {
      spark.conf.set(PartsKey, prevParts)
      prevProvider match {
        case Some(p) => spark.conf.set(ProviderKey, p)
        case None    => spark.conf.unset(ProviderKey)
      }
    }
  }

  /** Spark initializes every event-time watermark to 0 ms = the epoch,
    * so ANY stateful streaming operator silently drops pre-1970 rows as
    * late in their very first micro-batch (pinned in PreEpochSpec). A
    * pipeline replaying historical/synthetic corpora would lose rows
    * with zero diagnostics — this guard makes the loss loud.
    * `spark.graft.preEpochGuard` = `warn` (default: per-batch observed
    * metric + WARN log with the dropped-row count) | `fail` (abort the
    * query on the first pre-epoch row) | `off`.
    */
  private val PreEpochGuardKey = graft.GraftConf.preEpochGuard.name
  private[graft] val PreEpochMetric = "graft_pre_epoch"

  // sessions whose StreamingQueryListener is already registered; weak so
  // a static set never pins stopped test sessions
  private val warnRegistered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def registerPreEpochWarnListener(spark: SparkSession): Unit =
    if (warnRegistered.add(spark)) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import StreamingQueryListener.{QueryStartedEvent, QueryProgressEvent, QueryTerminatedEvent}
      spark.streams.addListener(new StreamingQueryListener {
        private val log = org.slf4j.LoggerFactory.getLogger("graft.PreEpochGuard")
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val m = e.progress.observedMetrics.get(PreEpochMetric)
          if (m != null && !m.isNullAt(0) && m.getAs[Long]("pre_epoch_rows") > 0L)
            log.warn(s"[GRAFT_PRE_EPOCH] query=${e.progress.name} " +
              s"batch=${e.progress.batchId}: " +
              s"${m.getAs[Long]("pre_epoch_rows")} pre-1970 rows entered a " +
              "watermarked stream — stateful operators DROP these as late " +
              "(Spark's watermark floor is the epoch). Shift the corpus " +
              s"epoch, or set $PreEpochGuardKey=fail to abort / =off to silence.")
        }
      })
    }

  private def guardPreEpoch(spark: SparkSession, df: DataFrame): DataFrame =
    graft.GraftConf.preEpochGuard(spark) match {
      case "off" => df
      case "fail" =>
        // wrap the canonical nanos column itself: event_ts derives from
        // it, so column pruning can never project the guard away in any
        // consumer that touches event time
        df.withColumn("ts", when(col("ts") >= 0L, col("ts")).otherwise(
          raise_error(concat(
            lit("[GRAFT_PRE_EPOCH] pre-1970 event timestamp (ns="),
            col("ts").cast("string"),
            lit(") in a watermarked stream: stateful operators would drop " +
              s"it silently. Shift the corpus epoch or set $PreEpochGuardKey" +
              "=warn|off.")))))
      case _ => // warn
        registerPreEpochWarnListener(spark)
        df.observe(PreEpochMetric,
          count(when(col("ts") < 0L, 1)).as("pre_epoch_rows"))
    }

  /** readStream over a directory of events parquet. */
  def source(spark: SparkSession, dir: String): DataFrame =
    guardPreEpoch(spark,
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
        // canonical bigint nanos for downstream integer bucketing (exact ×1000)
        .withColumn("ts", expr(graft.sources.Tables.TsToNanos)))
      // proper instant (UTC semantics) for watermarks/windows — exact
      // integer micros, same shape the batch twin q30 buckets on
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))

  /** Watermarked tumbling-window counts/sums per event_type. */
  def hourlyAgg(events: DataFrame, watermark: String = "1 hour",
                window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("value_sum"))

  /** Run the stream to completion against a static directory via the
    * memory sink (local smoke path); returns the materialized result.
    */
  def runOnce(spark: SparkSession, dir: String,
              queryName: String = "events_hourly"): DataFrame =
    withStreamShufflePartitions(spark) {
      val q = hourlyAgg(source(spark, dir))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(queryName)
    }

  /** Stage `srcParquet` into a fresh stream directory followed by a
    * sentinel file: one far-future event per user, in a strictly later
    * microbatch (maxFilesPerTrigger=1 + later modification time). The
    * sentinel's gap forcibly closes every open session, so the emitted
    * session set equals the batch (lag/cumsum) sessionization of the real
    * events — which is what makes q35 exactly oracle-checkable. The
    * sentinel sessions themselves stay in state and are never emitted.
    * This mirrors the standard production pattern of flushing stream
    * state with an end-of-stream marker before decommissioning a job.
    */
  /** @param sentinelBatches number of strictly-later sentinel FILES
    *   (= micro-batches at maxFilesPerTrigger=1). Stateful operators
    *   that act on a watermark computed from the PREVIOUS batch (outer
    *   joins flushing unmatched rows) need 2: the first sentinel batch
    *   advances the watermark, the second runs WITH it so the flush
    *   lands inside processAllAvailable's window.
    */
  /** @param perUser one sentinel row per distinct user (needed when the
    *   sentinel must CLOSE per-key state, e.g. q35's sessions); false =
    *   a single row, enough when it only needs to advance the watermark
    *   (e.g. q158's outer-join flush) — skips the distinct job and
    *   keeps sentinel join state O(1).
    */
  def stageWithSentinel(spark: SparkSession, srcParquet: String,
                        sentinelBatches: Int = 1,
                        perUser: Boolean = true): String = {
    val tmp = graft.sources.Staging.scratchDir("events-sess")
    val mains = graft.sources.Staging.stageTable(srcParquet, tmp, "events")
    val ev = spark.read.parquet(srcParquet)
    // sentinel ts must match the on-disk TIMESTAMP_NTZ(MICROS) schema: 100
    // days past the max event, computed tz-free in exact integer micros
    val maxUs = ev.agg(max(expr(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
      .head().getLong(0)
    val users =
      if (perUser) ev.select(col("user_id")).distinct()
      else ev.sparkSession.range(1).select(lit(0L).as("user_id"))
    val sentinel = users
      .select(lit(0L).as("event_id"),
        expr(s"timestampadd(MICROSECOND, ${maxUs + 86400L * 1000000L * 100L}, " +
          "TIMESTAMP_NTZ '1970-01-01 00:00:00')").as("ts"),
        col("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
    val sentDir = graft.sources.Staging.scratchDir("events-sentinel")
    sentinel.repartition(1).write.mode("overwrite").parquet(sentDir.toString)
    val part = java.nio.file.Files.list(sentDir).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    // file source orders batches by modification time: sentinels strictly last
    mains.foreach(m => java.nio.file.Files.setLastModifiedTime(m,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)))
    (1 to sentinelBatches).foreach { i =>
      val dest = tmp.resolve(s"z_sentinel_$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 60000L * i))
    }
    tmp.toString
  }

  final case class Event(event_id: Long, ts: Long, user_id: Long,
                         event_type: String, value_micros: Long)
  final case class SessionState(start: Long, last: Long, n: Long, valueMicros: Long)
  final case class Session(user_id: Long, session_start: Long, n_events: Long,
                           duration_sec: Long, value_sum: Double)

  /** Custom-state sessionization with flatMapGroupsWithState: events of a
    * user belong to one session while gaps stay under `gapSec`; a session
    * closes on a larger gap (emitting it) or on event-time timeout once
    * the watermark passes. This is the canonical stateful-streaming shape
    * (KeyValueGroupedDataset + GroupState) that windowed aggregation
    * cannot express.
    */
  def sessionize(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val NanosPerSec = 1000000000L

    // value is accumulated as exact decimal micro-units (Long): per-session
    // sums are then independent of event arrival order and bit-identical
    // to the oracle's sum(CAST(value AS DECIMAL(20,6))).
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        graft.queries.Helpers.micros(col("value")).as("value_micros"))
      .as[Event]

    def fn(userId: Long, it: Iterator[Event],
           state: GroupState[SessionState]): Iterator[Session] = {
      val sorted = it.toSeq.sortBy(e => (e.ts, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      def emit(s: SessionState): Unit =
        out += Session(userId, s.start / NanosPerSec, s.n,
          (s.last - s.start) / NanosPerSec, s.valueMicros.toDouble / 1e6)
      var cur = state.getOption
      if (state.hasTimedOut) {
        cur.foreach(emit)
        state.remove()
        cur = None
      }
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts - s.last <= gapSec * NanosPerSec =>
            cur = Some(SessionState(s.start, e.ts, s.n + 1,
              s.valueMicros + e.value_micros))
          case Some(s) =>
            emit(s)
            cur = Some(SessionState(e.ts, e.ts, 1, e.value_micros))
          case None =>
            cur = Some(SessionState(e.ts, e.ts, 1, e.value_micros))
        }
      }
      cur.foreach { s =>
        val timeoutMs = s.last / 1000000L + gapSec * 1000L
        // multi-batch streams can advance the global watermark past this
        // key's gap while the key sits idle (each micro-batch is one
        // staged file): a session whose timeout is already ≤ watermark
        // can receive no further events — event-time rows behind the
        // watermark are dropped — so flushing it NOW is exactly what the
        // rejected timeout would have done. Registering the stale
        // timestamp instead throws FLATMAPGROUPSWITHSTATE_USER_FUNCTION
        // _ERROR (surfaced by the sf1 multi-part staging).
        if (timeoutMs <= state.getCurrentWatermarkMs()) {
          emit(s)
          state.remove()
        } else {
          state.update(s)
          state.setTimeoutTimestamp(timeoutMs)
        }
      }
      out.iterator
    }

    typed
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "1 hour")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  /** One key's live KMV sketch plus a per-key update sequence number —
    * `seq` makes "the final state" selectable deterministically from an
    * update-mode sink (kth is not monotone while the sketch fills).
    */
  case class KmvUpdate(event_type: String, seq: Long, k_eff: Long, kth: Long)
  case class KmvState(seq: Long, hs: Array[Long])

  /** Streaming KMV distinct-count sketch per event type, maintained as
    * mapGroupsWithState custom state (the q67 Aggregator's zero/reduce
    * reused verbatim, so stream ≡ batch by construction). Each
    * micro-batch emits the key's current (seq, kEff, kth); the caller
    * keeps the max-seq row per key. State is the bounded ≤k-long array —
    * the streaming cardinality monitor whose memory never grows with
    * the stream.
    */
  def streamingKmv(events: DataFrame, k: Int = 32): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val agg = new graft.sketch.KmvAgg(k)
    def fn(key: String, it: Iterator[(String, Long)],
           state: GroupState[KmvState]): Iterator[KmvUpdate] = {
      val prev = state.getOption.getOrElse(KmvState(0L, Array.emptyLongArray))
      var buf = graft.sketch.KmvBuf(prev.hs)
      it.foreach(p => buf = agg.reduce(buf, p._2))
      val next = KmvState(prev.seq + 1, buf.hs)
      state.update(next)
      val r = agg.finish(buf)
      Iterator(KmvUpdate(key, next.seq, r.kEff, r.kth))
    }
    events
      .select(col("event_type"),
        graft.text.StableHash64(
          concat(lit("u:"), col("user_id").cast("string"))).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }
}
