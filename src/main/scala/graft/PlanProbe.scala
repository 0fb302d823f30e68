package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Scale-residual adjudication probe: run named queries under the Bench
  * config and report, per query, (a) the FINAL adaptive physical plans —
  * every AQE replan event's last snapshot per SQL execution, which
  * covers cached-plan materializations and subqueries that a plain
  * `df.explain` after the action would hide — and (b) task-metric
  * aggregates (GC time vs run time, spill, shuffle bytes).
  *
  * This is the instrument for the open sf10 e≈1.2 question on
  * q152/q100/q146: a broadcast-threshold crossover shows up as
  * BroadcastHashJoin→SortMergeJoin flips between scale points in (a);
  * a GC regime shift shows up as a rising gcFrac in (b) with an
  * unchanged join census. The dumps are also the plan audit: whether
  * filters reach the scan, small sides broadcast, and aggregates keep
  * their partial phase before the shuffle.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.PlanProbe q152_kcore q100_triangle_count"
  * Env: SPARK_GRAFT_PLAN_OUT — directory for full plan dumps
  *   (default /tmp/graft-plans/<sf-dir-basename>).
  */
object PlanProbe {

  private final class Metrics {
    val gcMs = new AtomicLong
    val runMs = new AtomicLong
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val tasks = new AtomicLong
    def reset(): Unit = Seq(gcMs, runMs, spillMem, spillDisk,
      shuffleRead, shuffleWrite, tasks).foreach(_.set(0))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanProbe <query> [query ...]")
    val sfDir = Harness.env.sfDir
    val outDir = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT",
      s"/tmp/graft-plans/${java.nio.file.Paths.get(sfDir).getFileName}"))
    java.nio.file.Files.createDirectories(outDir)
    val spark = Harness.session("graft-plan-probe")

    val unknown = args.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // executionId → latest physical plan description (AQE updates
    // overwrite; the last one per execution is the final plan)
    val plans = new ConcurrentHashMap[Long, String]()
    // Counts every plan-event arrival, including AQE updates that
    // OVERWRITE an existing executionId entry — those change neither
    // plans.size nor the task metrics, so the quiescence snapshot
    // needs this to notice a final-plan replan landing late.
    val planEvents = new AtomicLong
    val m = new Metrics
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val tm = t.taskMetrics
        if (tm != null) {
          m.gcMs.addAndGet(tm.jvmGCTime)
          m.runMs.addAndGet(tm.executorRunTime)
          m.spillMem.addAndGet(tm.memoryBytesSpilled)
          m.spillDisk.addAndGet(tm.diskBytesSpilled)
          m.shuffleRead.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
          m.shuffleWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
          m.tasks.incrementAndGet()
          ()
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.put(u.executionId, u.physicalPlanDescription)
          planEvents.incrementAndGet(); ()
        case s: SparkListenerSQLExecutionStart =>
          plans.putIfAbsent(s.executionId, s.physicalPlanDescription)
          planEvents.incrementAndGet(); ()
        case _ =>
      }
    })

    def census(text: String): Map[String, Int] =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "BroadcastExchange", "AQEShuffleRead",
        "Exchange hashpartitioning")
        .map(op => op -> op.r.findAllMatchIn(text).size).toMap

    // Probing under both bench actions tells a count-only plan pathology
    // (column pruning shifting AQE's estimates into a worse join
    // strategy) apart from an unpriced-column defect (the q82 class).
    val action = Harness.env.action

    args.foreach { name =>
      plans.clear()
      m.reset()
      Artifacts.clearAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Harness.timedAction(SparkEntry.queries(name)(spark, sfDir))
      val elapsed = (System.nanoTime() - t0) / 1e9
      // The listener bus is async and, at sf10, AQE plan-update events
      // carry multi-MB plan strings — a fixed sleep can read the census
      // before the final replan/task events land (under-counting a real
      // join flip). Poll for quiescence instead: two identical
      // snapshots 500 ms apart, bounded at 30 s.
      def snapshot(): (Int, Long, Long, Long) =
        (plans.size, planEvents.get, m.tasks.get, m.runMs.get)
      var prev = snapshot()
      var settled = false
      val drainDeadline = System.currentTimeMillis() + 30000
      while (!settled && System.currentTimeMillis() < drainDeadline) {
        Thread.sleep(500)
        val cur = snapshot()
        settled = cur == prev
        prev = cur
      }
      val allPlans = {
        import scala.jdk.CollectionConverters._
        plans.asScala.toSeq.sortBy(_._1)
          .map { case (id, p) => s"===== executionId=$id =====\n$p" }
          .mkString("\n\n")
      }
      // count-mode keeps the historical filename so round-over-round
      // plan diffs keep working; checksum dumps sit alongside
      val planFile =
        if (action == "count") s"$name.plan.txt" else s"$name.$action.plan.txt"
      java.nio.file.Files.writeString(outDir.resolve(planFile), allPlans)
      val c = census(allPlans)
      val gcFrac = if (m.runMs.get > 0) m.gcMs.get.toDouble / m.runMs.get else 0.0
      println(f"[probe] $name sf=$sfDir action=$action elapsed=$elapsed%.1fs " +
        f"gc=${m.gcMs.get / 1000.0}%.1fs run=${m.runMs.get / 1000.0}%.1fs " +
        f"gcFrac=$gcFrac%.3f " +
        s"spillMem=${m.spillMem.get} spillDisk=${m.spillDisk.get} " +
        s"shufRd=${m.shuffleRead.get} shufWr=${m.shuffleWrite.get} " +
        s"tasks=${m.tasks.get} joins=" +
        c.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }.mkString(","))
    }
    spark.stop()
  }
}
