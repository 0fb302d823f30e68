package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object Bench {
  /** One query's pass: elapsed seconds (negative when it failed), the
    * stolen CPU fraction, and the Janino compiles it paid with their
    * time. The codegen cache is JVM-wide and outlives `clearAll`, so a
    * later pass mostly reuses the first pass's classes. */
  private final case class Timing(elapsed: Double, steal: Double, compiles: Long, compileMs: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.env.sfDir
    val action = Harness.env.action
    val spark = Harness.session("graft-bench")
    // CPU-steal instrumentation (see StealMeter): per-query and per-run
    // stolen fractions ride in the artifact so a slow entry carries its
    // own environmental adjudication.
    import StealMeter.{cpuTicks, stealFrac}
    import Harness.num4

    val selected = Harness.selected
    // a FAILED query is recorded as a NEGATIVE elapsed (sentinel in the
    // artifact itself, not just a stderr line) and excluded from the
    // cross-pass min and the total — a fast time-to-exception must never
    // masquerade as a fast query
    def onePass(): Map[String, Timing] = {
      // each pass pays exactly one suffix-array build, one BPE training
      // loop, one edge-artifact build: reuse WITHIN a pass is the
      // artifact design (index / tokenizer / edge table), but a warm
      // second pass hiding a whole build cost from the min would be
      // dishonest. One registry-wide clear — every Artifacts.memo is
      // covered by construction, so a future build-once cache cannot
      // silently bench warm.
      graft.Artifacts.clearAll()
      selected.map { case (name, fn) =>
        val s0 = cpuTicks()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        val ok =
          try { Harness.timedAction(fn(spark, sfDir)); true } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        val steal = stealFrac(s0, cpuTicks())
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val compileMs = (CodeGenerator.compileTime - cNs0) / 1e6
        // drop per-query persisted state so one query's cache cannot
        // pressure the next (single-JVM bench hygiene; outside the timing)
        spark.catalog.clearCache()
        name -> Timing(if (ok) elapsed else -elapsed, steal, compiles, compileMs)
      }
    }
    // absolute box-speed canary (see BoxCanary): steal can be ~0 while
    // the host runs 20%+ slow, so every artifact carries a fixed-work
    // timing at run start and end — two artifacts compare window speed
    // by these fields alone
    // pass count: 2 (min-of-two) is the committed methodology — a lone
    // shared-JVM pass occasionally eats a GC/JIT storm — but hour-scale
    // scale probes (sf10 sweeps) can set 1 to spend the wall budget on
    // more configs instead of a second pass; the artifact records it
    val passes = Harness.positiveInt("SPARK_GRAFT_PASSES",
      sys.env.getOrElse("SPARK_GRAFT_PASSES", "2"), max = 4)
    val canary0 = BoxCanary.sample()
    val runTicks0 = cpuTicks()
    val ps = Seq.fill(passes)(onePass())
    val runSteal = stealFrac(runTicks0, cpuTicks())
    // End-of-run canary: sampled AFTER spark.stop() plus a GC and a
    // short settle. Round 12 caught the live-session sample reading the
    // just-finished run's own JVM turmoil rather than the box: a full
    // suite's end sample read oneCore 1.348 / allCores 2.22 while
    // standalone processes in the same window read ≈1.09 / 1.36
    // (shuffle-cleanup and GC threads competing with the spin). The
    // spin itself — the unit, checksum-pinned in BoxCanarySpec — is
    // unchanged; only the sampling environment gets clean.
    spark.stop()
    System.gc()
    Thread.sleep(1000)
    // Retry-until-stable (round 13): one settled sample is NOT enough
    // under the sbt harness — the driver's r12 artifact read end oneCore
    // 1.935 vs start 1.108 after the settle fix, while bare-java legs
    // read clean; surviving harness/shutdown threads drain on their own
    // schedule. Sample until two CONSECUTIVE oneCore readings agree
    // within 5% (the unit's minute-scale noise band), bounded at 5
    // samples: genuine box slowness repeats and is reported; decaying
    // self-turmoil is waited out. The artifact says which happened
    // (endStable) so a never-stable end is visibly untrusted.
    var prevEnd = BoxCanary.sample()
    var endSamples = 1
    var endStable = false
    while (!endStable && endSamples < 5) {
      Thread.sleep(2000)
      val next = BoxCanary.sample()
      endStable =
        math.abs(next._1 - prevEnd._1) <= 0.05 * math.min(next._1, prevEnd._1)
      prevEnd = next
      endSamples += 1
    }
    val canary1 = prevEnd
    // min elapsed across passes; the reported steal and compiles are the
    // ones measured DURING the winning pass (the annotation travels with
    // the number).
    // Pairwise merge preserves the two-pass semantics: min of the
    // successful elapseds, or the slower (more negative) sentinel when
    // every pass failed.
    val results = ps.reduce { (a, b) =>
      a.map { case (k, v1) =>
        val v2 = b.getOrElse(k, v1)
        val both = Seq(v1, v2)
        val good = both.filter(_.elapsed >= 0)
        k -> (if (good.nonEmpty) good.minBy(_.elapsed) else both.minBy(_.elapsed))
      }
    }
    def perQuery(f: Timing => String) =
      results.map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val qs = perQuery(_.elapsed.toString)
    val st = perQuery(v => num4(v.steal))
    val cg = perQuery(v => s"""{"compiles":${v.compiles},"ms":${num4(v.compileMs)}}""")
    val total = results.values.map(_.elapsed).filter(_ >= 0).sum
    // "mode" tags the end-sample regime INSIDE canarySec so it survives
    // merge_bench.py's per-leg copy: untagged artifacts predate the
    // retry-until-stable end sampling and their end samples are only an
    // upper bound (normalize_bench.py uses their START sample alone)
    val canary =
      s"""{"oneCore":[${num4(canary0._1)},${num4(canary1._1)}],"allCores":[${num4(canary0._2)},${num4(canary1._2)}],"mode":"post-stop-stable","endStable":$endStable,"endSamples":$endSamples}"""
    // Field ORDER is chosen for truncation robustness (r13 verdict item
    // 5/7): the driver captures a bounded stdout TAIL, which keeps the
    // END of this line. With the two ~10 KB per-query maps first and
    // every summary scalar (metric/value/unit/sf/...) last, a tail that
    // cuts the line mid-queries still carries the whole summary —
    // regex-recoverable even though the clipped prefix is not JSON.
    // Same fields as every prior round (JSON object order is not
    // semantic), so round-over-round comparison tooling is unaffected;
    // the complete line is also written to disk below.
    val line =
      s"""{"queries":$qs,"steal":$st,"canarySec":$canary,"metric":"total","value":$total,"unit":"sec","action":"$action","passes":$passes,"sf":"$sfDir","stealFrac":${num4(runSteal)}}"""
    println(line)
    // the driver captures a bounded stdout TAIL (a full suite truncates
    // mid-JSON there), so the complete artifact is also written to disk
    // for round-over-round audits
    // default to a DRIVER-run filename: the committed BENCH_full.json is
    // the builder's isolated min-merge artifact and must not be
    // overwritten by post-round contended runs (builder runs set
    // SPARK_GRAFT_BENCH_OUT=BENCH_full.json explicitly). Only the file
    // carries the per-query codegen map, so the stdout line keeps its
    // length: Janino compiles (a CodegenMetrics count delta) and their
    // ms (a CodeGenerator.compileTime delta).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_driver.json")
    val disk = s"""{"codegen":$cg,""" + line.drop(1)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), disk + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
  }
}
