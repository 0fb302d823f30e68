package perfbench

import scala.util.control.NonFatal

import graft.{BoxCanary, StealMeter}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven from a single client thread. */
trait Workload {
  /** Load the tables and warm up on a freshly started session. */
  def setup(spark: SparkSession): Unit

  /** Run operations until `deadlineNs`; traced when `probe` is set. */
  def run(deadlineNs: Long, ops: Ops, probe: Option[Probe]): Unit
}

/** Tracing for one phase: spans around the benchmark's calls into the
  * engine, plus listener counters attributed to each request by draining
  * the listener bus before and after it (outside its timed interval).
  */
final class Probe(spark: SparkSession, val tracer: Tracer, counters: Counters, sink: Sink) {
  private var before: Map[String, Double] = Map.empty
  private val local = scala.collection.mutable.Map.empty[String, Double]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** A count measured by the benchmark itself, e.g. rows collected. */
  def count(name: String, v: Double): Unit = local(name) = local.getOrElse(name, 0.0) + v

  def begin(): Unit = {
    Bus.drain(spark.sparkContext)
    before = counters.snapshot()
    local.clear()
  }

  def end(req: Int): Unit = {
    Bus.drain(spark.sparkContext)
    val delta = counters.snapshot().map { case (k, v) => k -> (v - before(k)) }
    sink.emit("type" -> "counts", "req" -> req, "values" -> (delta ++ local))
  }
}

/** Times each operation and records it, failures included: a failed
  * operation keeps its elapsed time, its exception class and message.
  */
final class Ops(sink: Sink, phase: String) {
  private var req = 0
  var done = 0

  /** Runs `body` as one request; returns its id and whether it succeeded. */
  def timed(kind: String, detail: Map[String, Any], probe: Option[Probe])(
      body: => Map[String, Any]): (Int, Boolean) = {
    val id = req
    req += 1
    probe.foreach(_.begin())
    val t0 = System.nanoTime()
    val out: Either[Throwable, Map[String, Any]] =
      try Right(probe match {
        case Some(p) => p.tracer.request(id, kind)(body)
        case None => body
      }) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    probe.foreach(_.end(id))
    done += 1
    val fields = Seq("type" -> "op", "phase" -> phase, "req" -> id, "kind" -> kind,
      "ms" -> ms, "ok" -> out.isRight) ++ detail ++ (out match {
      case Right(extra) => extra
      case Left(e) => Map("error_class" -> e.getClass.getName,
        "error" -> String.valueOf(e.getMessage).take(2000))
    })
    sink.emit(fields: _*)
    (id, out.isRight)
  }
}

object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val sink = new Sink(o("out"))
    val seconds = o("seconds").toDouble
    val workload: Workload = o("workload") match {
      case "interactive" | "catalog" => Interactive(o("data"), o("script"), sink)
      case "suite" => Suite(o("data"), o("queries"), o("checksums"), sink)
    }
    val ticks0 = StealMeter.cpuTicks()
    val canary0 = BoxCanary.sample()

    // Set-up is repeated on a fresh SparkContext each time; run.py
    // reports the median, and the last session is the one measured.
    var spark: SparkSession = null
    for (i <- 1 to o("setups").toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o("work"))
      workload.setup(spark)
      sink.emit("type" -> "setup", "i" -> i, "s" -> (System.nanoTime() - t0) / 1e9)
    }

    def phase(name: String, probe: Option[Probe]): Unit = {
      val ops = new Ops(sink, name)
      val t0 = System.nanoTime()
      workload.run(t0 + (seconds * 1e9).toLong, ops, probe)
      sink.emit("type" -> "phase", "name" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
        "ops" -> ops.done)
    }
    phase("untraced", None)
    if (o("trace") == "1") {
      // Traced after the untraced phase of the same session: the pair
      // gives the tracing overhead on the same warm state.
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val tracer = new Tracer
      phase("traced", Some(new Probe(spark, tracer, counters, sink)))
      for (s <- tracer.spans)
        sink.emit("type" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    sink.emit("type" -> "end", "peak_rss_mb" -> peakRssMb(), "cached_mb" -> cachedMb)
    spark.stop()
    val canary1 = BoxCanary.sample()
    sink.emit("type" -> "env", "steal_frac" -> StealMeter.stealFrac(ticks0, StealMeter.cpuTicks()),
      "canary_one_core_s" -> Seq(canary0._1, canary1._1),
      "canary_all_cores_s" -> Seq(canary0._2, canary1._2))
    sink.close()
  }
}
