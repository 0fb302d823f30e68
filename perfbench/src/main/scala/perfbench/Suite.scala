package perfbench

import graft.{Artifacts, SparkEntry}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Registry queries under the whole-row checksum action (graft.Bench's
  * `checksum` mode): each query's bit_xor(xxhash64(row)) must equal the
  * value recorded from the seed code, or the query counts as failed.
  * With no recorded values (`checksums` = "-") it only records them.
  */
final class Suite(data: String, order: IndexedSeq[String], expected: Option[Map[String, String]],
    sink: Sink) extends Workload {
  import Suite._

  private var spark: SparkSession = _

  def setup(s: SparkSession): Unit = {
    spark = s
    Artifacts.clearAll()
    checksum(SparkEntry.queries(WarmUp)(s, data))
    s.catalog.clearCache()
  }

  /** Whole passes over `order`; another pass starts only when the last
    * one still fits before the deadline. */
  def run(deadlineNs: Long, ops: Ops, probe: Option[Probe]): Unit = {
    val queries = SparkEntry.queries
    var passNs = 0L
    var pass = 0
    while (pass == 0 || System.nanoTime() + passNs < deadlineNs) {
      val t0 = System.nanoTime()
      // each pass builds its artifacts (index, tokenizer, edges) afresh
      Artifacts.clearAll()
      for (name <- order) {
        ops.timed("query", Map("name" -> name, "module" -> Modules.getOrElse(name, "other"),
            "pass" -> pass), probe) {
          val cs = checksum(queries(name)(spark, data))
          for (want <- expected)
            require(want.get(name).contains(cs),
              s"checksum $cs, recorded ${want.getOrElse(name, "none")}")
          Map("checksum" -> cs)
        }
        // one query's persisted state must not pressure the next
        spark.catalog.clearCache()
      }
      passNs = System.nanoTime() - t0
      pass += 1
    }
  }
}

object Suite {
  /** The untimed warm-up query of every set-up: the same on every seed,
    * so set-up time does not depend on the shuffled order. */
  val WarmUp = "q09_customers_with_orders"

  /** Query name → registry module, through each module's public `.all`. */
  val Modules: Map[String, String] = Seq(
    "RelationalQueries" -> RelationalQueries.all, "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all, "VectorQueries" -> VectorQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "EventQueries" -> EventQueries.all,
    "RankQueries" -> RankQueries.all, "ScaleQueries" -> ScaleQueries.all,
    "StatQueries" -> StatQueries.all, "AnalyticsQueries" -> AnalyticsQueries.all,
    "LayoutQueries" -> LayoutQueries.all, "CurationQueries" -> CurationQueries.all,
    "SketchQueries" -> SketchQueries.all, "GraphQueries" -> GraphQueries.all,
    "PruneQueries" -> PruneQueries.all, "SurfaceQueries" -> SurfaceQueries.all,
    "QualityQueries" -> QualityQueries.all, "EvalQueries" -> EvalQueries.all,
    "RetrievalQueries" -> RetrievalQueries.all, "MiningQueries" -> MiningQueries.all,
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def checksum(df: DataFrame): String =
    String.valueOf(df.agg(bit_xor(xxhash64(struct(col("*"))))).head().get(0))

  private def lines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  def apply(data: String, queries: String, checksums: String, sink: Sink): Suite = {
    val order = lines(queries) match {
      case Seq("ALL") => SparkEntry.allQueries.map(_.name).toIndexedSeq
      case names => names.toIndexedSeq
    }
    val unknown = order.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    val expected = if (checksums == "-") None
      else Some(lines(checksums).map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap)
    new Suite(data, order, expected, sink)
  }
}
