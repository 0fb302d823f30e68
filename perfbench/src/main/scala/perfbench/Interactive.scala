package perfbench

import graft.qa.Retriever
import graft.queries.Helpers
import graft.rank.{MMR, Ranker}
import graft.sources.Tables
import graft.vector.VectorOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One scripted request: `arg` is the query vector id of a recommend, or
  * the focused rank (1-based) of a question. */
final case class Request(kind: String, session: Int, arg: Long, text: String)

/** The REPL user (graft.Repl): each session is one recommend followed by
  * questions about a focused product, each request waiting for the last.
  * Untraced requests make exactly Repl's calls; traced requests make the
  * same calls split at the engine's public seams, and are checked against
  * the undivided calls after their timed interval.
  */
final class Interactive(data: String, sessions: IndexedSeq[IndexedSeq[Request]], sink: Sink)
    extends Workload {
  import Interactive._

  private var spark: SparkSession = _
  private var emb: DataFrame = _
  private var meta: DataFrame = _
  private var chunks: DataFrame = _
  private val vectors = scala.collection.mutable.Map.empty[Long, Array[Double]]
  private var next = 0

  def setup(s: SparkSession): Unit = {
    spark = s
    emb = Tables.embeddings(s, data)
      .select(col("vec_id").as("id"), VectorOps.asDouble(col("embedding")).as("vec"))
    meta = Helpers.metaAnalog(Tables.documents(s, data))
    chunks = Retriever.chunksFromMeta(meta, "id", ChunkFields)
    vectors.clear()
    next = 0
    fetchVectors(0)
    // The warm-up session is the script's last one, which no run
    // reaches, so it leaves nothing cached for a measured request.
    session(sessions.last, new Ops(sink, "warmup"), None)
  }

  /** Query vectors are inputs, read from the catalog before the requests
    * that use them, a block of sessions at a time and outside any timing. */
  private def fetchVectors(from: Int): Unit = {
    val ids = (sessions.slice(from, from + Block) :+ sessions.last)
      .flatten.filter(_.kind == "recommend").map(_.arg).distinct
    Tables.embeddings(spark, data).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")))
      .collect().foreach(r => vectors(r.getLong(0)) = r.getSeq[Double](1).toArray)
  }

  def run(deadlineNs: Long, ops: Ops, probe: Option[Probe]): Unit =
    while (System.nanoTime() < deadlineNs) {
      if (next > 0 && next % Block == 0) fetchVectors(next)
      session(sessions(next), ops, probe)
      next += 1
    }

  private def session(reqs: Seq[Request], ops: Ops, probe: Option[Probe]): Unit = {
    var ranked: Array[Row] = null
    for (r <- reqs) {
      val detail = Map[String, Any]("session" -> r.session, "text" -> r.text)
      if (r.kind == "recommend") {
        ranked = null
        val qv = vectors(r.arg)
        var out: Array[Row] = null
        val (id, ok) = ops.timed("recommend", detail, probe) {
          out = probe.fold(recommend(r.text, qv))(p => recommendTraced(p, r.text, qv))
          checkRanking(out)
          Map("ids" -> out.map(_.getLong(0)).toSeq)
        }
        if (ok) ranked = out
        if (ok && probe.isDefined) verify(id) {
          val ref = Ranker.recommend(spark, emb, meta, r.text, qv).collect()
          require(ref.map(rowKey).sameElements(out.map(rowKey)),
            "scoreCandidates -> collect -> MMR.select differs from Ranker.recommend")
        }
      } else {
        var answer: String = null
        val (id, ok) = ops.timed("qa", detail + ("rank" -> r.arg), probe) {
          require(ranked != null, "no ranking in this session")
          val focus = ranked(r.arg.toInt - 1).getLong(0)
          answer = probe.fold(Retriever.answerContext(chunks, focus, r.text))(
            p => answerTraced(p, focus, r.text))
          require(answer.nonEmpty, s"empty answer context for product $focus")
          Map("focus" -> focus)
        }
        if (ok && probe.isDefined) verify(id) {
          val focus = ranked(r.arg.toInt - 1).getLong(0)
          require(Retriever.answerContext(chunks, focus, r.text) == answer,
            "retrieve -> collect differs from Retriever.answerContext")
        }
      }
    }
  }

  private def verify(id: Int)(check: => Unit): Unit = {
    val err = try { check; None } catch { case scala.util.control.NonFatal(e) => Some(e) }
    sink.emit("type" -> "check", "req" -> id, "ok" -> err.isEmpty,
      "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
  }

  /** Repl's recommend: the ranked list, then the titles it prints. */
  private def recommend(text: String, qv: Array[Double]): Array[Row] = {
    val ranked = Ranker.recommend(spark, emb, meta, text, qv)
      .orderBy(col("has_price").desc, col("mmr_pos").asc)
      .collect()
    titles(ranked)
    ranked
  }

  /** The same work as [[recommend]], split where Ranker.recommend calls
    * scoreCandidates, collects, and runs MMR.select. */
  private def recommendTraced(p: Probe, text: String, qv: Array[Double]): Array[Row] = {
    val cfg = Ranker.Config()
    val scored = p.span("rank.score_build")(Ranker.scoreCandidates(emb, meta, text, qv, cfg))
    val rows = p.span("rank.collect")(scored.select("id", "score", "vec", "price").collect())
    p.count("rank.candidates", rows.length)
    val picked = p.span("rank.mmr") {
      val cands = rows.map(r => MMR.Candidate(r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
      MMR.select(cands.toSeq, cfg.finalK, cfg.lambda)
    }
    val ranked = p.span("rank.output") {
      val hasPrice = rows.map(r => r.getLong(0) -> !r.isNullAt(3)).toMap
      val out = picked.zipWithIndex.map { case (c, i) =>
        Row(c.id, c.score, (i + 1).toLong, hasPrice(c.id))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(out.toList, 1), OutSchema)
        .orderBy(col("has_price").desc, col("mmr_pos").asc)
        .orderBy(col("has_price").desc, col("mmr_pos").asc)
        .collect()
    }
    p.span("rank.titles")(titles(ranked))
    p.count("result.rows", ranked.length)
    ranked
  }

  private def answerTraced(p: Probe, focus: Long, question: String): String = {
    val df = p.span("qa.retrieve_build")(Retriever.retrieve(chunks, focus, question))
    val rows = p.span("qa.collect")(df.collect())
    p.count("result.rows", rows.length)
    rows.map(_.getAs[String]("chunk")).mkString("\n")
  }

  private def titles(ranked: Array[Row]): Map[Long, String] = {
    val ids = spark.createDataFrame(ranked.map(r => Tuple1(r.getLong(0))).toSeq).toDF("id")
    val t = meta.join(ids, "id").select(col("id"), col("title"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    require(ranked.forall(r => t.contains(r.getLong(0))), "a ranked product has no title")
    t
  }
}

object Interactive {
  /** The chunk fields graft.Repl answers from. */
  val ChunkFields = Seq("title", "summary", "rating", "review_count", "price")
  val Block = 256

  private val OutSchema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("mmr_pos", LongType), StructField("has_price", BooleanType)))

  private def rowKey(r: Row): (Long, Double, Long, Boolean) =
    (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3))

  /** finalK rows, the with-price block first (rank.py:327-337). */
  def checkRanking(rows: Array[Row]): Unit = {
    val k = Ranker.Config().finalK
    require(rows.length == k, s"recommend returned ${rows.length} rows, expected $k")
    val hasPrice = rows.map(_.getBoolean(3))
    require(hasPrice.dropWhile(identity).forall(!_), "a priced product follows an unpriced one")
  }

  def apply(data: String, script: String, sink: Sink): Interactive = {
    val src = scala.io.Source.fromFile(script, "UTF-8")
    val reqs = try src.getLines().map { l =>
      val f = l.split("\t", 4)
      Request(f(0), f(1).toInt, f(2).toLong, f(3))
    }.toIndexedSeq finally src.close()
    new Interactive(data, reqs.groupBy(_.session).toIndexedSeq.sortBy(_._1).map(_._2), sink)
  }
}
