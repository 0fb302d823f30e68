package graft.queries

import graft.multimodal.Multimodal
import graft.pipeline.EmbedJob
import graft.qa.Retriever
import graft.similarity.Knn
import graft.sources.Tables
import graft.text.StableHash
import graft.vector.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline extensions: ANN similarity search, multimodal decode
  * plumbing, the offline embedding job (reference entry point A), and
  * the RAG retrieval dataflow (reference entry point C).
  */
object PipelineQueries {
  import Helpers._

  /** The 256-byte windows of every audio payload with their RMS energy,
    * taken from the window's exact integer sum of squared deviations
    * (q117, q205).
    */
  private def audioRms(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioWindows(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir))
          .filter(col("kind") === "audio"))
      .withColumn("rms",
        round(sqrt(col("sum_sq").cast("double") / col("n_bytes")), 6))

  /** DuckDB twin of [[audioRms]]: `e(id, win_idx, rms)`. */
  private val audioRmsSql =
    """media AS (
      |  SELECT doc_id AS id, text FROM documents
      |  WHERE (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] = 'audio'),
      |w AS (SELECT id, unnest(range(0, length(text), 256)) AS start, text
      |      FROM media),
      |win AS (SELECT id, start // 256 AS win_idx,
      |          substr(text, CAST(start + 1 AS INT), 256) AS frame FROM w),
      |e AS (SELECT id, win_idx, round(sqrt(CAST(list_sum(list_transform(
      |          string_split(frame, ''), c -> CAST((ascii(c) - 128)
      |            * (ascii(c) - 128) AS BIGINT))) AS DOUBLE)
      |          / length(frame)), 6) AS rms
      |      FROM win)""".stripMargin

  val all: Seq[Q] = Seq(

    // ANN top-k: hyperplane-LSH bucket pruning + exact rerank. The
    // Rademacher plane family (±1 signs from StableHash parity) replays
    // bit-for-bit in SQL — candidate generation, bucket packing, and
    // rerank are all exactly oracle-checked; SimilaritySpec additionally
    // asserts recall vs brute force.
    Q("q25_ann_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), VectorOps.asDouble(col("embedding")).as("vec"))
      val qv = emb.filter(col("id") === 0).head().getSeq[Double](1).toArray
      Knn.annTopK(emb, "id", "vec", dim = 64, query = qv, k = 20)
    }, Some {
      val (dim, tables, bits) = (64, 8, 4)
      val dotZ = (a: String, b: String) =>
        s"list_sum(list_transform(list_zip($a, $b), z -> z[1]*z[2]))"
      val planeKey = "[CAST(pt AS VARCHAR)||':'||CAST(pj AS VARCHAR)||':'||CAST(i AS VARCHAR)]"
      s"""WITH vecs AS MATERIALIZED (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         |pl AS MATERIALIZED (
         |  SELECT pt, pj, list_transform(range(0, $dim), i ->
         |    CASE WHEN ${StableHash.hashes64Sql(planeKey)}[1] % 2 = 1
         |         THEN 1.0 ELSE -1.0 END) AS signs
         |  FROM range(0,$tables) r1(pt), range(0,$bits) r2(pj)),
         |vbits AS MATERIALIZED (
         |  SELECT v.id, p.pt, p.pj,
         |    CASE WHEN ${dotZ("v.vec", "p.signs")} >= 0
         |         THEN 1::BIGINT ELSE 0::BIGINT END AS b
         |  FROM vecs v, pl p),
         |vkeys AS MATERIALIZED (
         |  SELECT id, (pt::BIGINT << ${32 + bits})
         |    + CAST(sum(b * (1::BIGINT << CAST(${bits - 1} - pj AS INT))) AS BIGINT) AS key
         |  FROM vbits GROUP BY id, pt),
         |qkeys AS MATERIALIZED (SELECT DISTINCT key FROM vkeys WHERE id = 0),
         |cands AS MATERIALIZED (SELECT DISTINCT v.id FROM vkeys v JOIN qkeys q USING (key)),
         |qv AS (SELECT vec AS q FROM vecs WHERE id = 0)
         |SELECT c.id, round(${cosineSql("v.vec", "q")}, 6) AS sim
         |FROM cands c JOIN vecs v USING (id) CROSS JOIN qv
         |ORDER BY sim DESC, id ASC LIMIT 20""".stripMargin
    }),

    // IVF ANN: deterministic coarse k-means cells + nprobe search. Inputs
    // are 6dp-quantized and the Lloyd loop accumulates exact decimal
    // micro-units, so seeding, assignment, centroid updates, probing and
    // rerank all replay bit-for-bit as unrolled MATERIALIZED CTEs in the
    // oracle; IvfSpec additionally proves the nprobe=k ≡ brute-force
    // degeneracy.
    Q("q26_ivf_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"),
          transform(VectorOps.asDouble(col("embedding")),
            x => x.cast(org.apache.spark.sql.types.DecimalType(20, 6)).cast("double"))
            .as("vec"))
      val qv = emb.filter(col("id") === 0).head().getSeq[Double](1).toArray
      val model = graft.similarity.Ivf.train(emb, "id", "vec", k = 16, iters = 3)
      graft.similarity.Ivf.topK(emb, "id", "vec", model, qv, k = 20, nprobe = 4)
    }, Some {
      val (k, iters, nprobe, topK, sampleN) = (16, 3, 4, 20, 800)
      s"""WITH vecs AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(CAST(x AS DECIMAL(20,6)) AS DOUBLE)) AS vec
         |  FROM embeddings),
         |${lloydSql(k, iters, sampleN)},
         |qv AS MATERIALIZED (SELECT vec AS q FROM vecs WHERE id = 0),
         |probe AS MATERIALIZED (
         |  SELECT cell FROM c$iters, qv ORDER BY ${sqDistSql("q", "cvec")}, cell LIMIT $nprobe),
         |cands AS MATERIALIZED (
         |  SELECT id FROM asg WHERE cell IN (SELECT cell FROM probe))
         |SELECT v.id, round(${cosineSql("v.vec", "q")}, 6) AS sim
         |FROM cands JOIN vecs v USING (id) CROSS JOIN qv
         |ORDER BY sim DESC, id ASC LIMIT $topK""".stripMargin
    }),

    // Images head-slice + URL projection (reference summarize.py:28-35:
    // `records[:max_images]` then `record["large"]`; the array comes
    // from the product meta, semantic.py:63). Testdata ships no images
    // column, so the array-of-struct column is synthesized
    // deterministically per part — the operator under test is the
    // `slice(images, 1, n)` head-slice and the struct-field projection
    // over it, both narrow per-row expressions (no shuffle before the
    // output sort; at 100 TB this is a map-only stage).
    Q("q212_images_slice", (s, dir) => {
      val imgs = Tables.part(s, dir)
        .select(col("p_partkey").as("id"), expr(
          """transform(sequence(CAST(1 AS BIGINT), 1 + p_partkey % 4),
            |  i -> named_struct(
            |    'large', concat('https://img.example.com/p/', p_partkey,
            |                    '/', i, '_large.jpg'),
            |    'thumb', concat('https://img.example.com/p/', p_partkey,
            |                    '/', i, '_thumb.jpg'),
            |    'variant', element_at(array('MAIN','PT01','PT02','PT03'),
            |                          CAST(i AS INT))))""".stripMargin)
          .as("images"))
      imgs.select(col("id"), size(col("images")).cast("long").as("n_images"),
          posexplode(slice(col("images"), 1, 3)).as(Seq("pos", "img")))
        .select(col("id"), col("n_images"),
          (col("pos") + 1).cast("long").as("img_idx"),
          col("img.large").as("large_url"), col("img.variant").as("variant"))
        .orderBy("id", "img_idx")
    }, Some(
      """WITH p AS (SELECT p_partkey, 1 + p_partkey % 4 AS n FROM part),
        |imgs AS (SELECT p_partkey, n,
        |    unnest(range(1, CAST(least(n, 3) + 1 AS BIGINT))) AS i FROM p)
        |SELECT p_partkey AS id, CAST(n AS BIGINT) AS n_images,
        |  CAST(i AS BIGINT) AS img_idx,
        |  'https://img.example.com/p/' || p_partkey || '/' || i || '_large.jpg'
        |    AS large_url,
        |  (['MAIN','PT01','PT02','PT03'])[CAST(i AS INT)] AS variant
        |FROM imgs ORDER BY id, img_idx""".stripMargin)),

    // Multimodal decode: binary payload + metadata → batched partition-
    // wise feature extraction (deterministic stub decoder). For ASCII
    // payloads brightness == mean codepoint, which DuckDB can mirror —
    // so even the stub is oracle-checked.
    Q("q50_multimodal_features", (s, dir) => {
      Multimodal.decodeFeatures(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .select(col("id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          round(col("brightness"), 6).as("brightness"))
        .orderBy("id")
    }, Some(
      """SELECT doc_id AS id,
        | (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        | CAST(length(text) AS BIGINT) AS n_bytes,
        | round(CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE)
        |   / greatest(length(text), 1), 6) AS brightness
        |FROM documents ORDER BY id""".stripMargin)),

    // Frame sampling over video payloads: 32-byte frames at 64-byte
    // stride (temporal subsampling) with per-frame features — the
    // video-decode plumbing with the byte-window standing in for a codec
    // (same contract as q50's FakeDecoder). Narrow flatMap, fan-out
    // bounded by payload/stride, no shuffle before the output sort.
    Q("q96_frame_sample", (s, dir) => {
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir))
            .filter(col("kind") === "video"))
        .select(col("id"), col("frame_idx"), col("n_bytes"),
          round(col("brightness"), 6).as("brightness"))
        .orderBy("id", "frame_idx")
    }, Some(
      """WITH media AS (
        |  SELECT doc_id AS id, text FROM documents
        |  WHERE (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] = 'video'),
        |fr AS (SELECT id, unnest(range(0, length(text), 64)) AS start, text FROM media),
        |f AS (SELECT id, CAST(start // 64 AS BIGINT) AS frame_idx,
        |        substr(text, CAST(start + 1 AS INT), 32) AS frame FROM fr)
        |SELECT id, frame_idx, CAST(length(frame) AS BIGINT) AS n_bytes,
        |  round(CAST(list_sum(list_transform(string_split(frame, ''), c -> ascii(c)))
        |    AS DOUBLE) / length(frame), 6) AS brightness
        |FROM f ORDER BY id, frame_idx""".stripMargin)),

    // Nearest-neighbor grid resize over image payloads: the byte grid
    // (16-wide rows) keeps every 2nd byte per dimension — 4x smaller
    // output, checked by md5 digest of the resized bytes. The resize
    // plumbing of an image pipeline (a raster decoder would replace the
    // byte-grid kernel); narrow map, no shuffle.
    Q("q97_resize_grid", (s, dir) => {
      Multimodal.resizeGrid(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir))
            .filter(col("kind") === "image"))
        .select(col("id"), col("in_h"), col("out_w"), col("out_h"),
          length(col("resized")).cast("long").as("out_len"),
          md5(col("resized").cast("binary")).as("digest"))
        .orderBy("id")
    }, Some(
      """WITH media AS (
        |  SELECT doc_id AS id, text FROM documents
        |  WHERE (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] = 'image'),
        |g AS (SELECT id, length(text) // 16 AS h, text FROM media),
        |r AS (SELECT id, h,
        |    array_to_string(list_transform(range(0, h, 2), i ->
        |      array_to_string(list_transform(range(0, 16, 2), j ->
        |        substr(text, CAST(i*16 + j + 1 AS INT), 1)), '')), '') AS resized
        |  FROM g)
        |SELECT id, CAST(h AS BIGINT) AS in_h, CAST(8 AS BIGINT) AS out_w,
        |  CAST((h + 1) // 2 AS BIGINT) AS out_h,
        |  CAST(length(resized) AS BIGINT) AS out_len, md5(resized) AS digest
        |FROM r ORDER BY id""".stripMargin)),

    // Audio RMS-energy windows + silence detection over audio payloads:
    // 256-byte non-overlapping windows, per-window RMS from the EXACT
    // integer sum of squared deviations (so both engines take the same
    // sqrt), rolled up per clip with a silence count (RMS < 30). The
    // audio third of the multimodal triple (q97 image, q96 video);
    // narrow flatMap + one per-clip combine.
    Q("q117_audio_energy", (s, dir) => {
      audioRms(s, dir)
        .groupBy("id")
        .agg(count(lit(1)).as("n_windows"),
          davg(col("rms")).as("avg_rms"),
          max("rms").as("peak_rms"),
          sum(when(col("rms") < 30.0, 1L).otherwise(0L)).as("n_silent"))
        .orderBy("id")
    }, Some(
      s"""WITH $audioRmsSql
         |SELECT id, count(*) AS n_windows, ${davgSql("rms")} AS avg_rms,
         |  max(rms) AS peak_rms,
         |  CAST(sum(CASE WHEN rms < 30.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
         |FROM e GROUP BY id ORDER BY id""".stripMargin)),

    // Voice-activity segmentation over q117's audio windows: the
    // GAPS-AND-ISLANDS pattern — active windows (RMS ≥ 30) collapse
    // into contiguous runs via island_id = win_idx − row_number()
    // (keyed window, no self-join), then one aggregate per island and
    // one per clip. The segment census every audio-curation pipeline
    // needs (speech runs, longest run, active share).
    Q("q205_vad_segments", (s, dir) => {
      val win = audioRms(s, dir)
      val active = win.filter(col("rms") >= 30.0)
        .withColumn("island", col("win_idx") - row_number().over(
          Window.partitionBy("id").orderBy("win_idx")))
      val segs = active.groupBy("id", "island")
        .agg(count(lit(1)).as("len"), min("win_idx").as("seg_start"))
      val tot = win.groupBy("id").agg(count(lit(1)).as("n_windows"))
      segs.groupBy("id")
        .agg(count(lit(1)).as("n_segments"), max("len").as("max_seg_len"),
          sum("len").as("active_windows"),
          min("seg_start").as("first_active"))
        .join(tot, "id")
        .select(col("id"), col("n_windows"), col("n_segments"),
          col("max_seg_len"), col("active_windows"), col("first_active"),
          round(col("active_windows").cast("double") / col("n_windows"), 6)
            .as("active_share"))
        .orderBy("id")
    }, Some(
      s"""WITH $audioRmsSql,
         |act AS (SELECT id, win_idx,
         |    win_idx - row_number() OVER (PARTITION BY id ORDER BY win_idx)
         |      AS island
         |  FROM e WHERE rms >= 30.0),
         |segs AS (SELECT id, island, count(*) AS len,
         |    CAST(min(win_idx) AS BIGINT) AS seg_start
         |  FROM act GROUP BY id, island),
         |tot AS (SELECT id, count(*) AS n_windows FROM e GROUP BY id),
         |per AS (SELECT id, count(*) AS n_segments, max(len) AS max_seg_len,
         |    CAST(sum(len) AS BIGINT) AS active_windows,
         |    min(seg_start) AS first_active
         |  FROM segs GROUP BY id)
         |SELECT per.id AS id, n_windows, n_segments, max_seg_len,
         |  active_windows, first_active,
         |  round(CAST(active_windows AS DOUBLE) / n_windows, 6) AS active_share
         |FROM per JOIN tot USING (id) ORDER BY id""".stripMargin)),

    // Offline embedding build (embed.py end-to-end): clean → len-filter →
    // hash-embed → mean-pool per source. StableHash's DuckDB mirror makes
    // the hashed-TF vectors exactly reproducible in SQL; output exploded
    // to scalar rows (source, pos, value) for the driver's comparator.
    Q("q51_embed_job", (s, dir) => {
      EmbedJob.groupEmbeddings(Tables.documents(s, dir), "text", "source")
        .select(col("source"),
          posexplode(VectorOps.roundVec(col("embedding"), 6)).as(Seq("pos", "value")))
        .select(col("source"), col("pos").cast("long").as("pos"), col("value"))
        .orderBy("source", "pos")
    }, Some(
      s"""WITH f AS (SELECT source, string_split(clean, ' ') AS toks FROM
         |    (SELECT source, ${cleanTextSql("text")} AS clean FROM documents)
         |  WHERE len(string_split(clean, ' ')) > 5),
         |e AS (SELECT source, ${StableHash.hashEmbedSql("toks", 64)} AS vec FROM f)
         |SELECT source, pos1 - 1 AS pos,
         |  round(CAST(sum(CAST(val AS DECIMAL(26,12))) AS DOUBLE) / count(*), 6) AS value FROM (
         |  SELECT source, unnest(vec) AS val, generate_subscripts(vec, 1) AS pos1 FROM e)
         |GROUP BY source, pos1 ORDER BY source, pos""".stripMargin)),

    // RAG retrieval (rag.py dataflow): field-chunked meta of the focused
    // doc, hash-embedded, cosine top-3 vs the question — the whole
    // retrieval dataflow (chunking, embedding, ranking) replayed in SQL.
    Q("q52_rag_retrieve", (s, dir) => {
      val meta = metaAnalog(Tables.documents(s, dir))
      val chunks = Retriever.chunksFromMeta(meta, "id",
        Seq("title", "summary", "rating", "review_count", "price"))
      Retriever.retrieve(chunks, focusId = 1L,
        question = "what is the price and rating of this product")
    }, Some {
      val fields = Seq("title", "summary", "rating", "review_count", "price")
      val chunkRows = fields.map { f =>
        s"SELECT '$f' AS field, CASE WHEN $f IS NULL THEN '$f' " +
          s"ELSE '$f: ' || CAST($f AS VARCHAR) END AS chunk FROM meta WHERE id = 1"
      }.mkString("\n  UNION ALL ")
      val qToks = "what is the price and rating of this product"
        .split("\\s+").map(t => s"'$t'").mkString("[", ",", "]")
      s"""WITH meta AS ($metaAnalogSql),
         |chunks AS ($chunkRows),
         |emb AS (SELECT field, chunk,
         |  ${StableHash.hashEmbedSql(s"string_split(${cleanTextSql("chunk")}, ' ')", 64)} AS vec
         |  FROM chunks),
         |q AS (SELECT ${StableHash.hashEmbedSql(qToks, 64)} AS qv)
         |SELECT field, chunk, round(${cosineSql("vec", "qv")}, 6) AS sim
         |FROM emb CROSS JOIN q
         |ORDER BY sim DESC, field ASC LIMIT 3""".stripMargin
    }),

    // Extractive blurb template — the deterministic substitute for the
    // reference's LLaVA summarizer (summarize.py:44-57, SURVEY §2.9).
    // Rating values are exact one-decimal doubles, so %.1f renders
    // identically in Java and C printf.
    Q("q53_blurbs", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          format_string("%s (%s) - rated %.1f/5",
            substring(col("text"), 1, 40), col("source"),
            coalesce(when(col("doc_id") % 5 === 0, lit(null))
              .otherwise(lit(3.0) + (col("doc_id") % 21) / lit(10.0)), lit(4.3))).as("blurb"))
        .orderBy("id")
    }, Some(
      """SELECT doc_id AS id,
        | printf('%s (%s) - rated %.1f/5', substr(text, 1, 40), source,
        |   coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL
        |            ELSE 3.0 + (doc_id % 21)/10.0 END, 4.3)) AS blurb
        |FROM documents ORDER BY id""".stripMargin)),

    // Model-output cleanup (summarize.py:11-25): strip outer quotes, keep
    // text after the last ASSISTANT: marker, strip end markers.
    Q("q54_extract_summary", (s, dir) => {
      val raw = concat(lit("\"USER: "), substring(col("text"), 1, 20),
        lit(" ASSISTANT: "), substring(col("text"), 21, 40), lit("</s>\""))
      Tables.documents(s, dir)
        .select(col("doc_id").as("id"),
          graft.text.TextOps.extractSummary(raw).as("summary"))
        .orderBy("id")
    }, Some(
      """SELECT doc_id AS id,
        | trim(regexp_replace(
        |   CASE WHEN strpos(unq, 'ASSISTANT:') > 0
        |        THEN string_split(unq, 'ASSISTANT:')[-1] ELSE unq END,
        |   '(</s>|\[END\]|\[/ASSISTANT\])+$', '', 'g')) AS summary
        |FROM (SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    '"USER: ' || substr(text, 1, 20) || ' ASSISTANT: ' || substr(text, 21, 40) || '</s>"',
        |    '^"', ''), '"$', '') AS unq
        | FROM documents)
        |ORDER BY id""".stripMargin)),

    // Flagship corpus-prep composition — the full training-data prep
    // chain as ONE declarative plan: clean → min-length filter →
    // language-ID gate → quality gate → exact dedup (keep min id per
    // content hash) → token-budget shard packing → per-shard stats.
    // Every stage reuses an operator proven exact on its own (q10, q12,
    // q13, q15, q60); Catalyst fuses the scalar stages into one codegen
    // span over a single scan, so the chain costs two narrow shuffles
    // (dedup hash, shard stats) + one window regardless of corpus size.
    Q("q78_corpus_pipeline", (s, dir) => {
      val filtered = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          graft.text.TextOps.cleanText(col("text")).as("clean"))
        .withColumn("n_tokens", graft.text.TextOps.tokenCount(col("clean")))
        .filter(col("n_tokens") > 5)
        .filter(graft.text.TextOps.langId(
          graft.text.TextOps.tokens(col("clean"))) === "en")
        // gate on the 6dp-rounded score: the rounded value is the one
        // proven bit-equal across engines (q13), so the boundary cannot
        // drift
        .filter(round(graft.text.TextOps.qualityScore(col("clean")), 6) >= 0.5)
      // exact dedup without a join-back: min(struct) keeps the lowest-id
      // row per content hash in ONE partial-aggregated shuffle, and the
      // clean/filter subtree is evaluated once instead of twice
      val keep = filtered
        .groupBy(md5(col("clean").cast("binary")).as("h"))
        .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.n_tokens").as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      keep
        .withColumn("shard",
          (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 4096).cast("long"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("source", "shard")
    }, Some {
      val en = graft.text.TextOps.stopwords.toMap.apply("en")
        .map(w => "'" + w + "'").mkString(",")
      val punct = "(CAST(len(clean) - len(regexp_replace(clean, '[.,!?;:''\"-]', '', 'g')) AS DOUBLE) / greatest(len(clean), 1))"
      val stop = s"(CAST(len(list_filter(string_split(clean, ' '), t -> list_contains([$en], t))) AS DOUBLE) / greatest(len(string_split(clean, ' ')), 1))"
      val lenScore = "least(CAST(len(string_split(clean, ' ')) AS DOUBLE)/100.0, 1.0)"
      s"""WITH c AS (SELECT doc_id, source, ${cleanTextSql("text")} AS clean
         |           FROM documents),
         |f AS (SELECT doc_id, source, clean,
         |        CAST(len(string_split(clean, ' ')) AS BIGINT) AS n_tokens
         |      FROM c
         |      WHERE len(string_split(clean, ' ')) > 5
         |        AND ${langIdSql("string_split(clean, ' ')")} = 'en'
         |        AND round(0.4*$lenScore + 0.3*(1.0 - $punct)
         |              + 0.3*least($stop*4.0, 1.0), 6) >= 0.5),
         |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(clean)),
         |d AS (SELECT f.* FROM f JOIN k USING (doc_id)),
         |p AS (SELECT source, n_tokens,
         |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) // 4096 AS BIGINT) AS shard
         |      FROM d)
         |SELECT source, shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM p GROUP BY source, shard ORDER BY source, shard""".stripMargin
    }))
}
