package graft.textops

import graft.Tables
import graft.streaming.BlockHygiene
import graft.textops.TextHash._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequence packing — the concat-and-chunk stage of a pretraining
  * pipeline: concatenate all documents in a deterministic order and
  * cut the token stream into fixed-capacity training sequences
  * (chunks). Output is the per-chunk manifest: how many documents
  * touch each chunk and how many of its tokens each contributes —
  * what a tokenizer/writer stage would consume to emit packed
  * examples. (No analog in the reference; part of the LLM-pipeline
  * surface the build brief adds.)
  *
  * The core primitive is a GLOBAL running token offset per document.
  * The naive form — `sum(n_tokens) over (order by doc_id)` with no
  * partition key — is a correctness-preserving scale failure: Spark
  * plans an empty-key window as a single-partition sort, so one task
  * would stream 100 TB. Instead this implements the classic
  * distributed prefix sum the way `RDD.zipWithIndex` does internally:
  *
  *   1. range-partition by doc_id (contiguous doc ranges per
  *      partition) and materialize ONCE (localCheckpoint — both
  *      passes share the sorted frame);
  *   2. pass 1: per-partition token totals — O(numParts) rows to the
  *      driver, never O(data);
  *   3. pass 2: a narrow mapPartitions seeds each partition's running
  *      sum with the broadcast exclusive-prefix offset.
  *
  * mapPartitions is justified here (build-brief order (d)): the
  * per-partition running state is genuinely imperative and has no
  * shuffle-free DataFrame form — a window over `spark_partition_id()`
  * would re-shuffle the full corpus just to restore the partitioning
  * the range exchange already produced.
  *
  * Chunk assignment after that is embarrassingly parallel arithmetic:
  * a document spanning tokens [start, end) touches chunks
  * floor(start/C)..floor((end-1)/C) (`sequence` + explode — bounded
  * expansion: a doc touches ceil(n_tokens/C)+1 chunks), and
  * contributes `min(end, (c+1)·C) − max(start, c·C)` tokens to chunk
  * c. The final groupBy(chunk_id) partial-aggregates map-side, so the
  * only full-data shuffles in the whole plan are the one range
  * exchange and the one chunk aggregation.
  */
object Packing {

  /** Per-chunk packing manifest at fixed token `capacity`. Every chunk
    * except the last holds exactly `capacity` tokens (boundary docs
    * straddle — the concat-and-chunk discipline, not first-fit
    * bin-packing, so no token is dropped and no padding is inserted).
    */
  def seqPack(spark: SparkSession, sfDir: String, capacity: Long = 512,
              numParts: Int = -1): DataFrame = {
    import spark.implicits._
    // numParts < 0 → scale the prefix-sum partitioning with the corpus
    // (~5k docs per range partition) instead of a fixed 8: the
    // driver-side offsets array is O(numParts), so this stays tiny
    // while keeping per-partition state bounded as the corpus grows.
    // Output is partitioning-invariant (the two-pass prefix sum is
    // exact for any split — pinned by PackingSpec), so the oracle
    // doesn't care.
    val np = if (numParts > 0) numParts
             else math.max(8, (Tables.documents(spark, sfDir).count() / 5000L).toInt)
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"cast(size($tokensSpark) as bigint) as n_tokens")
      .where($"n_tokens" > 0)
    val parts = toks
      .repartitionByRange(np, $"doc_id")
      .sortWithinPartitions($"doc_id")
      .transform(BlockHygiene.checkpointTracked)
    val ptot: Array[(Int, Long)] = parts.as[(Long, Long)].mapPartitions { it =>
      var s = 0L
      it.foreach(s += _._2)
      Iterator.single((TaskContext.getPartitionId(), s))
    }.collect().sortBy(_._1)
    val offsets = ptot.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val spans = parts.as[(Long, Long)].mapPartitions { it =>
      var run = bc.value(TaskContext.getPartitionId())
      it.map { case (id, n) => val s = run; run += n; (id, n, s) }
    }.toDF("doc_id", "n_tokens", "tok_start")
    spans
      .selectExpr("doc_id", "n_tokens", "tok_start",
        "tok_start + n_tokens as tok_end")
      .withColumn("chunk_id", explode(expr(
        s"sequence(tok_start div $capacity, (tok_end - 1) div $capacity)")))
      .selectExpr("chunk_id", "doc_id",
        s"least(tok_end, (chunk_id + 1) * $capacity) - " +
          s"greatest(tok_start, chunk_id * $capacity) as tok")
      .groupBy($"chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"chunk_id")
  }

  /** DuckDB replays the same packing with a plain global window — the
    * single-node engine IS one partition, so the prefix sum is exact
    * by construction and hash-gates the distributed two-pass form.
    */
  def seqPackOracle(capacity: Long = 512): String =
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(len($tokensDuck) AS BIGINT) AS n_tokens
       |  FROM documents
       |  WHERE len($tokensDuck) > 0
       |), cum AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           - n_tokens AS BIGINT) AS tok_start
       |  FROM toks
       |), spans AS (
       |  SELECT doc_id, n_tokens, tok_start,
       |         tok_start + n_tokens AS tok_end
       |  FROM cum
       |), chunks AS (
       |  SELECT doc_id, tok_start, tok_end,
       |         unnest(generate_series(tok_start // $capacity,
       |                                (tok_end - 1) // $capacity)) AS chunk_id
       |  FROM spans
       |)
       |SELECT chunk_id, count(*) AS n_docs,
       |       CAST(sum(least(tok_end, (chunk_id + 1) * $capacity)
       |             - greatest(tok_start, chunk_id * $capacity)) AS BIGINT)
       |         AS n_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM chunks GROUP BY chunk_id ORDER BY chunk_id""".stripMargin

  /** RAG-style per-document chunking: cut each document's token stream
    * into windows of `chunk` tokens advancing by `chunk − overlap`, so
    * consecutive chunks share `overlap` tokens of context (the
    * retrieval-index prep stage; seqPack is the PREtraining packer —
    * this is its retrieval sibling that never crosses a document
    * boundary). A start qualifies if it is 0 or still contributes at
    * least one new token (start + overlap < n_tokens), which makes the
    * cover exact: concat(chunk₀, chunkᵢ.drop(overlap)) rebuilds the
    * document (pinned by the PackingSpec reconstruction property).
    *
    * Scale shape: one narrow map stage — `sequence`+`explode` fans each
    * doc out to ceil(n/stride) rows and `slice` is per-row arithmetic;
    * no shuffle anywhere except the presentation sort, so this runs at
    * scan speed on any corpus size.
    */
  def docChunks(spark: SparkSession, sfDir: String, chunk: Int = 64,
                overlap: Int = 16): DataFrame =
    docChunksFrom(Tables.documents(spark, sfDir), chunk, overlap)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Stream-safe core of [[docChunks]]: pure narrow per-row transforms
    * (no sort, no shuffle), so it applies unchanged to a readStream
    * source — chunking at ingest is the usual RAG-index shape.
    */
  def docChunksFrom(docs: DataFrame, chunk: Int = 64,
                    overlap: Int = 16): DataFrame = {
    // chunk == overlap would divide by zero (stride 0); chunk < overlap
    // would step the start grid backwards — both produce malformed
    // output deep in the plan instead of a readable precondition error
    require(overlap >= 0 && chunk > overlap,
      s"docChunks requires 0 <= overlap < chunk (got chunk=$chunk, overlap=$overlap)")
    val stride = chunk - overlap
    docs
      .selectExpr("doc_id", s"$tokensSpark as toks")
      .selectExpr("doc_id", "toks", "cast(size(toks) as bigint) as n")
      .where(col("n") > 0)
      .withColumn("strt", explode(expr(
        s"sequence(cast(0 as bigint), greatest(n - $overlap - 1, cast(0 as bigint)), cast($stride as bigint))")))
      .selectExpr("doc_id",
        s"cast(strt div $stride as int) as chunk_idx",
        s"least(n - strt, $chunk) as n_chunk_tokens",
        s"array_join(slice(toks, cast(strt + 1 as int), $chunk), ' ') as chunk_text")
  }

  /** Cross-document duplicate chunks — the RAG-index hygiene pass:
    * after [[docChunks]], identical chunks from near-dup or templated
    * documents would enter the retrieval index multiple times; this
    * reports each duplicated chunk group with its copy/document counts
    * and the lexicographic-min (doc, idx) keeper. Grouping key is
    * (content hash, token count) — the composite keeps a bare 10⁹-range
    * hash collision from silently merging distinct chunks, same
    * defense as the streaming dedup's (hash, length) state key.
    *
    * Scale shape: one narrow chunk pass (docChunksFrom), then a single
    * hash-keyed aggregate with map-side partials; output is only the
    * duplicated groups.
    */
  def chunkDedup(spark: SparkSession, sfDir: String, chunk: Int = 64,
                 overlap: Int = 16): DataFrame =
    docChunksFrom(Tables.documents(spark, sfDir), chunk, overlap)
      .selectExpr("doc_id", "chunk_idx", "n_chunk_tokens",
        "poly_hash(chunk_text) as h")
      .groupBy(col("h"), col("n_chunk_tokens"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("chunk_idx"))).as("keep"))
      .where(col("n_copies") > 1)
      .selectExpr("h", "n_chunk_tokens", "n_copies", "n_docs",
        "keep.doc_id as keep_doc", "keep.chunk_idx as keep_idx")
      .orderBy(col("h"), col("n_chunk_tokens"))

  def chunkDedupOracle(chunk: Int = 64, overlap: Int = 16): String = {
    require(overlap >= 0 && chunk > overlap,
      s"chunkDedup requires 0 <= overlap < chunk (got chunk=$chunk, overlap=$overlap)")
    val stride = chunk - overlap
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS toks FROM documents
       |), sized AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
       |  FROM toks WHERE len(toks) > 0
       |), starts AS (
       |  SELECT doc_id, toks, n,
       |         unnest(generate_series(CAST(0 AS BIGINT),
       |                greatest(n - $overlap - 1, 0), $stride)) AS strt
       |  FROM sized
       |), chunks AS (
       |  SELECT doc_id, CAST(strt // $stride AS INT) AS chunk_idx,
       |         least(n - strt, $chunk) AS n_chunk_tokens,
       |         array_to_string(toks[CAST(strt + 1 AS INT) :
       |                              CAST(strt + $chunk AS INT)], ' ')
       |           AS chunk_text
       |  FROM starts
       |), hashed AS (
       |  SELECT doc_id, chunk_idx, n_chunk_tokens,
       |         ${TextHash.phDuck("chunk_text", "cd")} AS h
       |  FROM chunks
       |), grp AS (
       |  SELECT h, n_chunk_tokens, count(*) AS n_copies,
       |         count(DISTINCT doc_id) AS n_docs
       |  FROM hashed GROUP BY 1, 2 HAVING count(*) > 1
       |), keepers AS (
       |  SELECT h, n_chunk_tokens, doc_id AS keep_doc, chunk_idx AS keep_idx
       |  FROM (SELECT *, row_number() OVER (PARTITION BY h, n_chunk_tokens
       |                  ORDER BY doc_id, chunk_idx) AS rn FROM hashed)
       |  WHERE rn = 1
       |)
       |SELECT g.h, g.n_chunk_tokens, g.n_copies, g.n_docs,
       |       k.keep_doc, k.keep_idx
       |FROM grp g JOIN keepers k USING (h, n_chunk_tokens)
       |ORDER BY g.h, g.n_chunk_tokens""".stripMargin
  }

  /** DuckDB replay of [[docChunks]]: same start grid
    * (generate_series step = stride, capped at n − overlap − 1) and
    * 1-based clamped list slice, so chunk text matches byte-for-byte.
    */
  def docChunksOracle(chunk: Int = 64, overlap: Int = 16): String = {
    require(overlap >= 0 && chunk > overlap,
      s"docChunks requires 0 <= overlap < chunk (got chunk=$chunk, overlap=$overlap)")
    val stride = chunk - overlap
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensDuck AS toks FROM documents
       |), sized AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
       |  FROM toks WHERE len(toks) > 0
       |), starts AS (
       |  SELECT doc_id, toks, n,
       |         unnest(generate_series(CAST(0 AS BIGINT),
       |                greatest(n - $overlap - 1, 0), $stride)) AS strt
       |  FROM sized
       |)
       |SELECT doc_id, CAST(strt // $stride AS INT) AS chunk_idx,
       |       least(n - strt, $chunk) AS n_chunk_tokens,
       |       array_to_string(toks[CAST(strt + 1 AS INT) :
       |                            CAST(strt + $chunk AS INT)], ' ')
       |         AS chunk_text
       |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin
  }
}
