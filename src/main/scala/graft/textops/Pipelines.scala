package graft.textops

import graft.Tables
import graft.sources.ParquetSink
import graft.streaming.BlockHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized dedup pipeline — compute the near-dup evidence ONCE,
  * persist it, and let every downstream consumer read the parquet
  * instead of re-deriving signatures and pair joins per query.
  *
  * Why this exists: `dedup_minhash_lsh`, `dedup_simhash`,
  * `dedup_clusters`, `dedup_clusters_multi` and `corpus_prep` are
  * independent queries, so each one re-runs the shingle → signature →
  * banded-join pipeline it needs. That per-query independence is right
  * for the oracle gate but wrong for production: at 100 TB the
  * signature+pair stage is hours of cluster time, and a real curation
  * pipeline runs it once per corpus snapshot, then serves clustering,
  * keeper selection, and corpus prep from the stored evidence.
  *
  * Layout (all under one snapshot directory):
  *   - `dedup_pairs/` — near-dup edges, **partitioned by `tier`**
  *     (`minhash` | `minhash_capped` | `simhash` | `containment`): a
  *     consumer that wants one evidence
  *     tier prunes the other's directory at plan time (zero I/O),
  *     and new tiers (embedding, substring) append as new partitions
  *     without rewriting existing evidence.
  *   - `clusters/` — connected components over the minhash tier
  *     (what `corpus_prep` keys on).
  *   - `clusters_multi/` — components over the minhash + simhash
  *     tiers unioned (matching the live `dedup_clusters_multi` query;
  *     the directional containment tier is stored as evidence for
  *     future consumers but feeds no clustering today).
  *   - `clusters_multi_capped/` — same, from the bucket-capped minhash
  *     evidence (the skew-robust production config — a boilerplate
  *     corpus can't collapse into one giant keeper cluster).
  *   - `ann_centroids/` + `ann_assign/` — the IVF serving index
  *     (assignments partitioned by cell prefix), written by
  *     [[materializeAnn]]: [[annSearchFrom]] runs ARBITRARY query
  *     vectors against storage.
  *   - `pq_codebook/` + `pq_codes/` — the compressed-index twin
  *     (codes partitioned by the same cell prefix), written by
  *     [[materializePq]]: [[annSearchPqFrom]] ADC-scores stored codes
  *     without ever reading a full candidate vector.
  *   - `minhash_buckets/` — the base corpus's MinHash band buckets
  *     with signatures in-bucket, **partitioned by `pb`** (band-hash
  *     prefix): the serving index for [[dedupIncrementalFrom]] — a
  *     daily batch probes only the partitions its own bands touch.
  *   - `span_index/` — the base corpus's distinct span texts,
  *     **partitioned by `ps`** (span-hash prefix): the serving index
  *     for the C4 span-dedup loop ([[spanDedupIncrementalFrom]] and
  *     [[spanDedupStream]]).
  *
  * Pairs are doc-id edges (~16 bytes/row) and clusters one row per
  * doc — both tiny next to the corpus, so the snapshot is cheap to
  * store and broadcast-friendly to join back against `documents`.
  */
object Pipelines {

  /** Run the pair pipelines once and persist evidence + clusters.
    * Clusters are derived FROM the freshly-written pairs parquet (not
    * the in-memory frames) so the whole downstream chain provably
    * serves from storage.
    */
  def materialize(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import spark.implicits._
    val mh = Dedup.minhashLsh(spark, sfDir)
      .select($"doc1", $"doc2", lit("minhash").as("tier"))
    // the bucket-capped evidence tier (skew-robust production config —
    // BASELINE.md skew rehearsal): stored alongside the exact tier so
    // the served capped clustering never recomputes signatures either
    val mhc = Dedup.minhashLshCapped(spark, sfDir)
      .select($"doc1", $"doc2", lit("minhash_capped").as("tier"))
    val sh = Dedup.simhashDedup(spark, sfDir)
      .select($"doc1", $"doc2", lit("simhash").as("tier"))
    // containment is directional (doc1 = contained side) — stored
    // as-is for future consumers; no current consumer reads it (a
    // symmetric consumer would need to symmetrize the edges on read)
    val ct = Dedup.dedupContainment(spark, sfDir)
      .select($"doc1", $"doc2", lit("containment").as("tier"))
    ParquetSink.writePartitioned(mh.union(mhc).union(sh).union(ct),
      s"$outDir/dedup_pairs", Seq("tier"))
    val docs = Tables.documents(spark, sfDir)
    Dedup.clusterize(docs, "doc_id", pairs(spark, outDir, Seq("minhash")))
      .write.mode("overwrite").parquet(s"$outDir/clusters")
    Dedup.clusterize(docs, "doc_id",
        pairs(spark, outDir, Seq("minhash", "simhash")).distinct())
      .write.mode("overwrite").parquet(s"$outDir/clusters_multi")
    Dedup.clusterize(docs, "doc_id",
        pairs(spark, outDir, Seq("minhash_capped", "simhash")).distinct())
      .write.mode("overwrite").parquet(s"$outDir/clusters_multi_capped")
    // band buckets of the INGESTED base (signatures ride in-bucket),
    // partitioned by a band-hash prefix: a daily batch's probe join
    // touches only the pb partitions its own bands hash into —
    // directory pruning, not a full-index scan
    // batch_id = -1 marks snapshot-time rows: every streamed batch id
    // is ≥ 0, so the `batch_id < id` replay guard always admits the
    // base (see the stream docstrings for why the guard exists)
    ParquetSink.writePartitioned(
      Dedup.minhashBuckets(spark, sfDir).where(!col("is_new"))
        .withColumn("batch_id", lit(-1L))
        .withColumn("pb", pmod(col("band_hash"), lit(BucketPartitions))),
      s"$outDir/minhash_buckets", Seq("pb"))
    // distinct span texts of the base corpus — the span-dedup loop's
    // serving index ([[spanDedupIncrementalFrom]] / [[spanDedupStream]])
    ParquetSink.writePartitioned(
      spanIndexRows(Tables.documents(spark, sfDir)
        .where(!expr(Dedup.IncrNewGate)).select(col("doc_id"), col("text")), 20)
        .withColumn("batch_id", lit(-1L)),
      s"$outDir/span_index", Seq("ps"))
  }

  /** Band-hash-prefix partition count for the bucket snapshot. 32 is
    * the toy-tier value; at corpus scale this rises so each directory
    * holds one task's worth of bucket rows. */
  private val BucketPartitions = 32

  /** [[Dedup.dedupIncremental]] served from the snapshot: the incoming
    * batch computes its own signatures live (a narrow map over the
    * batch — the cheap part) and probes the STORED base buckets
    * instead of re-deriving the whole corpus index; intra-batch
    * keep-first edges come from the batch's own buckets. `pb` joins as
    * a leading key so the probe can prune bucket partitions. Must be
    * row-identical to the live query (PipelinesSpec pins it).
    */
  def dedupIncrementalFrom(spark: SparkSession, sfDir: String,
                           outDir: String,
                           bandPred: String = "is_new",
                           judgedPred: String = Dedup.IncrNewGate): DataFrame = {
    import spark.implicits._
    val newBands = Dedup.minhashBuckets(spark, sfDir).where(expr(bandPred))
      .withColumn("pb", pmod($"band_hash", lit(BucketPartitions)))
      .transform(BlockHygiene.checkpointTracked)
    val base = spark.read.parquet(s"$outDir/minhash_buckets")
    val ySide = base.select(newBands.columns.toIndexedSeq.map(col): _*)
      .union(newBands)
    Dedup.incrementalVerdicts(spark, sfDir, newBands, ySide,
      keys = Seq("pb", "band_idx", "band_hash"), judgedPred = judgedPred)
  }

  /** Index maintenance — the step after judging a batch: append the
    * batch's band rows to the stored bucket snapshot so every LATER
    * batch sees them as corpus (`is_new` flips to false on ingest —
    * "already arrived" is exactly what base means). Appending writes
    * only the batch's own rows into the `pb` directories they hash to;
    * the base index is never rewritten. With [[dedupIncrementalFrom]]
    * this closes the daily-crawl loop: judge today's batch against
    * storage, ingest it, judge tomorrow's.
    */
  def ingestBatch(spark: SparkSession, sfDir: String, outDir: String,
                  bandPred: String = "is_new", batchId: Long = -1L): Unit = {
    import spark.implicits._
    val batch = Dedup.minhashBuckets(spark, sfDir).where(expr(bandPred))
      .withColumn("is_new", lit(false))
      .withColumn("batch_id", lit(batchId))
      .withColumn("pb", pmod($"band_hash", lit(BucketPartitions)))
    ParquetSink.writePartitioned(batch, s"$outDir/minhash_buckets",
      Seq("pb"), mode = "append")
  }

  /** The daily-crawl loop AS A STREAM: every micro-batch of documents
    * `(doc_id, text)` is judged against the stored bucket index
    * ([[dedupIncrementalFrom]]'s probe, batch side computed live),
    * verdicts land in `verdictDir` partitioned by `batch_id`, and the
    * batch's band rows are ingested so the NEXT micro-batch sees this
    * one as corpus — [[ingestBatch]] applied continuously.
    *
    * Retry semantics — EXACT, not just harmless: verdicts rewrite
    * their own `batch_id` partition ([[ParquetSink.overwriteBatch]]),
    * and the index probe reads only rows with `batch_id < id`
    * (snapshot rows carry −1). Without that guard, a crash between
    * the index append and the offset commit would make the REPLAYED
    * batch see its own rows as base — a batch-internal near-dup pair
    * (a < b) would then mark a dup_of b as well as b dup_of a,
    * silently dropping both. With it, a replay judges against exactly
    * the pre-crash view, so the rewritten partition is bit-identical
    * (pinned by PipelinesSpec's double-run replay test).
    */
  def dedupIncrementalStream(docs: DataFrame, outDir: String,
                             verdictDir: String) =
    BlockHygiene.eachBatch(docs.writeStream)(
      dedupIncrementalBatch(_, _, outDir, verdictDir))

  /** One micro-batch of the crawl loop — judge then ingest (exposed
    * for the replay-idempotency spec; the stream calls exactly this).
    */
  private[graft] def dedupIncrementalBatch(batch: DataFrame, id: Long,
                                           outDir: String,
                                           verdictDir: String): Unit = {
    val spark = batch.sparkSession
    val bands = BlockHygiene.checkpointTracked(
      Dedup.minhashBucketsFrom(
          batch.select(col("doc_id"), col("text"), lit(true).as("is_new")))
        .withColumn("pb", pmod(col("band_hash"), lit(BucketPartitions))))
    val base = spark.read.parquet(s"$outDir/minhash_buckets")
      .where(col("batch_id") < id)
    val ySide = base.select(bands.columns.toIndexedSeq.map(col): _*).union(bands)
    ParquetSink.overwriteBatch(
      Dedup.incrementalVerdictsFrom(batch.select(col("doc_id")), bands,
        ySide, keys = Seq("pb", "band_idx", "band_hash")), id, verdictDir)
    ParquetSink.writePartitioned(
      bands.withColumn("is_new", lit(false)).withColumn("batch_id", lit(id)),
      s"$outDir/minhash_buckets", Seq("pb"), mode = "append")
  }

  // ---------------------------------------------------- span dedup loop

  /** Distinct span texts of a doc frame, with the `ps` hash-prefix
    * partition key the stored index uses. */
  private def spanIndexRows(docs: DataFrame, span: Int): DataFrame =
    Dedup.docSpans(docs, span)
      .select(col("span_text")).distinct()
      .withColumn("ps", pmod(hash(col("span_text")), lit(BucketPartitions)))

  /** Stored span index (rows with `batch_id < beforeBatch` only — the
    * stream's replay guard; snapshot rows carry −1), or an empty
    * same-schema frame when the snapshot doesn't exist yet — a crawl
    * loop must be able to start from day zero (Hadoop FS probe, not
    * java.io: the snapshot root can be HDFS/S3). */
  private def readSpanIndex(spark: SparkSession, outDir: String,
                            beforeBatch: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$outDir/span_index")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      spark.read.parquet(p.toString)
        .where($"batch_id" < beforeBatch).select($"span_text")
    else Seq.empty[String].toDF("span_text")
  }

  /** [[Dedup.spanDedupIncremental]] served from the snapshot: the
    * batch explodes its own spans live (narrow), probes the STORED
    * distinct-span index, reassembles. Row-identical to the live query
    * (PipelinesSpec pins it). */
  def spanDedupIncrementalFrom(spark: SparkSession, sfDir: String,
                               outDir: String, span: Int = 20): DataFrame = {
    import spark.implicits._
    val batch = Tables.documents(spark, sfDir)
      .where(expr(Dedup.IncrNewGate)).select($"doc_id", $"text")
    Dedup.spanVerdicts(Dedup.docSpans(batch, span),
      readSpanIndex(spark, outDir))
  }

  /** The C4 span-dedup stage AS A STREAM — the crawl loop for
    * sub-document dedup: each micro-batch of `(doc_id, text)` docs is
    * judged against the stored span index (keep-first inside the
    * batch, drop if ever seen before), cleaned docs land in `cleanDir`
    * partitioned by `batch_id`, and the batch's distinct span texts
    * append to the index so the NEXT batch sees them. Because the keep
    * rule is first-occurrence, an arrival-ordered replay produces
    * EXACTLY the one-shot [[Dedup.spanDedup]] output — pinned by
    * StreamingParitySpec. Retry semantics — EXACT: cleaned docs
    * rewrite their own `batch_id` partition
    * ([[ParquetSink.overwriteBatch]]), and the index probe reads only
    * `batch_id < id` rows. The guard is load-bearing here: without it,
    * a crash between the index append and the offset commit would
    * make the replayed batch find ALL of its own spans in the index
    * and emit every document empty. With it, a replay judges against
    * the exact pre-crash view (pinned by PipelinesSpec's double-run
    * replay test); a double-appended index row is harmless — the probe
    * side distincts.
    */
  def spanDedupStream(docs: DataFrame, outDir: String, cleanDir: String,
                      span: Int = 20) =
    BlockHygiene.eachBatch(docs.writeStream)(
      spanDedupBatch(_, _, outDir, cleanDir, span))

  /** One micro-batch of the span-dedup loop — judge then ingest
    * (exposed for the replay-idempotency spec; the stream calls
    * exactly this). */
  private[graft] def spanDedupBatch(batch: DataFrame, id: Long,
                                    outDir: String, cleanDir: String,
                                    span: Int = 20): Unit = {
    val spark = batch.sparkSession
    val spans = BlockHygiene.checkpointTracked(
      Dedup.docSpans(batch.select(col("doc_id"), col("text")), span))
    ParquetSink.overwriteBatch(
      Dedup.spanVerdicts(spans, readSpanIndex(spark, outDir, beforeBatch = id)),
      id, cleanDir)
    ParquetSink.writePartitioned(
      spans.select(col("span_text")).distinct()
        .withColumn("ps", pmod(hash(col("span_text")), lit(BucketPartitions)))
        .withColumn("batch_id", lit(id)),
      s"$outDir/span_index", Seq("ps"), mode = "append")
  }

  /** Materialized near-dup edges for the given evidence tiers.
    * `tier` is the partition column, so the filter prunes whole
    * directories (PartitionFilters, not a data scan).
    */
  def pairs(spark: SparkSession, outDir: String,
            tiers: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/dedup_pairs")
      .where($"tier".isin(tiers: _*))
      .select($"doc1", $"doc2")
  }

  /** Served form of [[Dedup.dedupClusters]] — same rows, zero
    * recompute. Order is re-applied on read (parquet has no order).
    */
  def clusters(spark: SparkSession, outDir: String): DataFrame =
    served(spark, s"$outDir/clusters")

  /** Served form of [[Dedup.dedupClustersMulti]]. */
  def clustersMulti(spark: SparkSession, outDir: String): DataFrame =
    served(spark, s"$outDir/clusters_multi")

  /** Served form of [[Dedup.dedupClustersMultiCapped]] — the
    * skew-robust clustering from the stored capped evidence. */
  def clustersMultiCapped(spark: SparkSession, outDir: String): DataFrame =
    served(spark, s"$outDir/clusters_multi_capped")

  private def served(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(path)
      .select($"doc_id", $"cluster_id", $"cluster_size", $"is_keeper")
      .orderBy($"doc_id")
  }

  /** Persist the IVF serving index: the centroid table plus the
    * cell-assigned vectors, assignments **partitioned by `pc`** (cell
    * prefix) — a query's probe join reads only the directories its
    * nProbe cells hash into. This is the ANN analog of the
    * `minhash_buckets` snapshot: index build (the expensive corpus
    * pass) runs once per corpus snapshot; queries arrive later and
    * probe storage.
    */
  def materializeAnn(spark: SparkSession, sfDir: String,
                     outDir: String): Unit = {
    val (cent, assign) = Similarity.ivfServingIndex(spark, sfDir)
    cent.write.mode("overwrite").parquet(s"$outDir/ann_centroids")
    ParquetSink.writePartitioned(
      assign.withColumn("pc", pmod(col("cell"), lit(AnnPartitions))),
      s"$outDir/ann_assign", Seq("pc"))
  }

  private val AnnPartitions = 64

  /** Persist the PQ serving index: the IVF centroid table (probe
    * geometry — same layout `materializeAnn` writes), the
    * corpus-size-independent PQ codebook, and the per-vector CODES
    * partitioned by `pc`. A `pq_codes` row's payload is the 8 codes
    * plus the norm (~24 B) against the 512 B raw double vector
    * `ann_assign` stores — the order-of-magnitude on-disk footprint
    * cut that makes PQ worth its ADC overhead at 100 TB, which the
    * in-memory bench structurally can't show (BASELINE's "PQ note";
    * `similarity_pq` is diagnostic-tier for exactly that reason).
    * Serving never reads a full vector after the query-side LUT
    * build: see [[annSearchPqFrom]].
    *
    * `trainRounds > 0` swaps the seeded codebook for the per-subspace
    * Lloyd-trained one ([[Similarity.pqTrainedCodebook]]); `codebookK`
    * overrides the entries-per-subspace capacity (the live tier's
    * PqK=16 is the oracle-replayable floor); `residual` builds the
    * IVFADC form (codes quantize r = v − cell centroid). All three
    * are measured in BASELINE's PQ addendum — on the synthetic
    * clustered tier every variant converges (the within-cluster
    * signal is isotropic noise), so ADC's production role is pool
    * selection ahead of an exact re-rank. The serve side reads every
    * knob off the snapshot itself, so [[annSearchPqFrom]] needs no
    * matching config.
    */
  def materializePq(spark: SparkSession, sfDir: String, outDir: String,
                    trainRounds: Int = 0, codebookK: Int = -1,
                    residual: Boolean = false): Unit = {
    import spark.implicits._
    Similarity.ivfCentroids(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/ann_centroids")
    // single-row marker the serve reads: residual snapshots score
    // dot(q, cell centroid) + ADC(residual), raw snapshots ADC alone
    Seq(residual).toDF("residual")
      .write.mode("overwrite").parquet(s"$outDir/pq_meta")
    if (residual) {
      // IVFADC (Jégou et al.): quantize r = v − cell centroid — the
      // within-cell signal the raw-vector codebook can't resolve at
      // any cheap K (the measured clustered-decade collapse,
      // BASELINE PQ addendum)
      val (cent, assign) = Similarity.ivfServingIndex(spark, sfDir)
      val resid = assign
        .join(broadcast(cent), assign("cell") === cent("cent_id"))
        .selectExpr("vec_id", "nrm", "cell",
          "zip_with(v, centv, (ra, rb) -> ra - rb) as v")
        // feeds codebook training AND the encode
        .transform(BlockHygiene.checkpointTracked)
      // seed the residual codebook PAST the IVF seed range: vectors
      // with vec_id < C are their own cell centroid, so their
      // residuals are zero vectors — seeding from them collapses the
      // codebook (Lloyd can't escape all-zero seeds; measured as the
      // 0.012 clustered-decade agreement before this offset)
      val ivfC = cent.count()
      val cb = Similarity.pqTrainedCodebookFrom(
        resid.selectExpr(s"vec_id - $ivfC as vec_id", "v"),
        math.max(trainRounds, 0),
        if (codebookK > 0) codebookK else Similarity.PqKDefault)
      cb.write.mode("overwrite").parquet(s"$outDir/pq_codebook")
      writePqCodes(spark, outDir, resid, Similarity.packPqCodes(
        Similarity.pqEncode(resid.select(col("vec_id"), col("v")), cb)))
    } else if (trainRounds == 0 && codebookK <= 0) {
      val (ranked, cb, codes, _) = Similarity.pqIndex(spark, sfDir)
      cb.write.mode("overwrite").parquet(s"$outDir/pq_codebook")
      writePqCodes(spark, outDir,
        ranked.where(col("crk") === 1), Similarity.packPqCodes(codes))
    } else {
      // rounds = 0 with a codebookK override yields the seeded
      // k-entry codebook (the Lloyd loop simply doesn't run)
      val cb =
        if (codebookK > 0)
          Similarity.pqTrainedCodebook(spark, sfDir, trainRounds, codebookK)
        else Similarity.pqTrainedCodebook(spark, sfDir, trainRounds)
      cb.write.mode("overwrite").parquet(s"$outDir/pq_codebook")
      val (_, assign) = Similarity.ivfServingIndex(spark, sfDir)
      writePqCodes(spark, outDir, assign, Similarity.packPqCodes(
        Similarity.pqEncode(assign.select(col("vec_id"), col("v")), cb)))
    }
  }

  private def writePqCodes(spark: SparkSession, outDir: String,
                           assign: DataFrame, codesArr: DataFrame): Unit =
    ParquetSink.writePartitioned(
      assign.select(col("vec_id"), col("nrm"), col("cell"))
        .join(codesArr, "vec_id")
        .withColumn("pc", pmod(col("cell"), lit(AnnPartitions))),
      s"$outDir/pq_codes", Seq("pc"))

  /** Persist the positional postings index for phrase serving — the
    * search-index analog of [[materializeAnn]]: `(token, doc_id, pos)`
    * rows partitioned by a poly-hash prefix of the TOKEN. A phrase
    * query then reads at most m of the `PostingsPartitions` directories
    * (plan-time partition pruning) instead of the corpus — the build
    * cost is one explode + one partitioned write per snapshot, and the
    * serving cost is |postings of the phrase's terms|, corpus-size-
    * independent.
    */
  def materializePostings(spark: SparkSession, sfDir: String,
                          outDir: String): Unit = {
    import spark.implicits._
    val postings = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", s"${TextHash.tokensSpark} as tokens")
      .select($"doc_id", posexplode($"tokens").as(Seq("pos", "token")))
      .withColumn("pt", expr(s"poly_hash(token) % $PostingsPartitions"))
    ParquetSink.writePartitioned(postings, s"$outDir/postings", Seq("pt"))
  }

  private val PostingsPartitions = 64

  /** Persist the reference term distribution for incremental drift:
    * the corpus-wide (token, tf) counts, their total, and the top-V
    * vocabulary cut — O(vocab) rows once per snapshot. A new crawl
    * batch is then judged against the FROZEN reference without ever
    * rescanning the reference corpus (the materializeEval asymmetry:
    * the stored side is the small bounded one).
    */
  def materializeTermCounts(spark: SparkSession, sfDir: String,
                            outDir: String, topV: Int = 1000): Unit = {
    import spark.implicits._
    val ctf = Tables.documents(spark, sfDir)
      .selectExpr(s"explode(${TextHash.tokensSpark}) as token")
      .groupBy($"token").agg(count(lit(1)).as("ctf"))
      .transform(BlockHygiene.checkpointTracked) // feeds the total AND the top-V cut
    val ctot = ctf.agg(sum($"ctf").as("ctotal"))
    ctf.orderBy($"ctf".desc, $"token").limit(topV)
      .crossJoin(broadcast(ctot))
      .write.mode("overwrite").parquet(s"$outDir/term_counts")
  }

  /** Term-distribution drift of an incoming batch AGAINST the stored
    * reference snapshot — the production form of
    * [[TextStats.corpusDrift]]'s within-corpus report ("did this
    * week's crawl move from the corpus we trained on?"). The reference
    * side is the O(topV) stored table (broadcast); the batch side is
    * one map-side-partial token count restricted to the reference
    * vocabulary — so a batch term the reference never saw is out of
    * scope (the reference's top-V defines the monitored dimensions,
    * exactly like the within-corpus lattice), while a reference term
    * MISSING from the batch reports p_batch = 0, delta = −p_ref.
    * Probabilities are integer micro-units; p_batch is relative to the
    * batch's FULL token volume (not just monitored terms), mirroring
    * the within-corpus report's corpus-total denominator.
    */
  def corpusDriftAgainst(batch: DataFrame, outDir: String,
                         k: Int = 100): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ref = spark.read.parquet(s"$outDir/term_counts")
    val toks = batch.selectExpr(s"explode(${TextHash.tokensSpark}) as token")
    val btot = toks.agg(count(lit(1)).as("btotal"))
    val btf = toks.join(broadcast(ref.select($"token")), Seq("token"))
      .groupBy($"token").agg(count(lit(1)).as("tf"))
    ref.join(broadcast(btf), Seq("token"), "left")
      .withColumn("tf", coalesce($"tf", lit(0L)))
      .crossJoin(broadcast(btot))
      .withColumn("p_batch_micro", expr("(1000000 * tf) div greatest(btotal, 1)"))
      .withColumn("p_ref_micro", expr("(1000000 * ctf) div ctotal"))
      .withColumn("delta_micro", $"p_batch_micro" - $"p_ref_micro")
      .orderBy(abs($"delta_micro").desc, $"token")
      .limit(k)
      .select($"token", $"tf", $"p_batch_micro", $"p_ref_micro",
        $"delta_micro")
  }

  /** Phrase search served from the stored postings index: partition
    * literals are computed driver-side with the same poly-hash fold the
    * writer used ([[TextHash.phScala]] — no Spark job), so the scan's
    * PartitionFilters prune every non-phrase directory, and the m-way
    * adjacency join ([[TextStats.phraseJoin]]) is identical to the live
    * query's. Row-for-row equal to [[TextStats.phraseSearch]].
    */
  def phraseSearchFrom(spark: SparkSession, outDir: String,
                       phrase: Seq[String]): DataFrame = {
    TextStats.checkPhrase(phrase)
    val pts = phrase.distinct.map(w => TextHash.phScala(w) % PostingsPartitions)
    val postings = spark.read.parquet(s"$outDir/postings")
      .where(col("pt").isin(pts.distinct: _*) &&
        col("token").isin(phrase.distinct: _*))
    TextStats.phraseJoin(postings, phrase)
  }

  /** ANN search for ARBITRARY query vectors against the stored index —
    * the real serving signature (the `similarity_*` queries always
    * search the corpus against itself; a production query set is new
    * vectors). Queries rank the broadcast centroid table, probe the
    * stored assignments on (pc, cell), and keep the exact top-k per
    * query. `excludeSelfId` drops neighbor rows whose vec_id equals
    * the query id — only meaningful when the query ids share the
    * corpus id space (the parity test replays `similarity_ivf` that
    * way); leave false for external queries.
    */
  def annSearchFrom(spark: SparkSession, outDir: String, queries: DataFrame,
                    k: Int = 5, nProbe: Int = -1,
                    excludeSelfId: Boolean = false): DataFrame = {
    import spark.implicits._
    val cent = spark.read.parquet(s"$outDir/ann_centroids")
    val np = Similarity.probesFor(nProbe, cent.count().toInt)
    val q = Similarity.withNorm(queries, "v", "vec_id")
    val probes = Similarity.ivfRankedFrom(q, cent, np)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"), $"cell")
      .withColumn("pc", pmod($"cell", lit(AnnPartitions)))
    val assign = spark.read.parquet(s"$outDir/ann_assign")
    val cand = probes.join(assign, Seq("pc", "cell"))
    val kept = if (excludeSelfId) cand.where($"query_id" =!= $"vec_id") else cand
    Similarity.rankTopK(
      kept.withColumn("cosine", expr("vec_dot(qv, v) / (qn * nrm)")), k, "vec_id")
  }

  /** ANN serving from the PQ snapshot — ADC-score stored CODES against
    * the query-side lookup table and return the approx-cosine top-k.
    * The candidate scan reads `pq_codes` only (codes + norm, never a
    * vector), so at scale the scoring pass moves an order of magnitude
    * fewer bytes than [[annSearchFrom]]'s full-vector scan; the trade
    * is approximate ranks (exact re-rank is a k-per-query id-join any
    * full-precision store can serve afterwards). Geometry and
    * quantization match the live [[Similarity.similarityPq]]
    * bit-for-bit — the spec pins stored == live on (neighbor,
    * approx_cosine, rnk). Residual snapshots (IVFADC) score
    * dot(q, cell centroid) + ADC(residual) — the coarse term is
    * computed once per PROBE (np rows/query), so the candidate scan
    * is still codes-only.
    */
  def annSearchPqFrom(spark: SparkSession, outDir: String, queries: DataFrame,
                      k: Int = 5, nProbe: Int = -1,
                      excludeSelfId: Boolean = false): DataFrame = {
    import spark.implicits._
    val cent = spark.read.parquet(s"$outDir/ann_centroids")
    val np = Similarity.probesFor(nProbe, cent.count().toInt)
    val q = Similarity.withNorm(queries, "v", "vec_id")
    val cb = spark.read.parquet(s"$outDir/pq_codebook")
    // the ADC stride is a property of the SNAPSHOT (its codebook's
    // entries-per-subspace), not of the live tier's PqK constant;
    // same for the residual marker (pre-marker snapshots are raw)
    val adc = Similarity.pqAdcExprFor(Similarity.pqCodebookK(cb))
    // Absence vs failure matters here: a pre-marker snapshot (no
    // pq_meta dir) is genuinely raw, but a residual snapshot whose
    // marker READ fails must not be silently served as raw (qdotc=0
    // against residual codes = wrong approx_cosine, no error). So:
    // default false only on ABSENCE; let read exceptions propagate.
    val metaPath = new org.apache.hadoop.fs.Path(s"$outDir/pq_meta")
    val residual =
      metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(metaPath) &&
      spark.read.parquet(s"$outDir/pq_meta").head().getBoolean(0)
    val lutArr = Similarity.pqLutFor(
      q.selectExpr("vec_id as query_id", "v"), cb)
    val ranked = Similarity.ivfRankedFrom(q, cent, np)
    // residual snapshots split the score: the exact dot(q, cell
    // centroid) rides on the PROBE row (np per query — the coarse
    // term), the ADC sum supplies only the within-cell residual
    val probes = (if (residual)
        ranked.join(broadcast(cent), ranked("cell") === cent("cent_id"))
          .withColumn("qdotc", expr("vec_dot(v, centv)"))
      else ranked.withColumn("qdotc", lit(0d)))
      .select($"vec_id".as("query_id"), $"nrm".as("qn"), $"cell", $"qdotc")
      .withColumn("pc", pmod($"cell", lit(AnnPartitions)))
      .join(lutArr, "query_id")
    val codes = spark.read.parquet(s"$outDir/pq_codes")
    val cand = probes.join(codes, Seq("pc", "cell"))
    val kept = if (excludeSelfId) cand.where($"query_id" =!= $"vec_id") else cand
    kept.withColumn("approx_cosine",
      expr(s"(qdotc + cast(($adc) as double) / 1000000000D) / (qn * nrm)"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"approx_cosine".desc, $"vec_id".asc)))
      .where($"rnk" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"approx_cosine",
        $"rnk".cast("int").as("rnk"))
      .orderBy($"query_id", $"rnk")
  }

  /** Persist the eval-set shingle index for decontamination serving.
    * The production asymmetry: eval sets are FROZEN and small; train
    * batches are huge and keep arriving. So the stored side is the
    * eval index — (doc_id, shingle) pairs partitioned by a
    * shingle-hash prefix `ps`, plus the per-doc shingle totals the
    * contamination denominator needs — and each incoming train batch
    * probes it live. Storing the train index (the [[decontamination]]
    * query's other side) would mean re-writing a 100 TB-scale
    * structure per batch; storing eval costs megabytes once.
    */
  def materializeEval(spark: SparkSession, sfDir: String,
                      outDir: String): Unit = {
    import spark.implicits._
    val evalShingles = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "poly_hash(cast(doc_id as string)) % 100 as bucket",
        "shingle_hashes(text) as sh")
      .where("bucket >= 95 and size(sh) >= 1")
      .selectExpr("doc_id", "explode(sh) as shingle").distinct()
      .transform(BlockHygiene.checkpointTracked) // feeds totals AND the partitioned write
    ParquetSink.writePartitioned(
      evalShingles.withColumn("ps", pmod($"shingle", lit(BucketPartitions))),
      s"$outDir/eval_shingles", Seq("ps"))
    evalShingles.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .write.mode("overwrite").parquet(s"$outDir/eval_totals")
  }

  /** [[TextStats.decontamination]] served from the stored eval index:
    * the train batch computes its own distinct-shingle set live (a
    * narrow map + dedup over the batch), probes `eval_shingles/` on
    * (ps, shingle), and divides by the stored totals. Row-identical to
    * the live query on the same train set (PipelinesSpec pins it).
    */
  def decontaminateFrom(spark: SparkSession, sfDir: String,
                        outDir: String): DataFrame = {
    import spark.implicits._
    val trainIndex = Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        "poly_hash(cast(doc_id as string)) % 100 as bucket",
        "shingle_hashes(text) as sh")
      .where("bucket < 90 and size(sh) >= 1")
      .selectExpr("explode(sh) as shingle").distinct()
      .withColumn("ps", pmod($"shingle", lit(BucketPartitions)))
    val evalShingles = spark.read.parquet(s"$outDir/eval_shingles")
    val totals = spark.read.parquet(s"$outDir/eval_totals")
    val hits = evalShingles.join(trainIndex, Seq("ps", "shingle"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce($"n_hit", lit(0L)))
      .selectExpr("doc_id", "n_shingles", "n_hit",
        "cast(n_hit as double) / n_shingles as contamination")
      .withColumn("flagged", $"contamination" >= 0.5)
      .orderBy($"doc_id")
  }

  /** ANN serving AS A STREAM: query vectors arrive continuously and
    * each micro-batch is searched against the stored IVF index via
    * [[annSearchFrom]] — queries are stateless rows, so per-batch
    * search is exact serving, not an approximation of it. Results land
    * in `resultDir` through [[ParquetSink.overwriteBatch]]
    * (replay-idempotent).
    * Unlike the dedup loop there is no ingest step: queries don't
    * change the index.
    */
  def annSearchStream(queries: DataFrame, outDir: String,
                      resultDir: String, k: Int = 5, nProbe: Int = -1,
                      excludeSelfId: Boolean = false) =
    BlockHygiene.eachBatch(queries.writeStream) { (batch, id) =>
      ParquetSink.overwriteBatch(annSearchFrom(batch.sparkSession, outDir,
        batch, k, nProbe, excludeSelfId), id, resultDir)
    }

  // --------------------------------------- embedding dedup crawl loop

  /** Persist the embedding-dedup crawl index: the FROZEN seeded
    * centroid geometry (first C of the snapshot corpus — the same rule
    * the live tiers use) plus the BASE vectors' cell assignments with
    * their centroid affinity `csim`, the column
    * [[embDedupIncrementalFrom]] windows its occupancy cap over. Rows
    * carry `batch_id` (−1 = snapshot rows; streamed batches are ≥ 0,
    * so the `batch_id < id` replay guard always admits the base) and
    * are partitioned by `pc` so a batch's probe join prunes to the
    * cell directories it actually touches. The embedding twin of
    * [[materialize]]'s `minhash_buckets` snapshot.
    */
  def materializeEmbDedup(spark: SparkSession, sfDir: String,
                          outDir: String,
                          basePred: String =
                            s"NOT (${Similarity.EmbIncrNewGate})"): Unit = {
    import spark.implicits._
    val e = Similarity.vectors(spark, sfDir)
    // geometry frozen from the FULL snapshot corpus (base + the gated
    // pending batch) — the live incremental query derives C and the
    // caps from base+batch together, so the stored path must too for
    // row-identity (PipelinesSpec pins it)
    val cent = Similarity.seededCentroids(e, Similarity.autoCentroids(e.count()))
    cent.write.mode("overwrite").parquet(s"$outDir/emb_centroids")
    val assign = Similarity.ivfRankedFrom(e.where(expr(basePred)), cent, 1)
      .select($"vec_id", $"v", $"nrm", $"cell", $"csim")
      .withColumn("batch_id", lit(-1L))
      .withColumn("pc", pmod($"cell", lit(AnnPartitions)))
    // batch_id is a PARTITION column (not just data): each streamed
    // batch owns its own directory, so a crash-replayed ingest can
    // REWRITE it (dynamic overwrite in [[embDedupBatch]]) instead of
    // appending duplicates, and the `batch_id < id` probe guard prunes
    // at the directory level
    ParquetSink.writePartitioned(assign, s"$outDir/emb_assign",
      Seq("batch_id", "pc"))
  }

  /** Fail fast on a pre-versioning assignment-index root. Before the
    * replay-idempotent ingest, `emb_assign` was written with pc=-only
    * partition directories and `batch_id` as a BIGINT DATA column; the
    * current ingest writes `batch_id=`/`pc=` partition directories.
    * One old-layout root plus one new-layout ingest yields mixed
    * directory depths that Spark partition discovery rejects
    * ("Conflicting directory structures") mid-stream — and batch_id
    * silently changes type from BIGINT column to inferred partition
    * value. Detect the old layout up front and name the fix (rebuild
    * via [[materializeEmbDedup]]) instead of letting discovery brick a
    * running [[embDedupStream]] on upgrade. One FS listing per batch —
    * noise against the batch's own read.
    */
  private def requireEmbAssignLayout(spark: SparkSession,
                                     outDir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/emb_assign")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val oldStyle = fs.listStatus(path).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("pc="))
      require(!oldStyle,
        s"$outDir/emb_assign uses the legacy pc=-only directory layout " +
          "(batch_id as a data column), which cannot share a root with " +
          "the current batch_id=/pc= ingest — rebuild the index with " +
          "materializeEmbDedup before resuming the crawl loop")
    }
  }

  /** One judged batch against the stored index — the shared core of
    * [[embDedupIncrementalFrom]] and [[embDedupStream]]. Returns
    * (verdicts, the batch's own crk=1 assignment rows for ingest).
    *
    * Exactness of the pruned cap window: the occupancy cap ranks
    * PER CELL (csim DESC, vec_id ASC), so restricting the window to
    * the cells the batch probes changes no rank inside them — the
    * stored path reads only those cells' base rows (pc-pruned) yet
    * reproduces the live query's capped core row-for-row. Per-batch
    * read volume is the probed cells' occupancy, never the corpus.
    */
  private def embDedupJudge(q: DataFrame, beforeBatch: Long,
                            outDir: String, threshold: Double)
      : (DataFrame, DataFrame) = {
    val spark = q.sparkSession
    import spark.implicits._
    requireEmbAssignLayout(spark, outDir)
    val cent = spark.read.parquet(s"$outDir/emb_centroids")
    val np = Similarity.autoNProbe(cent.count().toInt)
    val ranked = Similarity.ivfRankedFrom(q, cent, np)
    val batchAssign = ranked.where($"crk" === 1)
      .select($"vec_id", $"v", $"nrm", $"cell", $"csim")
    val base = spark.read.parquet(s"$outDir/emb_assign")
      .where($"batch_id" < beforeBatch)
    // the cap resolves from the corpus size the LIVE query would see:
    // base rows are one-per-vector by construction, plus this batch
    // (both counts are metadata/checkpoint-cheap)
    val cA = Similarity.autoCapAssign(base.count() + batchAssign.count())
    val probedCells = ranked.select($"cell").distinct()
      .withColumn("pc", pmod($"cell", lit(AnnPartitions)))
    val baseTouched = base.join(probedCells, Seq("pc", "cell"))
      .select($"vec_id", $"v", $"nrm", $"cell", $"csim")
    val cellW = org.apache.spark.sql.expressions.Window
      .partitionBy($"cell").orderBy($"csim".desc, $"vec_id".asc)
    val core = baseTouched.withColumn("o_new", lit(false))
      .union(batchAssign.withColumn("o_new", lit(true)))
      .withColumn("ark", row_number().over(cellW)).where($"ark" <= cA)
      .select($"vec_id".as("oid"), $"v".as("ov"), $"nrm".as("onrm"),
        $"cell", $"o_new")
    val probes = ranked.select($"vec_id".as("qid"), $"v".as("qv"),
      $"nrm".as("qn"), $"cell")
    val verdicts = Similarity.embIncrementalVerdictsFrom(
      q.select($"vec_id"), probes, core, threshold)
    (verdicts, batchAssign)
  }

  /** [[Similarity.dedupEmbeddingIncremental]] served from the
    * snapshot: the incoming batch ranks its own cells live against the
    * FROZEN stored centroids (a broadcast-joinable C-row table) and
    * probes the STORED base assignment instead of re-indexing the
    * corpus. Must be row-identical to the live query (PipelinesSpec
    * pins it).
    */
  def embDedupIncrementalFrom(spark: SparkSession, sfDir: String,
                              outDir: String,
                              judgedPred: String = Similarity.EmbIncrNewGate,
                              threshold: Double = 0.4): DataFrame = {
    val q = Similarity.withNorm(
      Tables.embeddings(spark, sfDir).where(expr(judgedPred)), "embedding", "vec_id")
    embDedupJudge(q, Long.MaxValue, outDir, threshold)._1
  }

  /** The embedding crawl loop AS A STREAM: every micro-batch of
    * vectors `(vec_id, embedding)` is judged against the stored index,
    * verdicts land in `verdictDir` partitioned by `batch_id`, and the
    * batch's crk=1 assignment rows are ingested so the NEXT micro-batch
    * sees this one as corpus — the embedding twin of
    * [[dedupIncrementalStream]], same exact replay: verdicts rewrite
    * their own partition ([[ParquetSink.overwriteBatch]]) and the probe
    * reads only `batch_id < id` rows, so a crash between the index
    * append and the offset commit replays against exactly the
    * pre-crash view (bit-identical rewrite, pinned by PipelinesSpec).
    */
  def embDedupStream(vectors: DataFrame, outDir: String,
                     verdictDir: String, threshold: Double = 0.4) =
    BlockHygiene.eachBatch(vectors.writeStream)(
      embDedupBatch(_, _, outDir, verdictDir, threshold))

  /** One micro-batch of the embedding crawl loop — judge then ingest
    * (exposed for the replay-idempotency spec; the stream calls
    * exactly this). */
  private[graft] def embDedupBatch(batch: DataFrame, id: Long,
                                   outDir: String, verdictDir: String,
                                   threshold: Double = 0.4): Unit = {
    val q = Similarity.withNorm(batch, "embedding", "vec_id")
    val (verdicts, batchAssign) = embDedupJudge(q, id, outDir, threshold)
    ParquetSink.overwriteBatch(verdicts, id, verdictDir)
    // ingest by REWRITING this batch's own (batch_id, pc) partitions,
    // never append: an append is not replay-idempotent — a crash
    // between the ingest and the offset commit would leave duplicate
    // index rows that inflate base.count() (the cap derivation) and
    // consume ranks in the per-cell occupancy window, evicting genuine
    // base rows once the cap binds. The replayed batch judges against
    // the same `batch_id < id` view, so its assign rows are
    // bit-identical and the rewrite converges.
    ParquetSink.overwriteBatch(
      batchAssign.withColumn("pc", pmod(col("cell"), lit(AnnPartitions))),
      id, s"$outDir/emb_assign", "pc")
  }

  /** Persist the prototypicality-gate index: the per-label prototype
    * vectors ([[Similarity.protoTable]]'s micro-unit-exact centroids)
    * plus each label's FROZEN outlier cutoff — the worst flagged
    * `proto_cos` from the corpus run of
    * [[Similarity.embeddingOutliers]]. Production curation freezes
    * the threshold on a reference corpus and applies it to incoming
    * data; recomputing the pct-rank per batch would make a vector's
    * verdict depend on what it arrived with. A label whose corpus cut
    * flagged nothing stores a null cutoff → the gate passes everything
    * of that label. O(labels) rows — megabytes, broadcast everywhere.
    */
  def materializeProtos(spark: SparkSession, sfDir: String,
                        outDir: String): Unit = {
    val cut = Similarity.embeddingOutliers(spark, sfDir)
      .where(col("is_outlier"))
      .groupBy(col("label")).agg(max(col("proto_cos")).as("cutoff"))
    Similarity.protoTable(spark, sfDir)
      .join(cut, Seq("label"), "left_outer")
      .write.mode("overwrite").parquet(s"$outDir/protos")
  }

  /** Score a batch of (vec_id, label, v) vectors against the stored
    * prototype index: cosine to the label prototype, flagged iff at or
    * below the frozen cutoff. On a replay of the reference corpus the
    * verdicts match [[Similarity.embeddingOutliers]] exactly (the
    * cutoff IS that run's boundary value; a cross-boundary cosine tie
    * could over-flag, but requires two bit-identical cosines —
    * PipelinesSpec pins exact equality on this corpus). The batch
    * never shuffles: one broadcast join + a narrow map.
    */
  def outlierScoreFrom(spark: SparkSession, outDir: String,
                       batch: DataFrame): DataFrame = {
    import spark.implicits._
    val protos = broadcast(spark.read.parquet(s"$outDir/protos"))
    Similarity.withNorm(batch, "v", "vec_id", "label")
      .join(protos, "label")
      .withColumn("proto_cos", expr("vec_dot(v, centv) / (nrm * centn)"))
      .selectExpr("vec_id", "label", "proto_cos",
        "proto_cos <= coalesce(cutoff, cast(-2.0 as double)) as is_outlier")
      .orderBy($"label", $"vec_id")
  }

  /** The curation gate AS A STREAM: incoming vectors are scored
    * per micro-batch against the stored prototypes via
    * [[outlierScoreFrom]] — stateless rows, so per-batch scoring is
    * exact serving. Verdicts land through
    * [[ParquetSink.overwriteBatch]] (replay-idempotent). Like
    * [[annSearchStream]] there is no ingest step: scoring doesn't move
    * the prototypes — re-fitting them is a periodic batch
    * [[materializeProtos]] run.
    */
  def outlierGateStream(vectors: DataFrame, outDir: String,
                        resultDir: String) =
    BlockHygiene.eachBatch(vectors.writeStream) { (batch, id) =>
      ParquetSink.overwriteBatch(
        outlierScoreFrom(batch.sparkSession, outDir, batch), id, resultDir)
    }

  /** Persist the frozen eval embedding panel — the semantic-
    * decontamination index. The eval side of
    * [[Similarity.embeddingDecontamination]] is a fixed benchmark:
    * small (O(n/mod) rows — megabytes) and frozen between releases,
    * so the serving shape stores it once with precomputed norms and
    * broadcasts it into every screening pass. Re-deriving it per
    * batch would rescan the corpus for a table that never changes.
    */
  def materializeEvalVecs(spark: SparkSession, sfDir: String,
                          outDir: String): Unit = {
    import spark.implicits._
    val mod = Similarity.autoSampleMod(
      Tables.embeddings(spark, sfDir).count())
    Tables.embeddings(spark, sfDir)
      .where($"vec_id" % mod === 0)
      .selectExpr("vec_id as eval_id",
        "cast(embedding as array<double>) as evv")
      .selectExpr("eval_id", "evv", "sqrt(vec_dot(evv, evv)) as en")
      .write.mode("overwrite").parquet(s"$outDir/eval_vecs")
  }

  /** Screen a batch of (vec_id, v) train vectors against the stored
    * eval panel: best cosine + leak flag, exactly
    * [[Similarity.embeddingDecontamination]]'s scoring — broadcast
    * join, narrow map, map-side partial max with the same
    * (cosine, −eval_id) tie-break. On a replay of the train corpus
    * the output is row-identical to the live query (PipelinesSpec
    * pins it). The batch never shuffles pairwise; the only exchange
    * is the per-train-id max finish.
    */
  def semanticDecontaminateFrom(spark: SparkSession, outDir: String,
                                batch: DataFrame,
                                threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val eval = broadcast(spark.read.parquet(s"$outDir/eval_vecs"))
    batch.selectExpr("vec_id as train_id", "cast(v as array<double>) as tv")
      .withColumn("tn2", expr("sqrt(vec_dot(tv, tv))"))
      .join(eval, expr("true"))
      .withColumn("cosine", expr("vec_dot(tv, evv) / (tn2 * en)"))
      .groupBy($"train_id")
      .agg(max(struct($"cosine", (-$"eval_id").as("neg_eval"))).as("best"))
      .select($"train_id", (-$"best.neg_eval").as("eval_id"),
        $"best.cosine".as("cosine"),
        ($"best.cosine" >= threshold).as("contaminated"))
      .orderBy($"train_id")
  }

  /** The contamination screen AS A STREAM: incoming train vectors are
    * scored per micro-batch against the stored eval panel via
    * [[semanticDecontaminateFrom]] — stateless rows, so per-batch
    * scoring is exact serving. Verdicts land through
    * [[ParquetSink.overwriteBatch]] (replay-idempotent). No ingest step:
    * screening doesn't move the eval panel — refreshing it is a
    * periodic batch [[materializeEvalVecs]] run when the benchmark
    * suite changes.
    */
  def semanticDecontaminateStream(vectors: DataFrame, outDir: String,
                                  resultDir: String) =
    BlockHygiene.eachBatch(vectors.writeStream) { (batch, id) =>
      ParquetSink.overwriteBatch(
        semanticDecontaminateFrom(batch.sparkSession, outDir, batch), id,
        resultDir)
    }

  /** [[Sampling.corpusPrep]] served from the snapshot: keeper set from
    * the clusters parquet instead of re-running signatures + LSH +
    * label propagation. The quality/lang stats remain live (they're a
    * narrow single-pass map); only the expensive evidence is cached.
    */
  def corpusPrepFrom(spark: SparkSession, sfDir: String, outDir: String,
                     minQuality: Double = 0.5): DataFrame = {
    import spark.implicits._
    val stats = TextStats.textStats(spark, sfDir)
      .select($"doc_id", $"lang", $"n_tokens", $"quality")
    val keepers = clusters(spark, outDir)
      .where($"is_keeper").select($"doc_id")
    stats.join(keepers, "doc_id")
      .withColumn("h", expr("poly_hash(cast(doc_id as string))"))
      .where($"quality" >= minQuality && expr("h % 100 < 90"))
      .select($"doc_id", $"lang", $"n_tokens", $"quality")
      .orderBy($"doc_id")
  }
}
