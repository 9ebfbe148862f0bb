package graft.textops

import graft.Tables
import graft.streaming.BlockHygiene
import graft.textops.TextHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus splitting + stratified quota sampling — the
  * data-mixing stage of a training pipeline (no analog in the
  * reference; part of the LLM-pipeline surface the build brief adds).
  *
  * Split assignment is the industry-standard content-hash bucket:
  * `poly_hash(doc_id) % 100` → train/val/test at 90/5/5. Hash-based
  * (not random) so the split is reproducible across runs, engines and
  * cluster sizes, and stable under corpus growth — a new document
  * never moves an old one between splits. The same portable hash the
  * dedup tiers use makes it replayable in the DuckDB oracle.
  *
  * The per-(lang, split) quota keeps the `quota` docs with the
  * smallest hash — deterministic uniform-without-replacement
  * subsampling (the hash is uniform over documents, so "smallest h"
  * is a random-but-reproducible choice).
  *
  * Scale note: the quota is a rank over (lang, split) partitions —
  * bounded key cardinality, so at 100 TB the few-languages case makes
  * single partitions big. The upgrade path (same results) is
  * threshold sampling: take the quota-th smallest h per group via the
  * two-level top-K used by uv_approx_kmv, then keep h below it —
  * every stage partial-aggregatable, no single-task window.
  */
object Sampling {

  def corpusSample(spark: SparkSession, sfDir: String, quota: Int = 50): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "lang",
        "poly_hash(cast(doc_id as string)) as h")
      .withColumn("split",
        expr("case when h % 100 < 90 then 'train' " +
          "when h % 100 < 95 then 'val' else 'test' end"))
      .withColumn("smp_rank", row_number().over(
        Window.partitionBy($"lang", $"split").orderBy($"h".asc, $"doc_id".asc)))
      .where($"smp_rank" <= quota)
      .select($"doc_id", $"lang", $"split", $"smp_rank".cast("int").as("smp_rank"))
      .orderBy($"doc_id")
  }

  /** End-to-end training-corpus preparation — the pipeline the other
    * textops are stages of, composed in one query:
    *   keep a document iff it is (a) its near-dup cluster's canonical
    *   keeper ([[Dedup.dedupClusters]]), (b) above the quality floor
    *   ([[TextStats.textStats]]'s score), and (c) hash-bucketed into
    *   the train split ([[corpusSample]]'s split rule).
    * Output is the training corpus with its per-doc token counts —
    * what a tokenizer run would consume next.
    *
    * Every stage is the already-verified operator; the oracle composes
    * the same three CTE chains, so the composite is hash-gated
    * end-to-end, not just per-stage.
    */
  def corpusPrep(spark: SparkSession, sfDir: String,
                 minQuality: Double = 0.5): DataFrame = {
    import spark.implicits._
    val stats = TextStats.textStats(spark, sfDir)
      .select($"doc_id", $"lang", $"n_tokens", $"quality")
    val keepers = Dedup.dedupClusters(spark, sfDir)
      .where($"is_keeper").select($"doc_id")
    stats.join(keepers, "doc_id")
      .withColumn("h", expr("poly_hash(cast(doc_id as string))"))
      .where($"quality" >= minQuality && expr("h % 100 < 90"))
      .select($"doc_id", $"lang", $"n_tokens", $"quality")
      .orderBy($"doc_id")
  }

  val corpusPrepOracle: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes}, ${TextStats.textStatsCtes}
       |SELECT q.doc_id, q.lang, q.n_tokens, q.quality
       |FROM qual q JOIN cc ON q.doc_id = cc.doc AND cc.doc = cc.cluster_id
       |WHERE q.quality >= 0.5
       |  AND ${phDuck("CAST(q.doc_id AS VARCHAR)", "hh")} % 100 < 90
       |ORDER BY q.doc_id""".stripMargin

  /** Leak-safe train/val/test split — the cluster-aware version of
    * [[corpusSample]]'s hash split: the split bucket is
    * `poly_hash(cluster_id) % 100`, so every document in a near-dup
    * cluster lands in the SAME split and a near-duplicate of a
    * training document can never leak into val/test (the standard
    * eval-contamination guard; doc-level splitting silently breaks it
    * for every non-trivial cluster). Same hash family and 90/5/5
    * buckets as the doc-level split, and a singleton's cluster_id IS
    * its doc_id — so the leak-safe split agrees with [[corpusSample]]
    * everywhere except inside real clusters, and `moved` marks exactly
    * the docs the guard re-assigned.
    *
    * Scale shape: one narrow map over [[Dedup.dedupClusters]]'s output
    * (the clustering itself is the already-audited hash-min loop) —
    * the split adds zero shuffles, and hash-of-cluster keeps the
    * assignment reproducible across runs, engines and corpus growth.
    */
  def clusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val splitCase = (b: String) =>
      s"case when $b % 100 < 90 then 'train' when $b % 100 < 95 then 'val' else 'test' end"
    Dedup.dedupClusters(spark, sfDir)
      .selectExpr("doc_id", "cluster_id", "cluster_size",
        "poly_hash(cast(cluster_id as string)) as ch",
        "poly_hash(cast(doc_id as string)) as dh")
      .selectExpr("doc_id", "cluster_id", "cluster_size",
        s"${splitCase("ch")} as split",
        s"${splitCase("ch")} <> ${splitCase("dh")} as moved")
      .orderBy($"doc_id")
  }

  lazy val clusterSplitOracle: String = {
    val splitCase = (b: String) =>
      s"CASE WHEN $b % 100 < 90 THEN 'train' WHEN $b % 100 < 95 THEN 'val' ELSE 'test' END"
    s"""WITH RECURSIVE ${Dedup.clusterCtes}, sizes AS (
       |  SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1
       |), sp AS (
       |  SELECT c.doc AS doc_id, c.cluster_id, s.cluster_size,
       |         ${phDuck("CAST(c.cluster_id AS VARCHAR)", "cs")} % 100 AS cb,
       |         ${phDuck("CAST(c.doc AS VARCHAR)", "ds")} % 100 AS db
       |  FROM cc c JOIN sizes s ON c.cluster_id = s.cluster_id
       |)
       |SELECT doc_id, cluster_id, cluster_size,
       |       ${splitCase("cb")} AS split,
       |       ${splitCase("cb")} <> ${splitCase("db")} AS moved
       |FROM sp ORDER BY doc_id""".stripMargin
  }

  /** Temperature-based language rebalancing (α = 0.5) — the
    * multilingual data-mixing pass: sampling proportional to
    * √count flattens the language distribution (the standard
    * mBERT/XLM-R temperature trick) so high-resource languages stop
    * drowning the tail. Per language: target weight √c_l, keep
    * probability p_l = min(1, K·w_l / Σw / c_l) for a K = N/2 kept
    * budget, and the keep decision is a deterministic hash gate
    * (poly_hash37 — a hash family INDEPENDENT of the split hash, so
    * rebalancing never correlates with train/val/test assignment).
    *
    * Engine-exactness: √ is IEEE correctly-rounded (identical in both
    * engines), but a float Σ√c over languages would be
    * order-dependent — so weights are quantized to floor(√c·10⁶)
    * BIGINT micro-units and summed exactly, and every division runs in
    * one fixed double-op order. The keep gate compares exact bigints.
    *
    * Scale shape: the per-lang table is O(languages) rows (broadcast
    * everywhere); the corpus is touched by one narrow map (hash gate)
    * plus one partial-aggregated count — no shuffle of document rows.
    */
  def langRebalance(spark: SparkSession, sfDir: String): DataFrame =
    langRebalanceFrom(Tables.documents(spark, sfDir))

  /** Core of [[langRebalance]] over any (doc_id, lang) frame — split
    * out so the kept_total = 0 degenerate corpus (every thresh floors
    * to 0, nothing kept) is testable without testdata. */
  private[graft] def langRebalanceFrom(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // salt suffix: a bare short doc_id string folds to < ~80k (3 chars
    // of mult-37 fold never reach the modulus), which would make the
    // %1e6 gate vacuous — the suffix pushes every input past the
    // wrap-around so r is uniform over the full gate range
    val docs = documents
      .selectExpr("doc_id", "lang",
        "poly_hash37(concat(cast(doc_id as string), '-rebalance')) % 1000000 as r")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wq",
        expr("cast(floor(sqrt(cast(n_docs as double)) * 1000000) as bigint)"))
      .transform(BlockHygiene.checkpointTracked)
    val totals = counts.agg(sum($"n_docs").as("n_total"),
      sum($"wq").as("total_wq"))
    val probs = counts.crossJoin(broadcast(totals))
      .withColumn("p_keep", expr(
        "least(cast(1 as double), cast(n_total div 2 as double) * cast(wq as double) / total_wq / n_docs)"))
      .withColumn("thresh", expr("cast(floor(p_keep * 1000000) as bigint)"))
    val kept = docs.join(broadcast(probs.select($"lang", $"thresh")), "lang")
      .where($"r" < $"thresh")
      .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
    val keptTotal = kept.agg(sum($"n_kept").as("kept_total"))
    probs.join(broadcast(kept), Seq("lang"), "left_outer")
      .withColumn("n_kept", coalesce($"n_kept", lit(0L)))
      .crossJoin(broadcast(keptTotal))
      .selectExpr("lang", "n_docs", "p_keep", "n_kept",
        "cast(n_docs as double) / n_total as share_before",
        // degenerate corpus where every thresh floors to 0 keeps nothing:
        // kept_total is then NULL (sum over empty) — report 0.0 instead
        // of a null/NaN whose engine representation could diverge
        "case when coalesce(kept_total, 0) = 0 then cast(0.0 as double) else cast(n_kept as double) / kept_total end as share_after")
      .orderBy($"lang")
  }

  val langRebalanceOracle: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang,
       |         ${phDuck("CAST(doc_id AS VARCHAR) || '-rebalance'", "lr", 37)} % 1000000 AS r
       |  FROM documents
       |), counts AS (
       |  SELECT lang, count(*) AS n_docs,
       |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS wq
       |  FROM docs GROUP BY 1
       |), totals AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |         CAST(sum(wq) AS BIGINT) AS total_wq FROM counts
       |), probs AS (
       |  SELECT lang, n_docs, n_total,
       |         least(CAST(1 AS DOUBLE), CAST(n_total // 2 AS DOUBLE) * CAST(wq AS DOUBLE)
       |                    / total_wq / n_docs) AS p_keep
       |  FROM counts CROSS JOIN totals
       |), gated AS (
       |  SELECT lang, n_docs, n_total, p_keep,
       |         CAST(floor(p_keep * 1000000) AS BIGINT) AS thresh
       |  FROM probs
       |), kept AS (
       |  SELECT d.lang, count(*) AS n_kept
       |  FROM docs d JOIN gated g ON d.lang = g.lang AND d.r < g.thresh
       |  GROUP BY 1
       |), kt AS (
       |  SELECT CAST(sum(n_kept) AS BIGINT) AS kept_total FROM kept
       |)
       |SELECT g.lang, g.n_docs, g.p_keep,
       |       COALESCE(k.n_kept, 0) AS n_kept,
       |       CAST(g.n_docs AS DOUBLE) / g.n_total AS share_before,
       |       CASE WHEN COALESCE(kt.kept_total, 0) = 0 THEN CAST(0.0 AS DOUBLE)
       |            ELSE CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / kt.kept_total
       |       END AS share_after
       |FROM gated g LEFT JOIN kept k ON g.lang = k.lang CROSS JOIN kt
       |ORDER BY g.lang""".stripMargin

  // ── Mixture / epoch planner (per-source token accounting) ──────────

  /** Epochs-per-source mixture plan: count whitespace tokens per
    * source, weight sources by √tokens (α = 0.5 temperature — the
    * same flattening [[langRebalance]] applies to languages), and for
    * a target budget of half the corpus tokens compute how many
    * EPOCHS of each source the training run should take, capped at
    * 4.0 epochs (the conventional repetition ceiling before
    * memorization outweighs the data; a capped source reports its
    * unmet deficit instead of silently over-sampling).
    *
    * This is the planning half of data mixing: `langRebalance`
    * decides per-document keep probabilities; `mixturePlan` is the
    * ledger a training-data writer consumes — (source, epochs) pairs
    * plus the shortfall when a small source cannot fill its target
    * share. √-weights are computed in integer micro-units (floor ×
    * 10⁶) so the weight table replays bit-exactly in DuckDB; the
    * downstream ratios are plain IEEE double ops in identical
    * textual order in both engines.
    *
    * Scale shape: one partial-aggregated token count per source (the
    * only corpus-width stage — a narrow map + O(sources)-row agg),
    * then all planning math on the O(sources) table. At 100 TB
    * nothing but the token count touches the data.
    */
  def mixturePlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, sfDir)
      .selectExpr("source", s"size($tokensSpark) as n_tokens")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("src_tokens"))
      .transform(BlockHygiene.checkpointTracked)
    mixturePlanFinish(counts)
  }

  /** The planning math over a (source, n_docs, src_tokens) ledger —
    * split out so [[mixturePlanStream]] can finish each micro-batch's
    * incrementally-maintained counts exactly as the batch query does
    * (the [[graft.analytics.UserBehaviorAnalytics.retentionKmvFinish]]
    * pattern: bounded state in the stream, identical finish math).
    */
  private[graft] def mixturePlanFinish(countsIn: DataFrame): DataFrame = {
    val spark = countsIn.sparkSession
    import spark.implicits._
    val counts = countsIn.withColumn("wq",
      expr("cast(floor(sqrt(cast(src_tokens as double)) * 1000000) as bigint)"))
    val totals = counts.agg(
      sum($"src_tokens").as("corpus_tokens"), sum($"wq").as("total_wq"))
    counts.crossJoin(broadcast(totals))
      .selectExpr("source", "n_docs", "src_tokens",
        "cast(wq as double) / total_wq as w_share",
        "cast(corpus_tokens div 2 as double) * (cast(wq as double) / total_wq) as target_tokens")
      .selectExpr("source", "n_docs", "src_tokens", "w_share", "target_tokens",
        // greatest(...,1): a source whose docs are all empty text has
        // src_tokens = 0 — Spark's x/0 is NULL where DuckDB's is NaN,
        // so the guard must live in BOTH formulations identically
        "target_tokens / greatest(src_tokens, 1) as epochs_raw")
      .selectExpr("source", "n_docs", "src_tokens", "w_share", "target_tokens",
        "least(epochs_raw, cast(4.0 as double)) as epochs",
        "epochs_raw > cast(4.0 as double) as capped",
        "least(epochs_raw, cast(4.0 as double)) * src_tokens as planned_tokens")
      .selectExpr("source", "n_docs", "src_tokens", "w_share", "target_tokens",
        "epochs", "capped", "planned_tokens",
        "case when capped then target_tokens - planned_tokens " +
          "else cast(0.0 as double) end as deficit_tokens")
      .orderBy($"source")
  }

  val mixturePlanOracle: String =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len($tokensDuck)) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1
       |), w AS (
       |  SELECT source, n_docs, src_tokens,
       |         CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wq
       |  FROM counts
       |), totals AS (
       |  SELECT CAST(sum(src_tokens) AS BIGINT) AS corpus_tokens,
       |         CAST(sum(wq) AS BIGINT) AS total_wq FROM w
       |), planned AS (
       |  SELECT source, n_docs, src_tokens,
       |         CAST(wq AS DOUBLE) / total_wq AS w_share,
       |         CAST(corpus_tokens // 2 AS DOUBLE)
       |           * (CAST(wq AS DOUBLE) / total_wq) AS target_tokens,
       |         CAST(corpus_tokens // 2 AS DOUBLE)
       |           * (CAST(wq AS DOUBLE) / total_wq)
       |           / greatest(src_tokens, 1) AS epochs_raw
       |  FROM w CROSS JOIN totals
       |)
       |SELECT source, n_docs, src_tokens, w_share, target_tokens,
       |       least(epochs_raw, CAST(4.0 AS DOUBLE)) AS epochs,
       |       epochs_raw > CAST(4.0 AS DOUBLE) AS capped,
       |       least(epochs_raw, CAST(4.0 AS DOUBLE)) * src_tokens
       |         AS planned_tokens,
       |       CASE WHEN epochs_raw > CAST(4.0 AS DOUBLE)
       |            THEN target_tokens
       |                 - least(epochs_raw, CAST(4.0 AS DOUBLE)) * src_tokens
       |            ELSE CAST(0.0 AS DOUBLE) END AS deficit_tokens
       |FROM planned ORDER BY source""".stripMargin

  /** The mixture ledger AS A STREAM: per-source (n_docs, src_tokens)
    * maintained as streaming aggregation state (bounded at O(sources)
    * rows), the planning math re-finished per micro-batch on that
    * tiny table, and the whole plan snapshot overwritten in
    * `resultDir` — a live what-would-training-consume dashboard that
    * converges to the batch [[mixturePlan]] once the corpus has
    * streamed through (StreamingParitySpec pins it). Full overwrite
    * per batch = replay-idempotent by construction (the
    * complete-mode form of the [[BlockHygiene.eachBatch]] sink).
    */
  def mixturePlanStream(docs: DataFrame, resultDir: String) = {
    val ledger = docs.selectExpr("source", s"size($tokensSpark) as n_tokens")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    BlockHygiene.eachBatch(ledger.writeStream.outputMode("complete")) {
      (counts, _) =>
        mixturePlanFinish(counts).write.mode("overwrite").parquet(resultDir)
    }
  }

  /** DSIR-style importance-weighted data selection (Xie et al.,
    * NeurIPS 2023: Data Selection for Language Models via Importance
    * Resampling) — the targeted-selection stage of a pretraining
    * pipeline: given a small CURATED target set (here: provenance
    * sources `targetSources`, the "Wikipedia-like" proxy) and the raw
    * crawl (all documents), score every raw document by how much its
    * hashed bag-of-tokens resembles the target distribution over the
    * raw one, and keep the top-K.
    *
    * DSIR's estimator is the log-ratio Σ_t [log p̂_target(t) −
    * log p̂_raw(t)] over hashed n-gram buckets. Like
    * [[TextStats.ngramLmScore]]'s perplexity substitute, the
    * transcendental log is replaced by a rational, integer-exact
    * surrogate: per-bucket weight wq = ⌊c_t·10⁹/T_t⌋ − ⌊c_r·10⁹/T_r⌋
    * (the nano-rate difference — the first-order expansion of the
    * log-ratio around p_target = p_raw), and the document score is the
    * MEAN bucket weight over its token occurrences. All sums are
    * BIGINT, so the score is partition-order independent and replays
    * bit-for-bit in DuckDB; the one double division runs in a fixed
    * op order. The hashing trick (token → poly_hash % nBuckets) is
    * DSIR's own: collisions fold rare tokens together, bounding the
    * model at `nBuckets` rows regardless of vocabulary size.
    *
    * Selection is deterministic top-K (resampling without the Gumbel
    * noise — reproducibility over variance, documented divergence):
    * ORDER BY score/limit gives TakeOrderedAndProject (distributed
    * partial top-K, never a global sort), and `sel_rank` is a window
    * over the K-row result only (the vocab_topv idiom).
    *
    * Scale shape: the token stream is aggregated twice, both
    * partial-aggregatable map-side — once to the `nBuckets`-row rate
    * table (broadcast back: tokens never shuffle for the probe, the
    * oov_rate pattern), once to per-doc score sums (shuffle carries
    * O(docs) partial rows). At 100 TB the 10⁹ nano-rate multiplier
    * bounds c·10⁹ < 2⁶³ up to ~9×10⁹ tokens per bucket; past that,
    * drop to 10⁶ micro-units or widen to DECIMAL(38,0) — the
    * comparison semantics are unchanged.
    */
  def dsirSelect(spark: SparkSession, sfDir: String,
                 nBuckets: Int = 10000, topK: Int = 100,
                 targetSources: Seq[String] =
                   Seq("src0", "src1", "src2", "src3")): DataFrame = {
    import spark.implicits._
    val inTarget =
      s"source in (${targetSources.map(s => s"'$s'").mkString(", ")})"
    val toks = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "source",
        s"explode(${TextHash.tokensSpark}) as tok")
      .selectExpr("doc_id", "source", s"poly_hash(tok) % $nBuckets as b")
    val rates = toks.groupBy($"b").agg(
      sum(expr(s"case when $inTarget then 1 else 0 end")).as("c_t"),
      count(lit(1)).as("c_r"))
    val tot = rates.agg(sum($"c_t").as("t_t"), sum($"c_r").as("t_r"))
    val w = rates.crossJoin(broadcast(tot))
      .selectExpr("b",
        "c_t * 1000000000 div t_t - c_r * 1000000000 div t_r as wq")
    val scores = toks.where(expr(s"not ($inTarget)"))
      .join(broadcast(w), "b")
      .groupBy($"doc_id", $"source")
      .agg(sum($"wq").as("score_q"), count(lit(1)).as("n_tokens"))
      .selectExpr("doc_id", "source", "n_tokens", "score_q",
        "cast(score_q as double) / n_tokens as score")
    scores.orderBy($"score".desc, $"doc_id".asc).limit(topK)
      .withColumn("sel_rank", row_number().over(
        Window.orderBy($"score".desc, $"doc_id".asc)).cast("int"))
      .orderBy($"sel_rank")
  }

  def dsirSelectOracle(nBuckets: Int = 10000, topK: Int = 100,
                       targetSources: Seq[String] =
                         Seq("src0", "src1", "src2", "src3")): String = {
    val inTarget =
      s"source IN (${targetSources.map(s => s"'$s'").mkString(", ")})"
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         unnest(list_filter(string_split_regex(text, '\\s+'),
       |                            t0 -> t0 <> '')) AS tok
       |  FROM documents
       |), tb AS (
       |  SELECT doc_id, source, ${phDuck("tok", "db")} % $nBuckets AS b
       |  FROM toks
       |), rates AS (
       |  SELECT b,
       |         CAST(sum(CASE WHEN $inTarget THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(count(*) AS BIGINT) AS c_r
       |  FROM tb GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(c_t) AS BIGINT) AS t_t,
       |         CAST(sum(c_r) AS BIGINT) AS t_r FROM rates
       |), w AS (
       |  SELECT b, c_t * 1000000000 // t_t - c_r * 1000000000 // t_r AS wq
       |  FROM rates CROSS JOIN tot
       |), scores AS (
       |  SELECT t.doc_id, t.source,
       |         CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(w.wq) AS BIGINT) AS score_q
       |  FROM tb t JOIN w ON t.b = w.b
       |  WHERE NOT ($inTarget)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT doc_id, source, n_tokens, score_q,
       |         CAST(score_q AS DOUBLE) / n_tokens AS score,
       |         CAST(row_number() OVER (
       |           ORDER BY CAST(score_q AS DOUBLE) / n_tokens DESC,
       |                    doc_id ASC) AS INT) AS sel_rank
       |  FROM scores
       |)
       |SELECT doc_id, source, n_tokens, score_q, score, sel_rank
       |FROM ranked WHERE sel_rank <= $topK ORDER BY sel_rank""".stripMargin
  }

  /** Deterministic seeded training-order shuffle — the step between
    * corpus prep and sequence packing: pretraining consumes documents
    * in a random-but-reproducible global order (a sorted-by-source
    * corpus destroys i.i.d.-ness within a batch). The order is the
    * lexicographic (shard, pos) pair from a SEEDED content hash:
    * `poly_hash(doc_id || '@seed')` assigns the shard (uniform mod
    * nShards) and orders documents inside it — so the shuffle is
    * stable across runs, engines and cluster sizes, a new document
    * never perturbs the relative order of old ones, and the next
    * epoch's reshuffle is just a new seed. No RNG state anywhere.
    *
    * Scale shape: the hash is a narrow map; the within-shard rank is a
    * window partitioned by shard, where nShards is chosen so one shard
    * ≈ one output file (100 TB → O(10⁴–10⁵) shards), keeping every
    * window partition bounded — this window IS the shuffle-then-local-
    * sort a training-data writer wants (one sorted file per shard). If
    * a single global sequence number is ever needed, the (shard, pos)
    * pair already totally orders the corpus, and the two-pass prefix
    * sum over shard totals ([[Packing.seqPack]]'s idiom) converts it
    * without a global sort.
    */
  def corpusShuffle(spark: SparkSession, sfDir: String,
                    nShards: Int = 8, seed: Int = 42): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id",
        s"poly_hash(concat(cast(doc_id as string), '@$seed')) as h")
      .selectExpr("doc_id", "h", s"cast(h % $nShards as int) as shard")
      .withColumn("pos", row_number().over(
        Window.partitionBy($"shard").orderBy($"h".asc, $"doc_id".asc)).cast("int"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  def corpusShuffleOracle(nShards: Int = 8, seed: Int = 42): String =
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |         ${phDuck(s"CAST(doc_id AS VARCHAR) || '@$seed'", "cshf")} AS h
       |  FROM documents
       |)
       |SELECT doc_id, CAST(h % $nShards AS INT) AS shard,
       |       CAST(row_number() OVER (PARTITION BY h % $nShards
       |                               ORDER BY h ASC, doc_id ASC) AS INT) AS pos
       |FROM hashed ORDER BY shard, pos""".stripMargin

  val corpusSampleOracle: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, lang,
       |         ${phDuck("CAST(doc_id AS VARCHAR)", "hh")} AS h
       |  FROM documents
       |), tagged AS (
       |  SELECT doc_id, lang, h,
       |         CASE WHEN h % 100 < 90 THEN 'train'
       |              WHEN h % 100 < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM hashed
       |), ranked AS (
       |  SELECT doc_id, lang, split,
       |         row_number() OVER (PARTITION BY lang, split
       |                            ORDER BY h ASC, doc_id ASC) AS smp_rank
       |  FROM tagged
       |)
       |SELECT doc_id, lang, split, CAST(smp_rank AS INT) AS smp_rank
       |FROM ranked WHERE smp_rank <= 50 ORDER BY doc_id""".stripMargin
}
